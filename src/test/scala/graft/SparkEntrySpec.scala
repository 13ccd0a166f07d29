package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.SparkTestSession

/** The driver contract: the entry point and the queries the driver calls
  * first must return rows. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("kg queries tolerate an unknown sf dir (default page count)") {
    assert(SparkEntry.queries("kg_triples")(spark, "/no/such/dir").count() > 0)
  }

  test("q1_agg returns its 6 groups at sf0.001") {
    assert(SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.001").count() == 6)
  }
}
