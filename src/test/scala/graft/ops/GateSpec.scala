package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.kg.SparkTestSession

class GateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def pinnedIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("exactly maxRows rows: local gets every row, distributed never runs") {
    import spark.implicits._
    val before = pinnedIds
    var distributedRan = false
    val got = Gate.localOr(spark.range(0, 5).as[Long].repartition(3), 5)(
      rows => rows.sorted.toSeq) { distributedRan = true; Seq.empty[Long] }
    assert(got == Seq(0L, 1L, 2L, 3L, 4L))
    assert(!distributedRan)
    assert(pinnedIds == before, "the local branch must not pin anything")
  }

  test("maxRows + 1 rows: distributed runs, local is never called") {
    import spark.implicits._
    val before = pinnedIds
    var localCalled = false
    val got = Gate.localOr(spark.range(0, 6).as[Long], 5) { _ =>
      localCalled = true; "local"
    }("distributed")
    assert(got == "distributed")
    assert(!localCalled)
    assert(pinnedIds == before, "the distributed branch must not pin anything")
  }

  test("an empty input under maxRows = 0 goes local") {
    import spark.implicits._
    val got = Gate.localOr(spark.emptyDataset[String], 0)(rows => rows.length)(-1)
    assert(got == 0)
    // and one row is already above a zero gate
    assert(Gate.localOr(Seq("x").toDS(), 0)(_ => "local")("distributed") == "distributed")
  }

  test("out-of-range maxRows is rejected and neither branch runs") {
    import spark.implicits._
    val ds = Seq(1, 2, 3).toDS()
    for (bad <- Seq(-1, Int.MinValue, Int.MaxValue)) {
      var ran = false
      intercept[IllegalArgumentException] {
        Gate.localOr(ds, bad) { _ => ran = true }{ ran = true }
      }
      assert(!ran, s"maxRows = $bad evaluated a branch")
    }
  }
}
