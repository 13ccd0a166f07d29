package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg._
import graft.kg.Model._

/** One run of a workload's timed batch job: the triples its throughput
  * counts, and its output checks, run after the clock stops. */
final case class Job(triples: Long, check: () => Seq[String])

/** A workload: set-up that makes fresh inputs, and one batch job through the
  * program's public entry points. */
abstract class Workload(val spark: SparkSession, val work: Path) {
  /** Make fresh inputs for [[job]] (set-up work). */
  def prepare(): Unit
  /** The timed batch job. */
  def job(): Job
  /** UTF-8 bytes of Turtle in the corpus behind [[job]]. */
  def turtleBytes: Long
  /** The pages behind [[job]], for the traced layered pass. */
  def pages: Dataset[Page]
  /** Spans of the layered pass that together do [[job]]'s work. */
  def ownSpans: Seq[String]

  protected def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  protected def parts: Int = 4 * spark.sparkContext.defaultParallelism
}

object Workload {
  val Names = Seq("kg_build", "turtle_heavy")

  def apply(name: String, spark: SparkSession, work: Path, seed: Long): Workload =
    name match {
      case "kg_build"     => new KgBuild(spark, work)
      case "turtle_heavy" => new TurtleHeavy(spark, work, seed)
    }
}

object Fs {
  private var seq = 0

  def fresh(parent: Path, tag: String): Path = synchronized {
    seq += 1
    Files.createDirectories(parent)
    parent.resolve(s"$tag-$seq")
  }

  def delete(p: Path): Unit = if (p != null && Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
}

/** `kg_build`: the paper's job, `KgPipeline.run` over the default synthetic
  * corpus. `KgPipeline.run` takes no generated input, so the corpus is the
  * one `PagesSource` fixes (seed 42, a function of the row index). */
final class KgBuild(spark: SparkSession, work: Path) extends Workload(spark, work) {
  import spark.implicits._

  val Pages = 20000L
  // totals of the seed corpus at `Pages` pages
  val Triples = 105505L
  val Errors = 419L
  val Linked = 36979L
  val Components = 1358L

  var turtleBytes = 0L

  def prepare(): Unit =
    turtleBytes = (0L until Pages).iterator
      .map(i => PagesSource.payloads(i).map(_.getBytes(UTF_8).length.toLong).sum).sum

  def job(): Job = {
    val out = Fs.fresh(work, "kg_build")
    val r = KgPipeline.run(spark, Pages, out.toString)
    Job(r.triples, () =>
      try {
        val lineageRows = r.lineage.agg(sum($"triples" + $"errors")).head().getLong(0)
        expect("triples", r.triples, Triples) ++ expect("errors", r.errors, Errors) ++
          expect("linked mentions", r.linkedMentions, Linked) ++
          expect("components", r.components, Components) ++
          expect("lineage rows vs readTriples count", lineageRows,
            Materialize.readTriples(spark, out.toString).count())
      } finally Fs.delete(out))
  }

  def pages: Dataset[Page] = PagesSource.pages(spark, Pages)

  val ownSpans = Seq("link", "cc", "write")
}

/** `turtle_heavy`: pages whose blocks are whole fixtures, every fixture the
  * same number of times (so every seed does the same work), shuffled into
  * pages by the seed. Includes the large ontologies `PagesSource` leaves out
  * and the reference's refused set, which yields error rows. */
final class TurtleHeavy(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work) {
  import spark.implicits._

  val Copies = 300
  val BlocksPerPage = 4

  private val fixtures = FixtureCorpus.all
  private val blocks = fixtures.size * Copies
  private val nPages = blocks / BlocksPerPage
  require(blocks % BlocksPerPage == 0)

  /** (triples, error rows) each fixture must yield, from the frozen
    * reference goldens: distinct golden lines (one triple per `\n`-ended
    * line), or one error row for a fixture the reference refuses (it has no
    * golden). A block with no triples yields no row at all. */
  private val perFixture: Vector[(Long, Long)] = fixtures.map { case (name, _) =>
    val g = Paths.get("src/test/resources/goldens/triples", name.replace('/', '_') + ".tsv")
    if (!Files.exists(g)) (0L, 1L)
    else (new String(Files.readAllBytes(g), UTF_8).split("\n").filter(_.nonEmpty)
      .distinct.length.toLong, 0L)
  }
  private val expectedHist: Map[(Long, Long), Long] =
    perFixture.filter(_ != ((0L, 0L))).groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong * Copies }

  val turtleBytes: Long = Copies * fixtures.map(_._2.getBytes(UTF_8).length.toLong).sum

  private var order: Array[Int] = _

  def prepare(): Unit = order = TurtleHeavy.shuffled(seed, blocks)

  /** Generated inside the tasks, `parts` partitions: many short tasks keep
    * the job from waiting on one straggler when a core is stolen. */
  def pages: Dataset[Page] = {
    val (s, per, o) = (seed, BlocksPerPage, order)
    spark.range(0, nPages, 1, parts)
      .map(i => TurtleHeavy.page(s, i, o.slice((i * per).toInt, ((i + 1) * per).toInt)))
  }

  def job(): Job = {
    val p = pages
    val hist = TripleExtraction.run(p).toDF()
      .groupBy($"url", $"block")
      .agg(count(when($"error".isNull, 1)).as("t"), count(when($"error".isNotNull, 1)).as("e"))
      .groupBy($"t", $"e").count()
      .as[(Long, Long, Long)].collect()
    val rt = TripleExtraction.roundTrip(p).toDF()
      .agg(count(lit(1)), count(when($"parsed" && !$"byte_identical", 1))).head()
    Job(hist.map(h => h._1 * h._3).sum, () =>
      expect("per-block (triples, errors) histogram",
        hist.map(h => (h._1, h._2) -> h._3).toMap, expectedHist) ++
        expect("round-trip blocks", rt.getLong(0), blocks.toLong) ++
        expect("round-trip violations", rt.getLong(1), 0L))
  }

  val ownSpans = Seq("extract", "roundtrip")
}

object TurtleHeavy {
  /** Fixture index of every block, in a seeded Fisher-Yates order. */
  def shuffled(seed: Long, n: Int): Array[Int] = {
    val k = FixtureCorpus.all.size
    val a = Array.tabulate(n)(_ % k)
    var i = n - 1
    while (i > 0) {
      val r = PagesSource.mix64(seed * 0x9E3779B97F4A7C15L + i)
      val j = java.lang.Long.remainderUnsigned(r, i + 1).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  def page(seed: Long, i: Long, fixtureIdx: Array[Int]): Page = {
    val blocks = fixtureIdx.map(FixtureCorpus.all(_)._2)
    val html = new StringBuilder("<html><body>")
    blocks.foreach(b => html.append("<script type=\"text/turtle\">").append(b).append("</script>"))
    html.append("</body></html>")
    Page(s"https://heavy.example/s$seed/page/$i", new Timestamp(946684800000L + i * 1000L),
      html.toString.getBytes(UTF_8), blocks.mkString, "en")
  }
}
