package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg._
import graft.kg.Model._
import graft.turtle.{TripleProducer, TurtleParser, TurtleSerializer}

/** Spans of one traced pass. Each span is one call into a program layer,
  * run under its own Spark job group so [[Meter]] can attribute its tasks;
  * the program itself carries no tracing. */
final class Tracer(spark: SparkSession, meter: Meter, pass: Int) {
  val wall = mutable.LinkedHashMap.empty[String, Double]

  private def group(span: String) = s"$span#$pass"

  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group(name), name)
    val t0 = System.nanoTime()
    try f
    finally {
      wall(name) = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
    }
  }

  /** `spark.<span>.*` metrics of `spans`, and the wall time and executor
    * CPU summed over `own` (the spans that do the untraced job's work). */
  def metrics(spans: Seq[String], own: Seq[String]): Map[String, Double] = {
    meter.drain()
    val perSpan = spans.flatMap { name =>
      val s = meter.stats(group(name))
      val ms = s.taskMs.sorted
      def q(p: Double) = if (ms.isEmpty) 0.0 else ms(((ms.size - 1) * p).round.toInt) / 1e3
      val p = s"spark.$name."
      Seq(p + "cpu_s" -> s.cpuNs / 1e9, p + "gc_s" -> s.gcMs / 1e3,
        p + "shuffle_write_mb" -> s.shuffleWrite / 1e6,
        p + "shuffle_read_mb" -> s.shuffleRead / 1e6,
        p + "fetch_wait_s" -> s.fetchWaitMs / 1e3, p + "spill_mb" -> s.spill / 1e6,
        p + "tasks" -> s.tasks.toDouble, p + "task_p50_s" -> q(0.5),
        p + "task_max_s" -> q(1.0), p + "failed_tasks" -> s.failedTasks.toDouble)
    }
    (perSpan ++ Seq("trace.span_wall_s" -> own.map(wall).sum,
      "trace.span_cpu_s" -> own.map(s => meter.stats(group(s)).cpuNs).sum / 1e9)).toMap
  }
}

/** The layered pass every traced run makes over its workload's data: the
  * same program calls the workloads compose, one forced action per layer,
  * so each layer's time and task metrics are attributable. */
object Layers {

  /** Spans whose `spark.*` metrics the benchmark reports. */
  val Spans = Seq("extract", "roundtrip", "link", "cc", "dcc", "rewrite", "write", "read")

  /** Per-block time in the three `graft.turtle` calls, summed over the
    * corpus in one Spark job: parse ns, produce ns, render ns, bytes,
    * blocks, parse failures, round-trip violations. */
  private def turtleProbe(pages: Dataset[Page]): Array[Long] =
    pages.rdd.mapPartitions { it =>
      val a = new Array[Long](7)
      it.foreach { p =>
        Extract.extractBlocks(p.html).foreach { b =>
          val t0 = System.nanoTime()
          val parsed = TurtleParser.parseFull(b)
          a(0) += System.nanoTime() - t0
          a(3) += b.getBytes(UTF_8).length
          a(4) += 1
          parsed match {
            case Left(_) => a(5) += 1
            case Right(doc) =>
              val t1 = System.nanoTime()
              TripleProducer.produce(doc)
              val t2 = System.nanoTime()
              val back = TurtleSerializer.render(doc)
              a(1) += t2 - t1
              a(2) += System.nanoTime() - t2
              if (back != b) a(6) += 1
          }
        }
      }
      Iterator.single(a)
    }.reduce((x, y) => x.zip(y).map { case (u, v) => u + v })

  private def lng(r: org.apache.spark.sql.Row, i: Int): Long =
    if (r.isNullAt(i)) 0L else r.getLong(i)

  /** Parquet files and bytes under `dir`. */
  private def parquetFiles(dir: Path): (Long, Long) = {
    val s = Files.walk(dir)
    try {
      val fs = s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** Run every layer once over `pages` and the triples they yield; returns
    * layer metrics and failed cross-checks between layers. */
  def pass(spark: SparkSession, tr: Tracer, pages: Dataset[Page],
      out: Path): (Map[String, Double], Seq[String]) = {
    import spark.implicits._
    val triples = TripleExtraction.run(pages)
    val m = mutable.LinkedHashMap.empty[String, Double]
    val bad = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) bad += s"$what: $got != $want"

    val t = tr.span("turtle")(turtleProbe(pages))
    m ++= Seq("turtle.parse_s" -> t(0) / 1e9, "turtle.produce_s" -> t(1) / 1e9,
      "turtle.render_s" -> t(2) / 1e9,
      "turtle.parse_mb_per_s_core" -> (if (t(0) == 0) 0.0 else t(3) / 1e6 / (t(0) / 1e9)),
      "turtle.docs" -> t(4).toDouble, "turtle.parse_failures" -> t(5).toDouble,
      "turtle.roundtrip_violations" -> t(6).toDouble)

    val ex = tr.span("extract")(triples.toDF()
      .agg(count(lit(1)), count(when($"error".isNotNull, 1))).head())
    m ++= Seq("extract.pass_s" -> tr.wall("extract"),
      "extract.rows" -> lng(ex, 0).toDouble, "extract.error_rows" -> lng(ex, 1).toDouble)

    val rt = tr.span("roundtrip")(TripleExtraction.roundTrip(pages).toDF()
      .agg(count(lit(1)), count(when(!$"parsed", 1)),
        count(when($"parsed" && !$"byte_identical", 1))).head())
    expect("roundTrip blocks vs turtle probe", lng(rt, 0), t(4))
    expect("roundTrip parse failures vs turtle probe", lng(rt, 1), t(5))
    expect("roundTrip violations vs turtle probe", lng(rt, 2), t(6))

    tr.span("link")(EntityLinking.run(triples).count())
    val methods = EntityLinking.mentions(triples).select($"surface").distinct()
      .join(EntityLinking.run(triples).select($"surface", $"method").distinct(),
        Seq("surface"), "left")
      .groupBy($"method").count().as[(String, Long)].collect().toMap
    m ++= Seq("link.s" -> tr.wall("link"),
      "link.distinct_surfaces" -> methods.values.sum.toDouble,
      "link.exact" -> methods.getOrElse("exact", 0L).toDouble,
      "link.lsh" -> methods.getOrElse("lsh", 0L).toDouble,
      "link.unlinked" -> methods.getOrElse(null, 0L).toDouble)

    val edges = Canonicalize.sameAsEdges(triples)
    val (labels, components) = tr.span("cc") {
      val l = Canonicalize.connectedComponents(edges)
      (l, lng(l.agg(countDistinct($"canonical")).head(), 0))
    }
    val dcc = tr.span("dcc")(Canonicalize.distributedCC(edges)
      .agg(count(lit(1)), countDistinct($"canonical")).head())
    expect("distributed CC vertices vs local CC", lng(dcc, 0), labels.count())
    expect("distributed CC components vs local CC", lng(dcc, 1), components)
    m ++= Seq("canon.cc_s" -> tr.wall("cc"), "canon.distributed_cc_s" -> tr.wall("dcc"),
      "canon.distinct_edges" -> edges.distinct().count().toDouble,
      "canon.components" -> components.toDouble)

    val rewritten = tr.span("rewrite")(Canonicalize.canonicalizeTriples(triples, labels)
      .groupBy($"pred").count().agg(sum($"count")).head())
    val rows = lng(ex, 0)
    expect("canonicalized rows vs extracted rows", lng(rewritten, 0), rows)
    m += "canon.rewrite_s" -> tr.wall("rewrite")

    val lineage = tr.span("write")(Materialize.write(
      Canonicalize.canonicalizeTriples(triples, labels), out.toString)
      .as[(Int, Long, Long, Long, Long)].collect())
    val written = lineage.map(r => r._4 + r._5).sum
    val perBucket = lineage.map(_._4).sorted
    val (files, bytes) = parquetFiles(out.resolve("triples"))
    m ++= Seq("materialize.write_s" -> tr.wall("write"),
      "materialize.mb_written" -> bytes / 1e6, "materialize.files" -> files.toDouble,
      "materialize.bucket_skew" ->
        (if (perBucket.isEmpty || perBucket(perBucket.size / 2) == 0) 0.0
         else perBucket.last.toDouble / perBucket(perBucket.size / 2)))

    val read = tr.span("read") {
      val df = Materialize.readTriples(spark, out.toString).drop("bucket")
      df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
    }
    expect("lineage rows vs extracted rows", written, rows)
    expect("rows read vs lineage", lng(read, 0), written)
    m += "materialize.read_s" -> tr.wall("read")
    (m.toMap, bad.toSeq)
  }
}
