package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, countDistinct}
import graft.kg._
import graft.ops.SkewOps
import graft.turtle.{Ast, TripleProducer, TurtleParser, TurtleSerializer}

/** The profiling main: every measurement outside [[Bench]]'s JSON, one
  * subcommand each, over one session helper, one timer and one steal reader.
  * Each timed region prints `PROBE <subcommand> <label> secs=… steal=…`, plus
  * `n=… per_s=…` when it returns a count. Spark output goes to a temp dir
  * under `/dev/shm/graft-bench` (tmpfs: measures the engine, not the overlay
  * fs), removed when the subcommand ends. `runMain graft.Probe <subcommand>`:
  *  - `turtle`: pure-JVM parse / produce / render / parse+produce rounds of
  *    2000 reps over the production-safe fixture corpus on one core; n counts
  *    chars (parse, render) or triples (produce, parse+produce). `turtle dump
  *    <dir>` writes that corpus out for the reference binary (refgen refbench).
  *  - `parse|synth|write [pages] [cpusCsv]`: one stage at several `local[c]`
  *    levels in one JVM, two reps after a 20k-page warm-up: `parse` counts
  *    synthesize → extract → parse → produce, `synth` times page synthesis
  *    then `parse`, `write` times `Materialize.write` of the canonical
  *    triples. Default 2M pages at 8,16,32 (`parse`) or 8,32.
  *  - `preview [pagesCsv] [cpus]`: `KgPipeline.run` per page count, then
  *    [[stages]] at the largest (default 4M,12M,40M at local[32]).
  *  - `cluster profile|parse [pages] [coresPerWorker] [memMb]`: [[stages]],
  *    or three parse passes (the first absorbs executor JIT), on 2-, 8-, 2-
  *    and 8-worker local-cluster sessions (default 2M pages, 4 cores, 8 GB).
  *  - `writecluster [pages] [reps]`: `Materialize.write` alone on 1- vs
  *    4-worker local-cluster sessions over one staged canonical table, with
  *    per-task metric sums and pair efficiency (default 2M pages, 2 reps).
  *  - `queries [reps] [q,...]`: [[SparkEntry.queries]], reps interleaved so
  *    a suspect and its controls share the weather, then a median line each.
  *    `kg_entity_mentions` links the staged triple table, as Bench does.
  *  - `plan <dir> <suffix> <q,...>`: `explain("formatted")` of each query to
  *    `<dir>/<query>_<suffix>.txt`.
  *  - `finalplan [q,...]`: duplicated-subtree evidence from the FINAL
  *    adaptive plan. `kgem [reps]`: the kg_entity_mentions chain by phase.
  * The query subcommands run at `local[SPARK_GRAFT_CPUS]` (default 32) over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), the bench's query-phase shape.
  */
object Probe {
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
  private var cmd = ""

  /** Runs `f` once and prints its wall-clock with the host steal fraction
    * over the same window; returns the result and the seconds. */
  private def time[A](label: String)(f: => A): (A, Double) = {
    val (s0, j0) = Bench.cpuJiffies()
    val t0 = System.nanoTime()
    val r = f
    val secs = (System.nanoTime() - t0) / 1e9
    val (s1, j1) = Bench.cpuJiffies()
    val steal = (s1 - s0).toDouble / math.max(1L, j1 - j0)
    val count = r match {
      case n: Long => f" n=$n per_s=${n / secs}%.0f"
      case _ => ""
    }
    println(f"PROBE $cmd $label secs=$secs%.3f steal=$steal%.3f$count")
    (r, secs)
  }

  private def withSession[A](open: => SparkSession)(f: SparkSession => A): A = {
    val spark = open
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  private def local[A](threads: Int, shufflePartitions: Int)(f: SparkSession => A): A =
    withSession(KgPipeline.session(s"local[$threads]", shufflePartitions))(f)

  private def withTmp[A](prefix: String)(f: String => A): A = {
    val base = Paths.get("/dev/shm/graft-bench")
    Files.createDirectories(base)
    val dir = Files.createTempDirectory(base, prefix).toString
    try f(dir) finally Bench.rmTree(new java.io.File(dir))
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))

  /** Writes the sf-sized triple table once and hands `f` a reader of it:
    * every consumer reads identical bytes (the deployment shape: link over
    * materialized triples, not a re-parse). */
  private def withStaged[A](spark: SparkSession)(
      f: (SparkSession => Dataset[Model.TripleRow]) => A): A = withTmp("staged-") { dir =>
    Materialize.write(TripleExtraction.run(
      PagesSource.pages(spark, PagesSource.countForSfDir(sfDir))).toDF(), dir)
    f(s => Materialize.readTriples(s, dir).drop("bucket").as(Encoders.product[Model.TripleRow]))
  }

  private def canonical(triples: Dataset[Model.TripleRow]): DataFrame =
    Canonicalize.canonicalizeTriples(triples,
      Canonicalize.connectedComponents(Canonicalize.sameAsEdges(triples)))

  /** Stage attribution over `n` pages: parse → link → cc → materialize →
    * components. The triple stream stays lazy (too big to pin), so the link,
    * cc and materialize rows each include one re-parse: subtract the parse
    * row to isolate a stage. The vocabulary-scale CC labels are checkpointed,
    * so the materialize row excludes a second CC fixpoint. */
  private def stages(spark: SparkSession, n: Long, tag: String): Unit =
    withTmp("stage-") { out =>
      val triples = TripleExtraction.run(PagesSource.pages(spark, n))
      time(s"$tag parse")(triples.count())
      time(s"$tag link")(EntityLinking.run(triples).count())
      val (labels, _) = time(s"$tag cc") {
        Canonicalize.connectedComponents(Canonicalize.sameAsEdges(triples))
          .localCheckpoint()
      }
      time(s"$tag materialize")(
        Materialize.write(Canonicalize.canonicalizeTriples(triples, labels), out))
      time(s"$tag components")(
        labels.agg(countDistinct(col("canonical"))).head().getLong(0))
    }

  private def turtle(args: Seq[String]): Unit = {
    val docs = FixtureCorpus.productionSafe
    if (args.headOption.contains("dump")) {
      val dir = Paths.get(args(1))
      Files.createDirectories(dir)
      for ((d, i) <- docs.zipWithIndex) Files.write(dir.resolve(f"doc$i%03d.ttl"), d.getBytes(UTF_8))
      println(s"dumped ${docs.size} docs to $dir")
      return
    }
    val parsed = docs.map(d => TurtleParser.parseFull(d).toOption.get)
    println(s"PROBE turtle corpus docs=${docs.size} chars=${docs.map(_.length).sum}")
    (1 to 300).foreach(_ => docs.foreach(TurtleParser.parseFull)) // JIT warm-up
    def rounds(name: String, count: Int)(perDoc: Int => Long): Unit =
      for (round <- 1 to count) time(s"$name round=$round") {
        var units = 0L
        for (_ <- 1 to 2000; i <- docs.indices) units += perDoc(i)
        units
      }
    def triples(d: Ast.TurtleDoc): Long = TripleProducer.produce(d).map(_.size.toLong).getOrElse(0L)
    rounds("parse", 2) { i => TurtleParser.parseFull(docs(i)); docs(i).length.toLong }
    rounds("produce", 2)(i => triples(parsed(i)))
    rounds("render", 2)(i => TurtleSerializer.render(parsed(i)).length.toLong)
    rounds("parse+produce", 3)(i => TurtleParser.parseFull(docs(i)).map(triples).getOrElse(0L))
  }

  private def levels(n: Long, levels: Seq[Int]): Unit = {
    val runs = (0, levels.max) +: (for (rep <- 1 to 2; c <- levels) yield (rep, c))
    for ((rep, c) <- runs) local(c, 2 * c) { spark =>
      val pages = if (rep == 0) 20000L else n
      val tag = s"rep=$rep cpus=$c pages=$pages"
      if (cmd == "synth") time(s"$tag synth")(PagesSource.pages(spark, pages).count())
      val triples = TripleExtraction.run(PagesSource.pages(spark, pages))
      if (cmd == "write") withTmp("ws-") { out =>
        val table = canonical(triples) // CC runs here, outside the timed write
        time(s"$tag write")(Materialize.write(table, out))
      } else time(s"$tag parse")(triples.count())
    }
  }

  private def preview(levels: Seq[Long], threads: Int): Unit =
    local(threads, 2 * threads) { spark =>
      withTmp("warm-")(KgPipeline.run(spark, 20000, _)) // JIT: every level shares this JVM
      for (n <- levels) withTmp(s"run-$n-") { out =>
        val (r, secs) = time(s"pages=$n run")(KgPipeline.run(spark, n, out))
        println(f"PROBE $cmd pages=$n triples=${r.triples} " +
          f"triples_per_s=${r.triples / secs}%.0f linked=${r.linkedMentions} " +
          s"components=${r.components}")
      }
      stages(spark, levels.max, s"pages=${levels.max}")
    }

  private def clusterStages(mode: String, n: Long, coresPerWorker: Int, memMb: Int): Unit = {
    require(mode == "profile" || mode == "parse", s"cluster mode '$mode' is not profile|parse")
    for (w <- Seq(2, 8, 2, 8))
      withSession(ClusterScale.session(w, coresPerWorker, memMb)) { spark =>
        if (mode == "profile") stages(spark, n, s"w=$w")
        else {
          val triples = TripleExtraction.run(PagesSource.pages(spark, n))
          for (pass <- 1 to 3) time(s"w=$w parse pass=$pass")(triples.count())
        }
      }
  }

  private def writeCluster(n: Long, reps: Int): Unit = withTmp("wsc-stage-") { stagedDir =>
    // staged once, locally: every timed write reads identical bytes
    local(16, 32) { spark =>
      canonical(TripleExtraction.run(PagesSource.pages(spark, n)))
        .write.mode("overwrite").parquet(stagedDir)
    }
    // interleaved pairs; each session writes once untimed (fresh executor
    // JVMs), then once timed with per-task metric sums
    val secs = for (_ <- 1 to reps; w <- Seq(1, 4))
      yield withSession(ClusterScale.session(w, 1, 8192)) { spark =>
        // left to the default 128 MB split size the staged dir scans as ~3
        // partitions and the probe measures task-granularity luck, not the
        // write path; 16 MB splits give every worker count >= 4 tasks per core
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
        val input = spark.read.parquet(stagedDir)
        withTmp(s"wsc-$w-")(Materialize.write(input, _))
        val acc = new MetricsAccumulator
        spark.sparkContext.addSparkListener(acc)
        val (_, dt) = withTmp(s"wsc-$w-")(out => time(s"w=$w write")(Materialize.write(input, out)))
        // the listener bus is async and its drain API is private[spark]; every
        // task ended before write() returned, so a short sleep flushes it
        Thread.sleep(2000)
        spark.sparkContext.removeSparkListener(acc)
        println(s"PROBE $cmd w=$w task_sums ${acc.report}")
        (w, dt)
      }
    val (one, four) = secs.partition(_._1 == 1)
    one.zip(four).foreach { case ((_, t1), (_, t4)) =>
      println(f"PROBE $cmd pair eff=${t1 / (4.0 * t4)}%.3f 1w=$t1%.2f 4w=$t4%.2f")
    }
  }

  private def queries(reps: Int, names: Seq[String]): Unit = local(cpus, cpus) { spark =>
    withStaged(spark) { staged =>
      val fns = names.map {
        case "kg_entity_mentions" => "kg_entity_mentions" ->
          ((s: SparkSession, _: String) =>
            SkewOps.entityMentionCounts(EntityLinking.run(staged(s))))
        case name => name -> query(name)
      }
      fns.foreach { case (_, fn) => fn(spark, sfDir).count() } // warm-up: JIT + parquet footers
      val times = for (rep <- 1 to reps; (name, fn) <- fns)
        yield name -> time(s"rep=$rep $name")(fn(spark, sfDir).count())._2
      for ((name, _) <- fns) {
        val v = times.collect { case (`name`, t) => t }.sorted
        println(f"PROBE $cmd $name median=${v(v.length / 2)}%.3f best=${v.head}%.3f " +
          f"worst=${v.last}%.3f")
      }
    }
  }

  private def plan(dir: String, suffix: String, names: Seq[String]): Unit =
    local(cpus, cpus) { spark =>
      Files.createDirectories(Paths.get(dir))
      names.foreach { name =>
        val plan = query(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        val file = Paths.get(dir, s"${name}_$suffix.txt")
        Files.write(file, plan.getBytes(UTF_8))
        println(s"wrote $file (${plan.length} chars)")
      }
    }

  private def finalPlan(names: Seq[String]): Unit = local(cpus, cpus) { spark =>
    names.foreach { name =>
      val df = query(name)(spark, sfDir)
      time(s"$name collect")(df.collect().length.toLong)
      // AQE exchange reuse only shows in the final plan, after execution
      val fin = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      def c(p: String) = p.r.findAllIn(fin).length
      println(s"PROBE $cmd $name FINAL plan: scans=${c("Scan parquet")} " +
        s"mapPartitions=${c("MapPartitions")} exchanges=${c("Exchange")} " +
        s"reused=${c("ReusedExchange")} bhj=${c("BroadcastHashJoin")}")
    }
  }

  private def kgem(reps: Int): Unit = local(cpus, cpus) { spark =>
    withStaged(spark) { staged =>
      for (rep <- 1 to reps) {
        time(s"rep=$rep staged read count")(staged(spark).count())
        val men = EntityLinking.mentions(staged(spark))
        time(s"rep=$rep mentions count")(men.count())
        time(s"rep=$rep distinct surfaces collect") {
          men.select(col("surface")).distinct().limit(2000001).as(Encoders.STRING).collect()
            .length.toLong
        }
        val linked = EntityLinking.run(staged(spark)) // builds the surface map, untimed
        time(s"rep=$rep linked count")(linked.count())
        time(s"rep=$rep full salted count") {
          SkewOps.entityMentionCounts(EntityLinking.run(staged(spark))).count()
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    cmd = args.headOption.getOrElse("")
    def arg(i: Int, default: String): String = if (args.length > i) args(i) else default
    def csv(i: Int, default: String): Seq[String] =
      arg(i, default).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    cmd match {
      case "turtle" => turtle(args.toSeq.drop(1))
      case "parse" | "synth" | "write" =>
        levels(arg(1, "2000000").toLong,
          csv(2, if (cmd == "parse") "8,16,32" else "8,32").map(_.toInt))
      case "preview" =>
        preview(csv(1, "4000000,12000000,40000000").map(_.toLong), arg(2, "32").toInt)
      case "cluster" =>
        clusterStages(arg(1, "profile"), arg(2, "2000000").toLong, arg(3, "4").toInt,
          arg(4, "8192").toInt)
      case "writecluster" => writeCluster(arg(1, "2000000").toLong, arg(2, "2").toInt)
      case "queries" =>
        queries(arg(1, "5").toInt, csv(2, "kg_entity_mentions,q1_agg,dedup_minhash"))
      case "plan" =>
        require(args.length >= 4, "usage: Probe plan <dir> <suffix> <q1,q2,...>")
        plan(args(1), args(2), csv(3, ""))
      case "finalplan" => finalPlan(csv(1, "dedup_simhash"))
      case "kgem" => kgem(arg(1, "2").toInt)
      case _ => sys.error(s"unknown subcommand '$cmd': turtle | parse | synth | write | " +
        "preview | cluster | writecluster | queries | plan | finalplan | kgem")
    }
  }
}

/** Sums the task metrics that attribute a write's wall time: executor
  * run/cpu/GC, shuffle fetch wait + remote/local bytes, shuffle write. */
private class MetricsAccumulator extends SparkListener {
  private val m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def add(k: String, v: Long): Unit = { m.merge(k, v, (a, b) => a + b); () }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val tm = te.taskMetrics
    if (tm != null) {
      add("run_ms", tm.executorRunTime)
      add("cpu_ms", tm.executorCpuTime / 1000000L)
      add("gc_ms", tm.jvmGCTime)
      add("fetch_wait_ms", tm.shuffleReadMetrics.fetchWaitTime)
      add("remote_mb", tm.shuffleReadMetrics.remoteBytesRead / (1 << 20))
      add("local_mb", tm.shuffleReadMetrics.localBytesRead / (1 << 20))
      add("shuf_write_mb", tm.shuffleWriteMetrics.bytesWritten / (1 << 20))
      add("shuf_write_ms", tm.shuffleWriteMetrics.writeTime / 1000000L)
      add("tasks", 1L)
    }
  }
  def report: String = {
    import scala.jdk.CollectionConverters._
    m.asScala.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }
}
