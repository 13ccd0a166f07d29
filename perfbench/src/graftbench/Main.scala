package graftbench

import java.nio.file.Paths
import scala.collection.mutable
import scala.util.control.NonFatal

import graft.kg.KgPipeline

/** The benchmark's JVM side: one closed loop (one batch job at a time, at
  * most one task thread per core) over one workload.
  *
  * Usage: `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  *
  * Set-up runs [[SetupRounds]] rounds of (fresh inputs + one untimed job, so
  * the JIT warms in set-up); `setup_s` is their median. The loop then starts
  * timed jobs until `--seconds` have passed, each preceded by a window
  * control. With `--trace 1` untraced jobs alternate with traced layered
  * passes. Prints one JSON line per sample, then the result line with every
  * metric of the mode.
  */
object Main {
  val SetupRounds = 3

  final case class Sample(wall: Double, cpu: Double, execCpu: Double, triples: Long,
      control: Double, steal: Double)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def json(m: Iterable[(String, Any)]): String = m.map { case (k, v) =>
    val value = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case nested: Seq[(String, Any)] @unchecked => json(nested)
      case x         => x.toString
    }
    "\"" + k + "\":" + value
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt.getOrElse("workload", "")
    if (!Workload.Names.contains(name)) {
      System.err.println(s"unknown --workload '$name'; one of ${Workload.Names.mkString(", ")}")
      sys.exit(2)
    }
    val seed = opt.getOrElse("seed", "1").toLong
    val seconds = opt.getOrElse("seconds", "10").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(".bench_build", "work", s"$name-${ProcessHandle.current().pid()}")
      .toAbsolutePath

    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = KgPipeline.session(s"local[$cores]", 2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    val code =
      try run(Workload(name, spark, work, seed), meter, seconds, trace)
      finally {
        spark.stop()
        Fs.delete(work)
      }
    sys.exit(code)
  }

  def run(wl: Workload, meter: Meter, seconds: Double, trace: Boolean): Int = {
    val spark = wl.spark
    var attempted, failed = 0L
    def attempt(what: String)(f: => Seq[String]): Unit = {
      attempted += 1
      val bad = try f catch { case NonFatal(e) => Seq(s"exception: $e") }
      if (bad.nonEmpty) {
        failed += 1
        bad.foreach(b => System.err.println(s"[graftbench] $what failed: $b"))
      }
    }
    def tidy(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val setup = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      var dt = 0.0
      attempt(s"set-up round $i") {
        wl.prepare()
        val j = wl.job()
        dt = (System.nanoTime() - t0) / 1e9
        j.check()
      }
      tidy()
      if (dt == 0.0) dt = (System.nanoTime() - t0) / 1e9
      println(json(Seq("setup_round" -> i, "setup_s" -> dt)))
      dt
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    var started = 0
    def sample(): Unit = attempt(s"sample ${started + 1}") {
      started += 1
      System.gc()
      val control = Host.control()
      meter.drain()
      val e0 = meter.executorCpuNs
      val s0 = Host.stealTotal
      val c0 = Host.processCpuNs
      val t0 = System.nanoTime()
      val j = wl.job()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (Host.processCpuNs - c0) / 1e9
      val steal = Host.stealFrac(s0, Host.stealTotal)
      meter.drain()
      val s = Sample(wall, cpu, (meter.executorCpuNs - e0) / 1e9, j.triples, control, steal)
      val bad = j.check()
      tidy()
      if (bad.isEmpty) samples += s
      println(json(Seq("sample" -> started, "wall_s" -> s.wall,
        "process_cpu_s" -> s.cpu,
        "executor_cpu_s" -> s.execCpu, "triples" -> s.triples,
        "window_control_s" -> s.control, "window_steal_frac" -> s.steal,
        "checks_ok" -> bad.isEmpty)))
      bad
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
    def tracedPass(): Unit = attempt(s"traced pass ${passes.size + 1}") {
      System.gc()
      val tr = new Tracer(spark, meter, passes.size + 1)
      val out = Fs.fresh(wl.work, "layers")
      val (layers, bad) =
        try Layers.pass(spark, tr, wl.pages, out)
        finally Fs.delete(out)
      tidy()
      passes += layers ++ tr.metrics(Layers.Spans, wl.ownSpans)
      bad
    }

    val start = System.nanoTime()
    while (started == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      sample()
      if (trace) tracedPass()
    }

    meter.drain()
    failed = math.min(attempted, failed + meter.failedTasks)
    def med(f: Sample => Double) = median(samples.map(f).toSeq)

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> median(setup),
        "wall_s" -> med(_.wall),
        "triples_per_s" -> med(s => s.triples / s.wall),
        "turtle_mb_per_s" -> med(s => wl.turtleBytes / 1e6 / s.wall),
        "cpu_s" -> med(_.execCpu),
        "peak_rss_mb" -> Host.peakRssMb)
      else {
        val layers = passes.flatMap(_.keys).distinct.map(k => k -> median(passes.flatMap(_.get(k)).toSeq))
          .toMap
        val untracedWall = med(_.wall)
        val untracedCpu = med(_.execCpu)
        layers.toSeq.sortBy(_._1) ++ Seq(
          "trace.untraced_wall_s" -> untracedWall,
          "trace.untraced_cpu_s" -> untracedCpu,
          "trace.wall_overhead_frac" -> (layers.getOrElse("trace.span_wall_s", Double.NaN) / untracedWall - 1),
          "trace.cpu_overhead_frac" -> (layers.getOrElse("trace.span_cpu_s", Double.NaN) / untracedCpu - 1),
          "window.control_s" -> med(_.control),
          "window.steal_frac" -> med(_.steal))
      }
    println(json(Seq("correct" -> (failed == 0 && samples.nonEmpty),
      "attempted" -> attempted, "failed" -> failed, "samples" -> samples.size,
      "passes" -> passes.size, "metrics" -> metrics)))
    if (samples.isEmpty) 1 else 0
  }
}
