package graft

import org.apache.spark.sql.functions._
import graft.ops.{BoundedMinK, GraphOps, Par}

/** Scratch phase-timing harness for the optimization round (not part of the
  * bench contract; delete or keep as a tool). Times labelled sub-phases of
  * the hot queries back-to-back in one JVM. */
object OptLab {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"OPTLAB $label%-40s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = kg.KgPipeline.session(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    val which = if (args.nonEmpty) args(0) else "finalplan"
    val reps =
      if (args.length > 1 && args(1).forall(_.isDigit)) args(1).toInt else 2

    which match {
      case "kgem" =>
        import graft.kg.{EntityLinking, Materialize, Model, PagesSource, TripleExtraction}
        import graft.ops.SkewOps
        val stageBase = java.nio.file.Paths.get("/dev/shm/graft-bench")
        java.nio.file.Files.createDirectories(stageBase)
        val stageDir =
          java.nio.file.Files.createTempDirectory(stageBase, "optlab-").toString
        Materialize.write(
          TripleExtraction.run(
            PagesSource.pages(spark, PagesSource.countForSfDir(sfDir))).toDF(),
          stageDir)
        for (rep <- 1 to reps) {
          println(s"--- rep $rep")
          import spark.implicits._
          def staged = Materialize.readTriples(spark, stageDir)
            .drop("bucket").as[Model.TripleRow]
          time("staged read count") { staged.count() }
          val men = EntityLinking.mentions(staged)
          time("mentions count") { men.count() }
          time("distinct surfaces collect") {
            men.select(col("surface")).distinct().limit(2000001).as[String].collect().length
          }
          val linked = EntityLinking.run(staged)
          time("linked count") { linked.count() }
          time("full salted count") {
            SkewOps.entityMentionCounts(EntityLinking.run(staged)).count()
          }
        }
        Bench.rmTree(new java.io.File(stageDir))
      case "edge" =>
        for (rep <- 1 to reps) {
          println(s"--- rep $rep")
          val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
          time("lineitem distinct (g,it) count") {
            li.select(col("l_orderkey").as("g"), col("l_partkey").cast("long").as("it"))
              .distinct().count()
          }
          val minK = udaf(new BoundedMinK(GraphOps.GROUP_CAP))
          val mk = li
            .select(col("l_orderkey").as("g"), col("l_partkey").cast("long").as("it"))
            .distinct()
            .groupBy(col("g")).agg(minK(col("it")).as("mk"))
            .select(col("mk").getField("ids").as("items"))
          time("minK agg count") { mk.count() }
          val pairs = mk
            .select(posexplode(col("items")).as(Seq("i", "u")), col("items"))
            .select(col("u"),
              explode(slice(col("items"), col("i") + lit(2), size(col("items"))))
                .as("v"))
          time("pairs (pre-distinct) count") { pairs.count() }
          time("pairs distinct count") { pairs.distinct().count() }
        }
      case "edge2" =>
        // marginal cost of the final pair distinct, bench-shaped (widened):
        // collect distinct pairs vs collect raw pairs + driver-side dedup
        for (rep <- 1 to reps) {
          println(s"--- rep $rep")
          import spark.implicits._
          def pairs = {
            val minK = udaf(new BoundedMinK(GraphOps.GROUP_CAP))
            Par.widen(
                spark.read.parquet(s"$sfDir/lineitem.parquet")
                  .select(col("l_orderkey").as("g"),
                    col("l_partkey").cast("long").as("it")),
                col("g"))
              .distinct()
              .groupBy(col("g")).agg(minK(col("it")).as("mk"))
              .select(col("mk").getField("ids").as("items"))
              .select(posexplode(col("items")).as(Seq("i", "u")), col("items"))
              .select(col("u"),
                explode(slice(col("items"), col("i") + lit(2), size(col("items"))))
                  .as("v"))
          }
          time("collect distinct pairs") {
            val n = pairs.distinct().as[(Long, Long)].collect().length
            println(s"    distinct pairs: $n")
          }
          time("collect raw pairs + driver dedup") {
            val ev = pairs.as[(Long, Long)].collect()
            val n = ev.distinct.length
            println(s"    raw ${ev.length} -> distinct $n")
          }
        }
      case "finalplan" =>
        // execute a query and report duplicated-subtree evidence from the
        // FINAL adaptive plan (post-collect; AQE reuse only shows there)
        val names = if (args.length > 2) args(2).split(",").toSeq else Seq("dedup_simhash")
        names.foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          time(s"$name collect") { df.collect().length }
          val full = df.queryExecution.executedPlan.toString
          val fin = full.split("== Initial Plan ==")(0)
          def c(p: String) = p.r.findAllIn(fin).length
          println(s"OPTLAB $name FINAL plan: scans=${c("Scan parquet")} " +
            s"mapPartitions=${c("MapPartitions")} exchanges=${c("Exchange")} " +
            s"reused=${c("ReusedExchange")} bhj=${c("BroadcastHashJoin")}")
        }
      case _ => sys.error(s"unknown phase set '$which'")
    }
    spark.stop()
  }
}
