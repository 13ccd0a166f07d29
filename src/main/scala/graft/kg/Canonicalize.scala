package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import Model.TripleRow
import graft.ops.GraphOps

/** Entity canonicalization via connected components over owl:sameAs edges
  * (SURVEY.md §2.5): every vertex is labeled with the smallest IRI of its
  * component (UTF-8 byte order, the order Spark's `min` applies), which
  * becomes the canonical id. The algorithm, its convergence bound
  * (O(log diameter) rounds above the gate) and its non-convergence warning
  * are [[graft.ops.GraphOps.components]]'; this object dedups the string
  * edges, sets the size gate and names the columns.
  */
object Canonicalize {

  /** sameAs edges from the triple stream (iri ↔ iri). Column-level filter
    * and projection so the scan over the staged parquet is pruned and the
    * predicates are pushed down.
    *
    * NOT deduplicated here: [[connectedComponents]] dedups once as part of
    * its size-gate probe, so deduping here too would just add a second
    * shuffle. */
  def sameAsEdges(triples: Dataset[TripleRow]): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    triples.toDF()
      .filter($"error".isNull && $"pred" === PagesSource.SAME_AS &&
        $"obj_kind" === "iri" && $"subj_kind" === "iri")
      .select($"subj".as("src"), $"obj_value".as("dst"))
  }

  /** Size gate for the driver-local CC path, in DISTINCT edges: below it
    * the whole component computation is cheaper on the driver (one dedup
    * pass + collect + union-find) than ~3-5 distributed iterations ×
    * (join + agg + checkpoint + probe) jobs. Same spirit as AQE's broadcast
    * gate: tiny data wants a local algorithm. 1M string edges ≈ ~150 MB on
    * a 32 g driver — safe to collect. */
  val LOCAL_CC_MAX_EDGES = 1000000

  /** Connected components: (id, canonical) — every vertex labeled with the
    * smallest IRI of its component. Input: (src, dst) string edges.
    *
    * Two physical paths with identical results, picked by
    * [[graft.ops.GraphOps.components]]:
    *  - ≤ LOCAL_CC_MAX_EDGES DISTINCT edges: driver-local union-find (the
    *    result is a local relation, so downstream joins against it
    *    broadcast without stats guessing). sameAs alias graphs are
    *    vocabulary-scale in most corpora even when the corpus is 100 TB.
    *  - otherwise: [[distributedCC]]'s loop.
    *
    * The gate deduplicates BEFORE probing (round 3): hub entities appear in
    * ~20% of documents, so the raw edge stream has power-law multiplicity —
    * at 4M synthetic pages there are ~600k raw but only ~6k distinct edges,
    * and a raw-count gate was routing this vocabulary-scale graph to the
    * (fixed-latency-dominated, scaling-hostile) distributed loop. The dedup's map-side partial
    * aggregation collapses multiplicity before the shuffle, and the
    * distributed path pays the same dedup anyway, so the probe's only
    * over-gate cost is one upstream pass — the price of not caching,
    * already the pipeline's documented trade. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame =
    GraphOps.components(distinctEdges(edges), LOCAL_CC_MAX_EDGES, maxIter)(
      GraphOps.Utf8Order, implicitly).toDF("id", "canonical")

  /** The distributed pointer-doubling loop (taken above LOCAL_CC_MAX_EDGES;
    * directly callable in tests to cover the at-scale path on small
    * inputs). */
  def distributedCC(edges: DataFrame, maxIter: Int = 25): DataFrame =
    GraphOps.distributedComponents(distinctEdges(edges).toDF("u", "v"), maxIter)
      .toDF("id", "canonical")

  private def distinctEdges(edges: DataFrame): Dataset[(String, String)] = {
    import edges.sparkSession.implicits._
    edges.select($"src", $"dst").distinct().as[(String, String)]
  }

  /** Rewrite triples so subjects/objects use canonical entity ids.
    * Both joins are LEFT joins against the label table; non-entities pass
    * through unchanged.
    *
    * NO forced broadcast() hint: the label table is sized by the number of
    * distinct IRIs in sameAs components — corpus-scale at 100 TB, not
    * vocabulary-scale — so a forced broadcast is a driver/executor OOM.
    * The labels come out of CC as a local relation or checkpointed, so AQE
    * has real size stats and picks broadcast when (and only when) the table
    * is under spark.sql.autoBroadcastJoinThreshold, falling back to
    * sort-merge with skew-join splitting above it. */
  def canonicalizeTriples(triples: Dataset[TripleRow], labels: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val l = labels.select($"id", $"canonical")
    triples.toDF()
      .join(l.as("ls"), $"subj" === $"ls.id", "left")
      .withColumn("subj_c", coalesce($"ls.canonical", $"subj"))
      .drop("id", "canonical")
      .join(l.as("lo"),
        $"obj_kind" === "iri" && $"obj_value" === $"lo.id", "left")
      .withColumn("obj_c", coalesce($"lo.canonical", $"obj_value"))
      .drop("id", "canonical")
      .select($"url", $"block", $"subj_c".as("subj"), $"subj_kind", $"pred",
        $"obj_kind", $"obj_c".as("obj_value"), $"obj_datatype", $"obj_lang",
        $"error")
  }
}
