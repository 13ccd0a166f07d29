package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import Model.TripleRow
import graft.ops.Gate

/** Entity canonicalization via connected components over owl:sameAs edges
  * (SURVEY.md §2.5): iterative DataFrame hash-min label propagation —
  * every vertex converges to the lexicographically smallest IRI in its
  * component, which becomes the canonical id.
  *
  * Scale design (north_rule: "partitioning / shuffle / skew handled
  * explicitly"):
  *  - edges are deduplicated BEFORE the loop — hub entities appear in ~20%
  *    of documents, so raw edge multiplicity is power-law; dedup collapses
  *    it to vocabulary scale and is itself skew-safe (partial aggregation
  *    does the heavy lifting map-side).
  *  - the propagation join keys on vertex id AFTER dedup, so hub skew is
  *    bounded by max degree, and AQE skew-join splitting
  *    (spark.sql.adaptive.skewJoin) covers residual imbalance.
  *  - `localCheckpoint` each iteration truncates the lineage so plan size
  *    doesn't grow O(iterations) (SURVEY.md §4).
  *  - convergence in O(log diameter) iterations for min-propagation on these
  *    star-shaped alias clusters (typically 2).
  */
object Canonicalize {

  /** sameAs edges from the triple stream (iri ↔ iri). Column-level filter
    * and projection so the scan over the staged parquet is pruned and the
    * predicates are pushed down.
    *
    * NOT deduplicated here: [[connectedComponents]] dedups once as part of
    * its size-gate probe (and union-find is idempotent per edge anyway), so
    * deduping here too would just add a second shuffle. */
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

  /** Hash-min connected components. Input: (src, dst) string edges.
    * Output: (id, canonical) — every vertex labeled with the
    * lexicographically smallest IRI of its component.
    *
    * Two physical paths with identical results:
    *  - ≤ LOCAL_CC_MAX_EDGES DISTINCT edges: driver-local union-find (the
    *    result is a local relation, so downstream joins against it
    *    broadcast without stats guessing). sameAs alias graphs are
    *    vocabulary-scale in most corpora even when the corpus is 100 TB.
    *  - otherwise: distributed hash-min label propagation with AQE skew
    *    handling and lineage-truncating checkpoints.
    *
    * The gate deduplicates BEFORE probing (round 3): hub entities give the
    * raw edge stream power-law multiplicity — at 4M synthetic pages there
    * are ~600k raw but only ~6k distinct edges, and a raw-count gate was
    * routing this vocabulary-scale graph to the (fixed-latency-dominated,
    * scaling-hostile) distributed loop. The dedup's map-side partial
    * aggregation collapses multiplicity before the shuffle, and the
    * distributed path pays the same dedup anyway (sym.distinct), so the
    * probe's only over-gate cost is one upstream pass — the price of not
    * caching, already the pipeline's documented trade. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    Gate.localOr(edges.select($"src", $"dst").distinct().as[(String, String)],
        LOCAL_CC_MAX_EDGES) { probe =>
      spark.createDataset(localUnionFind(probe).toSeq).toDF("id", "canonical")
    }(distributedCC(edges, maxIter))
  }

  /** The distributed hash-min loop (taken above LOCAL_CC_MAX_EDGES; directly
    * callable in tests to cover the at-scale path on small inputs). */
  def distributedCC(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // symmetrize once; the propagation below then only needs src→dst flow
    val sym = edges.select($"src", $"dst")
      .union(edges.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .localCheckpoint()

    var labels = sym.select($"src".as("id")).distinct()
      .withColumn("label", $"id")
      .localCheckpoint()

    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val msgs = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), labels("label"))
      val nextPlan = msgs.union(labels.select($"id", $"label"))
        .groupBy($"id").agg(min($"label").as("label"))
      // lineage truncation matters for long chains; for the common 2-3
      // iteration case, checkpointing every other round halves the extra
      // materialization jobs on the critical path
      val next = if (iter % 2 == 1 || iter >= 3) nextPlan.localCheckpoint()
        else nextPlan
      // star-shaped alias clusters converge in 2 iterations; skip the
      // convergence probe (an extra job) until they could possibly be done
      val changed =
        if (iter < 2) 1L
        else next.as("n")
          .join(labels.as("o"), $"n.id" === $"o.id")
          .filter($"n.label" =!= $"o.label")
          .limit(1).count() // any-change probe, cheap
      labels = next
      converged = changed == 0
      iter += 1
    }
    labels.select($"id", $"label".as("canonical"))
  }

  /** Driver-local union-find with path compression; representative =
    * lexicographically smallest vertex (matches hash-min fixpoint). */
  def localUnionFind(edges: Array[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // union by min keeps the representative the smallest label
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Rewrite triples so subjects/objects use canonical entity ids.
    * Both joins are LEFT joins against the label table; non-entities pass
    * through unchanged.
    *
    * NO forced broadcast() hint: the label table is sized by the number of
    * distinct IRIs in sameAs components — corpus-scale at 100 TB, not
    * vocabulary-scale — so a forced broadcast is a driver/executor OOM.
    * The labels come out of the CC loop localCheckpoint'ed, so AQE has real
    * size stats and picks broadcast when (and only when) the table is under
    * spark.sql.autoBroadcastJoinThreshold, falling back to sort-merge with
    * skew-join splitting above it. */
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
