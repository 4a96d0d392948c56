package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction: PageRank over the token co-occurrence
  * graph (Mihalcea & Tarau 2004) — nodes are tokens, edges are adjacent-
  * token co-occurrence counts, and the stationary score ranks corpus
  * keywords. The iterative-graph-algorithm shape on Spark, next to the
  * label-propagation connected components in [[Dedup.components]].
  *
  * No reference counterpart; extended scope.
  *
  * Scale: the GRAPH is vocabulary-bounded (≤ V² edges however large the
  * corpus), so after one corpus-scale pair count every iteration is a
  * join + aggregate over the small edge relation — the standard "heavy
  * extract, light iterate" decomposition. Iterations run in a driver
  * loop with a fixed count (deterministic, checkpoint-free at this
  * relation size).
  *
  * Cross-engine determinism: edge weights and out-degree sums are exact
  * integers (as doubles), the damping blend is exact (0.85·x and 0.15
  * are one rounding each), and per-iteration scores are rounded to 12
  * decimals on BOTH engines — per-iteration float-sum noise is ~1e-15,
  * three orders below the grid, so the rounding RESYNCHRONIZES the
  * engines every iteration instead of letting ulps compound across
  * iterations. Final scores round to 4.
  */
object TextRank {

  /** The edge relation is truncated by the [[Dedup.components]]
    * convention: the context's checkpoint dir, set by the deployment (e.g.
    * `spark.checkpoint.dir`), selects a reliable `checkpoint`, which
    * survives executor loss — the production arrangement; without one,
    * `localCheckpoint` (fast, non-reliable blocks — an executor loss
    * mid-query aborts it; fine on local/test runs).
    */
  def keywords(docs: DataFrame, textCol: String, damping: Double = 0.85,
      iters: Int = 10, topK: Int = 20): DataFrame = {
    val dir = docs
      .select(explode(TextAnalysis.mergePairs(col(textCol))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).cast("double").as("w"))
      .select(split(col("pair"), " ").getItem(0).as("a"),
        split(col("pair"), " ").getItem(1).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
    // undirected: fold both orientations into one weighted edge list
    val edges = dir
      .union(dir.select(col("b").as("a"), col("a").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
    val outW = edges.groupBy(col("a")).agg(sum(col("w")).as("__wout"))
    // Materialized ONCE (localCheckpoint — the Dedup.components lineage
    // precedent): the ten iteration joins all reference this subtree, and
    // while AQE's stage cache deduplicates the shuffles at runtime, the
    // un-truncated lineage made every bench pass re-analyze/re-plan a
    // 200+-exchange tree and JIT ~10× the codegen units (the round-10
    // "iterative queries read ~2× steady state in-suite" artifact was
    // largest here). The relation is vocabulary-bounded (≤ V² edges
    // regardless of corpus size — see the scale note above), so pinning
    // it is O(vocab), never O(corpus), at any SF.
    val frac0 = edges.join(outW, "a")
      .select(col("a"), col("b"), (col("w") / col("__wout")).as("frac"))
    val frac =
      if (docs.sparkSession.sparkContext.getCheckpointDir.isDefined)
        frac0.checkpoint()
      else frac0.localCheckpoint()
    var pr = frac.select(col("a").as("token")).distinct()
      .withColumn("pr", lit(1.0))
    // Teleport constant via exact DECIMAL subtraction: `1.0 - 0.85` in
    // doubles is 0.15000000000000002, one ulp above the 0.15 a SQL oracle
    // writes as a literal — a cross-engine constant divergence the
    // per-iteration rounding would otherwise have to absorb. BigDecimal
    // gives the exact decimal (0.15), whose nearest double is what any
    // engine parses from the same literal.
    val teleport = (BigDecimal(1) - BigDecimal(damping)).toDouble
    for (_ <- 1 to iters) {
      pr = frac.join(pr, frac("a") === pr("token"))
        .groupBy(col("b"))
        .agg(round(lit(teleport) +
          lit(damping) * sum(col("frac") * col("pr")), 12).as("pr"))
        .select(col("b").as("token"), col("pr"))
    }
    pr.select(col("token"), round(col("pr"), 4).as("rank"))
      .orderBy(col("rank").desc, col("token"))
      .limit(topK)
  }
}
