package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers that queries of more than one registry family call: table
  * loading, the derived `orders` snapshots and the DuckDB CTE fragments
  * shared by several oracles. A helper only one family calls lives in
  * that family's object, above its query list.
  */
private[graft] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** `documents` with the small-input round-robin spread
    * ([[Tables.spreadSmall]] — the guide-§2.5 unsplittable-input
    * remedy): the test corpus is a single-rowgroup file, so every
    * scan-rooted stage runs ONE task and the CPU-heavy text kernels
    * serialize on it. Opt-IN per query, not blanket on the loader:
    * measured at sf0.1, the spread pays for itself when ≥ ~0.5 s of
    * kernel CPU sits below the first exchange (winnow 1.44→0.55 s,
    * redact_pii 1.16→0.62 s, minhash_sig 1.10→0.64 s, ppjoin
    * 4.37→3.55 s) and LOSES on queries whose kernels are light or
    * whose operators re-derive the scan under several of their own
    * barriers — the extra AQE stage per subtree costs more than the
    * parallelism buys (lang_id 0.48→0.65 s, lsh_pairs 1.06→1.49 s,
    * corpus_clean 1.36→1.84 s). Registry entries pick whichever side
    * their measurement favored.
    */
  def docsSpread(s: SparkSession, dir: String): DataFrame =
    Tables.spreadSmall(s, s"$dir/documents.parquet",
      t(s, dir, "documents"))

  // --- derived old/new snapshots for the diff operators -------------------
  // Two overlapping subsets of `orders`, with a price perturbation on one
  // side, so keyDiff produces all four statuses and venn all three regions.

  def ordersOld(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 7 =!= 0)

  def ordersNew(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 5 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 10)
          .otherwise(col("o_totalprice")))

  val ordersNewSql =
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10
      |            ELSE o_totalprice END AS o_totalprice,
      |       o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 5 <> 0""".stripMargin

  /** Shared DuckDB CTE fragments mirroring TextAnalysis.tokens /
    * Dedup.wordShingles / Dedup.minhashSignature exactly.
    */
  val toksCte =
    """toks AS (SELECT doc_id, text,
      |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
      |  FROM documents)""".stripMargin

  val shinglesCte =
    """sh AS (SELECT doc_id,
      |  CASE WHEN len(toks) >= 3
      |    THEN list_distinct(list_transform(range(0, len(toks)-2),
      |           i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
      |    ELSE [array_to_string(toks, ' ')] END shingles
      |  FROM toks)""".stripMargin

  val sigsCte =
    """sigs AS (SELECT doc_id, list_transform(range(0, 8), j ->
      |  list_min(list_transform(shingles,
      |    s -> md5(CAST(j AS VARCHAR) || '|' || s)))) sig
      |  FROM sh)""".stripMargin
}
