package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScaleUp

/** Guards the scaling-probe generator's validity: the BASELINE.md
  * sf0.1→sf1 ratios are only evidence about the ENGINE if the scaled
  * corpus grows linearly in structure too — keys unique, FK joins
  * closed, and no cross-replica near-dup mass that would make pair
  * queries super-linear by construction.
  */
class ScaleUpSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  test("scaleAll: counts scale, keys stay unique, FKs closed, replicas decorrelated") {
    val src = "/root/testdata/sf0.001"
    val out = java.nio.file.Files.createTempDirectory("graft-scaleup-spec").toString
    ScaleUp.scaleAll(spark, src, out, 3)
    def rd(d: String, t: String) = spark.read.parquet(s"$d/$t.parquet")

    // fixed dims copied once; keyed tables ×factor
    assert(rd(out, "region").count() == rd(src, "region").count())
    assert(rd(out, "nation").count() == rd(src, "nation").count())
    Seq("customer", "supplier", "part", "orders", "lineitem",
      "documents", "embeddings").foreach { t =>
      assert(rd(out, t).count() == 3 * rd(src, t).count(), s"table $t")
    }

    // keys stay unique — the stride must be max+1 (keys are 0-based; a
    // stride of max collides each replica's top key with the next
    // replica's bottom key)
    val cust = rd(out, "customer")
    assert(cust.select("c_custkey").distinct().count() == cust.count())
    val ords = rd(out, "orders")
    assert(ords.select("o_orderkey").distinct().count() == ords.count())

    // FK closure: every shifted FK finds its shifted parent
    val li = rd(out, "lineitem")
    val part = rd(out, "part")
    val supp = rd(out, "supplier")
    assert(li.join(ords, li("l_orderkey") === ords("o_orderkey"), "left_anti").count() == 0)
    assert(li.join(part, li("l_partkey") === part("p_partkey"), "left_anti").count() == 0)
    assert(li.join(supp, li("l_suppkey") === supp("s_suppkey"), "left_anti").count() == 0)
    assert(ords.join(cust, ords("o_custkey") === cust("c_custkey"), "left_anti").count() == 0)

    // documents: the per-replica cipher preserves length (n_chars stays
    // valid) and leaves no lettered token shared between a doc and its
    // replica twin EXCEPT the shared vocabulary head — the head keeps
    // global vocab-head queries (token_pmi) non-degenerate across
    // replicas, while the disjoint tail keeps cross-replica shingle /
    // simhash / minhash pair mass below every op's threshold
    val head = ScaleUp.sharedVocabHead(rd(src, "documents"),
      ScaleUp.sharedVocabK)
    assert(head.size == ScaleUp.sharedVocabK)
    val docs = rd(out, "documents")
    val nDocs = rd(src, "documents").count()
    val base = docs.filter(col("doc_id") < nDocs)
      .select(col("doc_id").as("b_id"), col("text").as("b_text"))
    val rep1 = docs.filter(col("doc_id") >= nDocs && col("doc_id") < 2 * nDocs)
      .select((col("doc_id") - nDocs).as("b_id"), col("text").as("r_text"))
    val headLit = typedlit(head)
    val joined = base.join(rep1, "b_id")
    val docStats = joined
      .select(
        when(length(col("b_text")) === length(col("r_text")), 0L).otherwise(1L)
          .as("bad_len"),
        size(filter(
          array_intersect(split(col("b_text"), "\\s+"), split(col("r_text"), "\\s+")),
          t => (t rlike "[A-Za-z]") && !array_contains(headLit, t)))
          .as("shared_nonhead"),
        // the shared-head invariant: every head token occurs in the
        // replica twin exactly as often as in the base doc (verbatim,
        // position-preserved keep)
        when(filter(split(col("b_text"), " ", -1),
            t => array_contains(headLit, t)) ===
          filter(split(col("r_text"), " ", -1),
            t => array_contains(headLit, t)), 0L).otherwise(1L)
          .as("bad_head"))
      .agg(sum("bad_len").as("bad_len"), max("shared_nonhead").as("shared"),
        sum("bad_head").as("bad_head"))
      .head()
    assert(docStats.getLong(0) == 0L, "cipher must preserve text length")
    assert(docStats.getInt(1) == 0,
      "replica twins must share no lettered token outside the vocab head")
    assert(docStats.getLong(2) == 0L,
      "head tokens must survive replication verbatim and in place")
    // the head is actually SHARED corpus-wide: the scaled corpus's top-k
    // by count is the same head (counts ×factor keep it on top)
    assert(ScaleUp.sharedVocabHead(docs, ScaleUp.sharedVocabK) == head,
      "scaled corpus must rank the same vocab head")
    // within-replica token equality is preserved EXACTLY (the cipher is
    // a bijection on tokens): distinct-token count per doc is unchanged
    val badDistinct = joined.filter(
      size(array_distinct(split(col("b_text"), " ", -1))) =!=
        size(array_distinct(split(col("r_text"), " ", -1)))).count()
    assert(badDistinct == 0L,
      "token cipher must be injective — no two tokens may merge")

    // embeddings: the per-replica signed rotation is orthogonal — the
    // |element| multiset (and thus the norm and all within-replica
    // geometry) is intact while the vectors themselves differ
    // (cross-replica exact/near dups gone)
    val embs = rd(out, "embeddings")
    val nVecs = rd(src, "embeddings").count()
    val bv = embs.filter(col("vec_id") < nVecs)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_v"))
    val rv = embs.filter(col("vec_id") >= nVecs && col("vec_id") < 2 * nVecs)
      .select((col("vec_id") - nVecs).as("b_id"), col("embedding").as("r_v"))
    val vecStats = bv.join(rv, "b_id")
      .select(
        when(array_sort(transform(col("b_v"), x => abs(x))) ===
            array_sort(transform(col("r_v"), x => abs(x))), 0L).otherwise(1L)
          .as("bad_multiset"),
        when(col("b_v") === col("r_v"), 1L).otherwise(0L).as("identical"))
      .agg(sum("bad_multiset").as("bad"), sum("identical").as("same"))
      .head()
    assert(vecStats.getLong(0) == 0L, "rotation must preserve the element multiset")
    assert(vecStats.getLong(1) == 0L, "no vector may survive rotation unchanged")
  }
}
