package graft

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** Differential gate for the blocked exact all-pairs cosine join —
  * the `ppjoin_pairs` pattern: the registry runs the scale form
  * ([[Similarity.nearDupPairsBlocked]]), this spec proves it emits
  * EXACTLY the brute-force pair set (zero missed pairs, zero extras,
  * bit-identical rounded cosines) on the real driver corpus.
  *
  * Also pins the DATA FACT that justifies rejecting banded LSH as the
  * registry route at this threshold (an earlier scaladoc prescribed it):
  * on isotropic embeddings, qualifying pairs at cos 0.35 sit at ~70°,
  * where one sign-random-projection band has near-zero recall — a
  * lossless banding would need so many bands its candidate volume
  * exceeds brute force (measured ~2.6× at zero-miss tuning). The spec
  * asserts a single 8-bit `lshBucket` band misses MOST qualifying pairs
  * on the sf0.01 corpus, so any future "route embed_neardup through one
  * lshBucket key" edit fails loudly here rather than silently dropping
  * pairs past the oracle.
  */
class NearDupBlockedSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def dir(sf: String) = s"/root/testdata/sf$sf"
  private def available(sf: String) = new File(dir(sf)).isDirectory

  lazy val spark: SparkSession = Sessions(8)

  override def afterAll(): Unit = spark.stop()

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
      r.getAs[Double]("cos"))).toSet

  for (sf <- Seq("0.001", "0.01", "0.1")) {
    test(s"blocked == brute force exactly on sf$sf embeddings (t=0.35)") {
      assume(available(sf), s"${dir(sf)} not present")
      val emb = Tables.load(spark, dir(sf), "embeddings")
      val brute = pairSet(
        Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.35))
      val blocked = pairSet(
        Similarity.nearDupPairsBlocked(emb, "vec_id", "embedding", 0.35))
      val missed = brute -- blocked
      val extra = blocked -- brute
      assert(missed.isEmpty, s"${missed.size} pairs missed, first: ${missed.take(3)}")
      assert(extra.isEmpty, s"${extra.size} spurious pairs, first: ${extra.take(3)}")
      assert(brute.nonEmpty, "degenerate gate: brute force found no pairs")
    }
  }

  test("blocked output is invariant to the block-grid granularity") {
    assume(available("0.01"), s"${dir("0.01")} not present")
    val emb = Tables.load(spark, dir("0.01"), "embeddings")
    val fine = pairSet(Similarity.nearDupPairsBlocked(
      emb, "vec_id", "embedding", 0.35, rowsPerBlock = 37))
    val coarse = pairSet(Similarity.nearDupPairsBlocked(
      emb, "vec_id", "embedding", 0.35, rowsPerBlock = 100000))
    assert(fine == coarse,
      s"grid granularity changed the answer: ${fine.size} vs ${coarse.size}")
  }

  test("one 8-bit LSH band misses most qualifying pairs at t=0.35 " +
      "(the no-gap regime — why the registry does NOT band this query)") {
    assume(available("0.01"), s"${dir("0.01")} not present")
    val emb = Tables.load(spark, dir("0.01"), "embeddings")
    val truth = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.35)
      .select("a_id", "b_id")
    val buckets = emb.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 8).as("b"))
    val sameBucket = truth
      .join(buckets.select(col("vec_id").as("a_id"), col("b").as("ba")), "a_id")
      .join(buckets.select(col("vec_id").as("b_id"), col("b").as("bb")), "b_id")
      .filter(col("ba") === col("bb"))
    val total = truth.count()
    val kept = sameBucket.count()
    assert(total > 100, s"degenerate corpus: only $total qualifying pairs")
    assert(kept < total / 2,
      s"single-band LSH kept $kept/$total qualifying pairs — the no-gap " +
        "analysis no longer holds for this corpus; re-derive before banding")
  }

  test("globalRank rejects non-integral value columns loudly") {
    import spark.implicits._
    val df = Seq((5.2, 1L), (5.7, 2L)).toDF("v", "id")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Ranking.globalRank(df, "v", "id")
    }
    assert(e.getMessage.contains("integral"),
      s"wrong failure mode: ${e.getMessage}")
  }
}
