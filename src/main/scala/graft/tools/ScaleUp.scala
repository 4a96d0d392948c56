package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe data generator: writes a `factor`×-larger copy of a
  * driver testdata dir (e.g. sf0.1 → an sf1-equivalent) by unioning
  * key-shifted replicas of each table.
  *
  * This exists for ONE purpose — the BASELINE.md scaling probe that
  * measures per-query sf0.1→sf1 time ratios to catch super-linear
  * growth (`ppjoin_pairs` Σ freq², `winnow_overlap`, `lsh_pairs`)
  * with data instead of reasoning. It is NOT test input for the
  * correctness gate (the driver's parquet stays the only oracle
  * input).
  *
  * Replication rules — chosen so the measured workload grows the way
  * a real corpus grows (linear in rows AND in interesting structure):
  *
  *   - **fixed dims** (`region`, `nation`): copied once — their
  *     cardinality is SF-invariant in TPC-H;
  *   - **keyed tables**: every key/FK column is shifted by
  *     `replica × max(key)`, so replicas are disjoint and ALL
  *     foreign-key joins stay 1:1 with the original — join
  *     selectivity is preserved, output rows scale ×factor;
  *   - **documents**: each replica r > 0 appends a replica token to
  *     `text` (and recomputes `n_chars`). Without it every doc would
  *     gain factor−1 verbatim twins, and pair-producing queries
  *     (ppjoin, LSH, SNM, winnow overlap) would grow ×factor² BY
  *     CONSTRUCTION — the probe would read "super-linear" for data
  *     reasons, masking any algorithmic regression. With it,
  *     within-replica dup structure is byte-preserved and
  *     cross-replica near-dups vanish, so true pair counts scale
  *     ×factor, the null hypothesis the probe tests against;
  *   - **embeddings**: replica r > 0 shifts `embedding[0]` by
  *     `r × 8.0` — same argument in cosine space (within-replica
  *     geometry untouched, cross-replica neighbors pushed apart).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor>
  */
object ScaleUp {

  /** Size of the shared vocabulary head kept verbatim in every replica
    * (see the documents rule below). 8 of the driver corpus's ~30-word
    * vocabulary ≈ 27% of token mass: enough that global vocab-head
    * queries (token_pmi) stay non-degenerate at any factor, small
    * enough that no similarity op's threshold is approached by the
    * shared mass.
    */
  val sharedVocabK = 8

  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  private def permOf(r: Int): String =
    new scala.util.Random(r.toLong * 1000003L).shuffle(alphabet.toList).mkString

  private def cipherStr(s: String, perm: String): String = s.map { ch =>
    val i = alphabet.indexOf(ch.toLower)
    if (i < 0) ch
    else { val m = perm.charAt(i); if (ch.isUpper) m.toUpper else m }
  }

  private def invCipherStr(s: String, perm: String): String = s.map { ch =>
    val i = perm.indexOf(ch.toLower)
    if (i < 0) ch
    else { val m = alphabet.charAt(i); if (ch.isUpper) m.toUpper else m }
  }

  /** The corpus's top-k tokens by count (ties broken by token byte
    * order) — the head every replica keeps verbatim.
    */
  def sharedVocabHead(docs: DataFrame, k: Int): Seq[String] =
    docs.select(explode(split(col("text"), " +")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(k)
      .collect().map(_.getString(0)).toSeq

  /** Token-level per-replica cipher that fixes `head` pointwise and is a
    * BIJECTION on the rest of the token space — so within-replica token
    * equality is preserved exactly (no two distinct tokens may merge).
    * The raw letter permutation alone is not enough: for each head token
    * H there is exactly one preimage cipher⁻¹(H), and ciphering it would
    * collide with the kept H. Those ≤|head| exception tokens are walked
    * driver-side through the permutation (cycle-walking: apply the
    * cipher until the image leaves the head set — the standard
    * construction of the induced permutation on a set's complement),
    * and the walked images ride a tiny map literal.
    */
  def cipherText(c: Column, r: Int, head: Seq[String]): Column = {
    val perm = permOf(r)
    val from = alphabet + alphabet.toUpperCase
    val to = perm + perm.toUpperCase
    if (head.isEmpty) return translate(c, from, to)
    val headSet = head.toSet
    val exc: Map[String, String] = head.iterator.map { h =>
      invCipherStr(h, perm)
    }.filterNot(headSet).map { p =>
      var img = cipherStr(p, perm)
      while (headSet(img)) img = cipherStr(img, perm)
      p -> img
    }.toMap
    def mapTok(t: Column): Column = {
      val base = when(t.isin(head: _*), t).otherwise(translate(t, from, to))
      if (exc.isEmpty) base
      else when(t.isin(exc.keys.toSeq: _*),
        element_at(typedlit(exc), t)).otherwise(base)
    }
    // split on the single-space delimiter with -1 (keep empty fields):
    // runs of spaces survive the round-trip byte-for-byte, so length
    // and tokenization are both preserved
    array_join(transform(split(c, " ", -1), mapTok(_)), " ")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleUp <srcDir> <outDir> <factor>")
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = graft.Sessions(
      graft.Sessions.cpus(Runtime.getRuntime.availableProcessors))
    spark.sparkContext.setLogLevel("WARN")
    try scaleAll(spark, srcDir, outDir, factor)
    finally spark.stop()
  }

  def scaleAll(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    def rd(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }
    // one tiny driver scalar per keyed table: the shift stride (max+1 —
    // keys are 0-based, so a stride of max alone would collide each
    // replica's top key with the next replica's bottom key)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0) + 1L

    // fixed dims: SF-invariant
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val cust = rd("customer"); val cMax = maxOf(cust, "c_custkey")
    val supp = rd("supplier"); val sMax = maxOf(supp, "s_suppkey")
    val part = rd("part"); val pMax = maxOf(part, "p_partkey")
    val ords = rd("orders"); val oMax = maxOf(ords, "o_orderkey")
    val line = rd("lineitem")
    // Load events through the unit-adaptive Tables loader (the driver has
    // flipped the parquet timestamp unit between rounds) and write `ts`
    // back as a plain TimestampType column — Spark emits TIMESTAMP_MICROS,
    // which the same loader reads natively from the scaled dir.
    val evts = graft.Tables.events(spark, srcDir)
    val eMax = maxOf(evts, "event_id"); val uMax = maxOf(evts, "user_id")
    val docs = rd("documents"); val dMax = maxOf(docs, "doc_id")
    val embs = rd("embeddings"); val vMax = maxOf(embs, "vec_id")

    def replicate(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => shift(df, r)).reduce(_.unionAll(_))
    def bump(c: String, stride: Long, r: Int) =
      (col(c) + lit(stride * r)).as(c)

    wr(replicate(cust) { (df, r) =>
      df.withColumn("c_custkey", bump("c_custkey", cMax, r))
    }, "customer")
    wr(replicate(supp) { (df, r) =>
      df.withColumn("s_suppkey", bump("s_suppkey", sMax, r))
    }, "supplier")
    wr(replicate(part) { (df, r) =>
      df.withColumn("p_partkey", bump("p_partkey", pMax, r))
    }, "part")
    wr(replicate(ords) { (df, r) =>
      df.withColumn("o_orderkey", bump("o_orderkey", oMax, r))
        .withColumn("o_custkey", bump("o_custkey", cMax, r))
    }, "orders")
    wr(replicate(line) { (df, r) =>
      df.withColumn("l_orderkey", bump("l_orderkey", oMax, r))
        .withColumn("l_partkey", bump("l_partkey", pMax, r))
        .withColumn("l_suppkey", bump("l_suppkey", sMax, r))
    }, "lineitem")
    wr(replicate(evts) { (df, r) =>
      // same time range, factor× user population and event density —
      // how a stream actually grows
      df.withColumn("event_id", bump("event_id", eMax, r))
        .withColumn("user_id", bump("user_id", uMax, r))
    }, "events")
    // Per-replica TOKEN-level permutation cipher with a SHARED VOCAB
    // HEAD: an injective token map, so tokenization boundaries, shingle
    // equality and simhash collisions are preserved EXACTLY within a
    // replica, while the ciphered (non-head) token spaces stay disjoint
    // across replicas. A seeded Fisher–Yates permutation of the alphabet
    // per replica (not a Caesar shift — shifts repeat mod 26, so factors
    // > 26 would hand same-cipher replica pairs right back to the
    // similarity ops) gives 26! mutually-distinct mappings. A naive
    // append-one-token perturbation leaves simhash/minhash signatures
    // ~unchanged — every doc keeps factor−1 cross-replica near-copies
    // and pair queries grow ×factor² by construction (measured: 64× on
    // simhash64_pairs at factor 10). Token-level keep preserves each
    // token's length and the spacing, so n_chars stays valid.
    //
    // The shared head (round-11 verdict item 4): a FULLY per-replica
    // cipher makes replica vocabularies disjoint, so GLOBAL
    // vocabulary-head queries (token_pmi's top-20-by-df head) degenerate
    // at large factors — the head splits across replicas and no head
    // pair ever co-occurs. Keeping the top-[[sharedVocabK]] tokens
    // verbatim in every replica preserves cross-replica vocabulary
    // overlap (≈27% of token mass on the driver corpus, whose ~30-word
    // vocabulary puts nearly ALL mass in the top 32 — sharing more
    // would hand the similarity ops near-verbatim replicas back).
    // Cross-replica similarity stays far under every op's threshold:
    // a w-token shingle survives replication only if ALL w tokens are
    // head (≈0.27^w), and replica twins' token-SET Jaccard is ≈
    // |head∩doc| / |union| ≈ 0.2 < the 0.5-0.75 join thresholds.
    val headTokens = sharedVocabHead(docs, sharedVocabK)
    wr(replicate(docs) { (df, r) =>
      val bumped = df.withColumn("doc_id", bump("doc_id", dMax, r))
      if (r == 0) bumped
      else bumped.withColumn("text", cipherText(col("text"), r, headTokens))
    }, "documents")
    // Per-replica signed rotation of the vector: cyclic shift by
    // r mod dim composed with a seeded ±1 sign flip per dimension.
    // Both are orthogonal transforms, so every within-replica dot
    // product and norm is preserved exactly (geometry identical up to
    // a signed coordinate permutation) while cross-replica cosine is
    // decorrelated; the sign flip keeps replica pairs distinct even
    // when factor > dim and the rotation alone would repeat. An
    // additive dim-0 shift instead makes the shifted dim dominate
    // EVERY vector of EVERY replica, turning unrelated cross-replica
    // docs into near-dups (measured: 56× on embed_neardup).
    val embDim = embs.select(size(col("embedding"))).head().getInt(0)
    wr(replicate(embs) { (df, r) =>
      val bumped = df.withColumn("vec_id", bump("vec_id", vMax, r))
      if (r == 0) bumped
      else {
        val s = r % embDim
        val rot =
          if (s == 0) col("embedding")
          else concat(
            slice(col("embedding"), lit(s + 1), size(col("embedding")) - s),
            slice(col("embedding"), lit(1), lit(s)))
        val rnd = new scala.util.Random(r.toLong * 7368787L)
        val signs = Array.fill(embDim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
        bumped.withColumn("embedding",
          zip_with(rot, typedlit(signs.toSeq), (x, sg) => (x * sg).cast("float")))
      }
    }, "embeddings")
  }
}
