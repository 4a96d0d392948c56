package graft
package registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Chunking, DataTests, Decontam, Dedup, FreqSketch, KeyDiff,
  Multimodal, Ranking, Sampling, Sharding, Similarity, TextAnalysis}

import Shared._

/** Embedding and corpus-shaping queries: similarity search, multimodal
  * binary columns, vocabulary and embedding aggregation, sampling,
  * mixing, CDC/IVM maintenance and sharding.
  */
object Embed {

  /** Deterministic 1/64 md5-stratum of `embeddings` — the decade-evidence
    * input for the two deliberately-exact quadratic validators
    * (`embed_neardup`, `decontam_embed`), whose full-corpus C(n,2) cost
    * is infeasible at sf100 by contract (tools/gates/exclusions.txt).
    * 1/64 of sf100's 2M vectors ≈ 31k → ~5·10⁸ exact dot products, which
    * the blocked kernel and the numpy sidecar both clear. Same soundness
    * argument as [[Text.stratDocs]]: md5 of the stringified key is
    * engine-agnostic and independent of ScaleUp's replica arithmetic.
    */
  private def stratEmb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(
      conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 64 === 0)

  /** Deterministic synthetic image payload for the phash_dedup gate
    * (576 ASCII chars = 72 grid cells × 8 identical bytes): base
    * pattern from group p = doc_id/4, one-cell perturbation from
    * member m = doc_id%4 — so the 4 docs of a group pair at Hamming
    * ≤ 2 and distinct groups never pair, at every SF. Cell values are
    * md5-mixed per (p, k) — a LINEAR map of p (the first cut used
    * `(p·131) % 64`, whose period-64 pattern repeats made cross-group
    * Hamming-0 pairs grow quadratically with corpus size — measured
    * 6606 instead of 750 pairs at 500 docs. md5 makes the base
    * patterns effectively unique per group, and evaluates identically
    * in Spark and DuckDB (the stratum-predicate precedent). Values
    * stay in 32..119 (single-byte UTF-8), so DuckDB's codepoint
    * arithmetic rebuilds the identical byte stream.
    */
  private def phashPayload(docId: Column): Column = {
    val p = shiftright(docId, 2)
    val m = docId % 4
    array_join(
      transform(sequence(lit(0), lit(71)), k =>
        call_function("repeat",
          call_function("char",
            lit(32) +
              pmod(conv(substring(md5(concat_ws("_",
                p.cast("string"), k.cast("string"))), 1, 4), 16, 10)
                .cast("long"), lit(64)) +
              when(k === 5, m * 8).otherwise(lit(0))),
          lit(8))),
      "")
  }

  /** Normalized-embeddings CTE for the exact-cosine oracles,
    * parameterized on a WHERE clause so the full-corpus and 1/64
    * md5(vec_id)-stratified gates share one spelling — see [[stratEmb]].
    */
  private def embCte(where: String): String =
    s"""e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
       |  sqrt(list_sum(list_transform(embedding,
       |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) nrm
       |  FROM embeddings$where)""".stripMargin

  /** The committed 1/64 md5(vec_id) stratum predicate, DuckDB spelling. */
  private val stratEmbWhere =
    """
      |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
      |        % 64 = 0""".stripMargin

  /** embed_neardup oracle over a parameterized embeddings CTE. */
  private def embedNeardupOracle(where: String): String =
    s"""WITH ${embCte(where)}
       |SELECT a.vec_id a_id, b.vec_id b_id,
       |  round(list_sum(list_transform(range(1, len(a.v)+1),
       |    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) cos
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE round(list_sum(list_transform(range(1, len(a.v)+1),
       |    i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) >= 0.35
       |ORDER BY a_id, b_id""".stripMargin

  /** decontam_embed oracle over a parameterized embeddings CTE.
    * max-cosine tie breaks toward the smallest eval id on BOTH sides
    * (Spark max_by(eval_id, (cos, -eval_id)) ≡ ORDER BY cos DESC,
    * eval_id with row_number = 1).
    */
  private def decontamEmbedOracle(where: String): String =
    s"""WITH ${embCte(where)},
       |c AS (SELECT * FROM e WHERE vec_id % 37 <> 0),
       |q AS (SELECT * FROM e WHERE vec_id % 37 = 0),
       |p AS (SELECT c.vec_id, q.vec_id eval_id,
       |    round(list_sum(list_transform(range(1, len(c.v)+1),
       |      i -> c.v[i] * q.v[i])) / (c.nrm * q.nrm), 4) cos
       |  FROM c, q),
       |hits AS (SELECT * FROM p WHERE cos >= 0.30),
       |r AS (SELECT vec_id, eval_id, cos,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cos DESC, eval_id) rn,
       |    max(cos) OVER (PARTITION BY vec_id) max_cos,
       |    count(*) OVER (PARTITION BY vec_id) n_eval_hits
       |  FROM hits)
       |SELECT vec_id, eval_id, max_cos,
       |  CAST(n_eval_hits AS BIGINT) AS n_eval_hits
       |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  val queries: Seq[Query] = Seq(
    // --- LLM-pipeline: embedding similarity search ------------------------
    Query("embed_norm", (s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"))
        .orderBy("vec_id")
    },
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin),
    Query("ann_topk", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rn")
    },
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) nrm
        |  FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id < 10),
        |p AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
        |  round(list_sum(list_transform(range(1, len(q.v)+1),
        |    i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) cos
        |  FROM q JOIN e c ON q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) rn FROM p)
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    Query("embed_q8", (s, dir) => {
      val qz = Similarity.quantize8(col("embedding"))
      t(s, dir, "embeddings")
        .select(col("vec_id"), qz.getField("scale").as("scale"),
          qz.getField("q").as("qv"))
        .select(col("vec_id"), round(col("scale"), 8).as("scale_r"),
          md5(concat_ws(",", col("qv"))).as("q_digest"),
          array_max(transform(col("qv"), x => abs(x))).as("q_max"))
        .orderBy("vec_id")
    },
      """WITH s AS (SELECT vec_id,
        |  greatest(list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS scale,
        |  embedding FROM embeddings),
        |q AS (SELECT vec_id, round(scale, 8) AS scale_r,
        |  list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) qv
        |  FROM s)
        |SELECT vec_id, scale_r, md5(array_to_string(qv, ',')) AS q_digest,
        |  CAST(list_max(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin),
    Query("ann_lsh", (s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(
        e.filter(col("vec_id") < 10), e, "vec_id", "embedding", k = 5, bits = 4)
        .orderBy("query_id", "rn")
    },
      """WITH e AS (SELECT vec_id,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
        |  sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) nrm
        |  FROM embeddings),
        |b AS (SELECT vec_id, v, nrm,
        |  CAST(list_sum(list_transform(range(0, 4), j ->
        |    CASE WHEN list_sum(list_transform(range(1, len(v)+1), d ->
        |        v[d] * (CASE WHEN substr(md5(CAST(j AS VARCHAR) || '_' ||
        |          CAST(d-1 AS VARCHAR)), 1, 1) >= '8'
        |          THEN 1.0 ELSE -1.0 END))) > 0
        |    THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) bucket
        |  FROM e),
        |q AS (SELECT * FROM b WHERE vec_id < 10),
        |p AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
        |  round(list_sum(list_transform(range(1, len(q.v)+1),
        |    i -> q.v[i] * c.v[i])) / (q.nrm * c.nrm), 4) cos
        |  FROM q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id)
        |SELECT query_id, neighbor_id, cos, CAST(rn AS INTEGER) AS rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) rn FROM p)
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    Query("semantic_dedup", (s, dir) =>
      // SemDeDup-style bucket dedup with a deterministic grid quantizer
      // (width 0.25 = 2^-2, IEEE-exact on both engines) over the first
      // 4 dims; one shuffle on the cell key, map-only cell assignment
      Similarity.gridDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        dims = 4, width = 0.25)
        .orderBy("cell"),
      """SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
        |  min(vec_id) AS keeper
        |FROM (SELECT vec_id, array_to_string(list_transform(embedding[1:4],
        |        x -> CAST(floor(CAST(x AS DOUBLE) / 0.25) AS BIGINT)), '_')
        |        AS cell
        |      FROM embeddings)
        |GROUP BY cell ORDER BY cell""".stripMargin),
    Query("embed_neardup", (s, dir) =>
      // Exact all-pairs cosine via the BLOCKED kernel: C(n,2) primitive-
      // loop dot products over B(B+1)/2 uniform block-pair tasks — the
      // scale form of the row-pair join (bit-identical output; the
      // differential spec pins it). Banded LSH is measurably unusable
      // for an exact answer at this threshold (one 8-bit band misses
      // 265/271 pairs; zero-miss banding costs 2.6x all-pairs) — see
      // Similarity.nearDupPairs scaladoc for the analysis.
      Similarity.nearDupPairsBlocked(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.35)
        .orderBy("a_id", "b_id"), embedNeardupOracle("")),
    // Hash-stratified twins of the two deliberately-exact quadratic
    // validators: the sf100 decade-evidence path (same pattern as the
    // `*_strat` pair trio). The operator is IDENTICAL — only the input
    // shrinks to the committed 1/64 md5(vec_id) stratum, and the
    // PropertySpec invariant pins X_strat ≡ X(filter stratum) so the
    // engine and oracle spellings can't silently diverge.
    Query("embed_neardup_strat", (s, dir) =>
      Similarity.nearDupPairsBlocked(stratEmb(s, dir), "vec_id",
        "embedding", threshold = 0.35)
        .orderBy("a_id", "b_id"), embedNeardupOracle(stratEmbWhere)),
    Query("decontam_embed", (s, dir) => {
      // the semantic complement of decontam: paraphrased eval leakage
      // shares no 3-gram but still sits next to its source in embedding
      // space — broadcast eval sweep, corpus never shuffles
      val emb = t(s, dir, "embeddings")
      Decontam.embedOverlap(
        emb.filter(col("vec_id") % 37 =!= 0),
        emb.filter(col("vec_id") % 37 === 0),
        "vec_id", "embedding", threshold = 0.30)
        .orderBy("vec_id")
    }, decontamEmbedOracle("")),
    Query("decontam_embed_strat", (s, dir) => {
      val emb = stratEmb(s, dir)
      Decontam.embedOverlap(
        emb.filter(col("vec_id") % 37 =!= 0),
        emb.filter(col("vec_id") % 37 === 0),
        "vec_id", "embedding", threshold = 0.30)
        .orderBy("vec_id")
    }, decontamEmbedOracle(stratEmbWhere)),
    // --- LLM-pipeline: multimodal binary columns (stub decode) ------------
    Query("media_meta", (s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.mediaTable(t(s, dir, "documents")))
        .toDF().orderBy("doc_id"),
      // Oracle recomputes the stub decode from the source text: payload is
      // the UTF-8 bytes of `text` (ASCII corpus), so byte_sum = Σ unicode(c).
      """WITH f AS (SELECT doc_id, 'image' AS kind,
        |  CAST(length(text) AS BIGINT) n_bytes,
        |  CAST(list_sum(list_transform(regexp_extract_all(text, '.'),
        |    c -> unicode(c))) AS BIGINT) byte_sum
        |  FROM documents)
        |SELECT doc_id, kind, n_bytes, byte_sum,
        |  CAST(16 + byte_sum % 64 AS INTEGER) AS width,
        |  CAST(16 + (byte_sum // 64) % 64 AS INTEGER) AS height
        |FROM f ORDER BY doc_id""".stripMargin),
    Query("media_frames", (s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.mediaTable(t(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("frame_len"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_idx"),
      """WITH f AS (SELECT doc_id, text,
        |  unnest(list_filter(
        |    range(0, CAST(ceil(length(text) / 256.0) AS BIGINT)),
        |    x -> x % 2 = 0 AND x < 32)) fi
        |  FROM documents)
        |SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
        |  CAST(length(substr(text, CAST(fi*256+1 AS INTEGER), 256)) AS INTEGER)
        |    AS frame_len,
        |  md5(substr(text, CAST(fi*256+1 AS INTEGER), 256)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),
    // Perceptual-hash image dedup (LAION-style). phash64 hashes the real
    // text-byte payload (per-row gate at every SF); phash_dedup runs the
    // banded Hamming join over PLANTED synthetic image payloads (the
    // redact_pii / html_extract fixture pattern): the corpus carries no
    // byte-level near-identical texts below sf1, so the fixture derives
    // a deterministic 576-byte "image" from doc_id — 72 blocks of 8
    // identical ASCII bytes, groups of 4 consecutive ids share a base
    // pattern, each member perturbs one grid cell — guaranteeing
    // within-group pairs at Hamming ≤ 2 and cross-group non-pairs at
    // every SF, in pure integer arithmetic the DuckDB oracle rebuilds
    // byte-for-byte.
    Query("phash64", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          Multimodal.dhash64(col("text").cast("binary")).as("phash"))
        .orderBy("doc_id"),
      // dHash over the real text payload: codepoint windows (ASCII corpus
      // => byte == codepoint, the media_meta convention), integer
      // cross-multiplied mean compare — no float ever exists to round.
      """WITH cs AS (SELECT doc_id,
        |  list_transform(regexp_extract_all(text, '.'), c -> unicode(c)) cs,
        |  CAST(length(text) AS BIGINT) L FROM documents),
        |g AS (SELECT doc_id,
        |  list_transform(range(0, 72), k ->
        |    CAST(COALESCE(list_sum(cs[(k*L)//72 + 1 : ((k+1)*L)//72]), 0)
        |      AS BIGINT)) sums,
        |  list_transform(range(0, 72), k -> ((k+1)*L)//72 - (k*L)//72) cnts
        |  FROM cs),
        |bits AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |    CASE WHEN sums[(b//8)*9 + (b%8) + 1] * cnts[(b//8)*9 + (b%8) + 2]
        |            > sums[(b//8)*9 + (b%8) + 2] * cnts[(b//8)*9 + (b%8) + 1]
        |      THEN 1 ELSE 0 END) bits FROM g)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0,63), j ->
        |    bits[j+1] * (CAST(1 AS BIGINT) << j))) AS BIGINT)
        |  + CASE WHEN bits[64] = 1 THEN -9223372036854775808
        |         ELSE CAST(0 AS BIGINT) END AS phash
        |FROM bits ORDER BY doc_id""".stripMargin),
    Query("phash_dedup", (s, dir) =>
      Dedup.hamming64Pairs(
        docsSpread(s, dir).select(col("doc_id"),
          Multimodal.dhash64(phashPayload(col("doc_id")).cast("binary"))
            .as("phash")),
        "doc_id", "phash", maxHamming = 3)
        .orderBy("a_id", "b_id"),
      // Planted-payload pair surface: each 8-byte block is one grid cell,
      // so the oracle shortcuts the box filter to vals[k] (equal counts
      // cancel in the cross-multiplied compare) — an independent spelling
      // of the same hash; banding re-spelled as in simhash64PairsOracle.
      """WITH d AS (SELECT doc_id, doc_id // 4 AS p, doc_id % 4 AS m
        |  FROM documents),
        |v AS (SELECT doc_id, list_transform(range(0, 72), k ->
        |    32 + ('0x' || substr(md5(p::VARCHAR || '_' || k::VARCHAR),
        |                         1, 4))::BIGINT % 64
        |      + CASE WHEN k = 5 THEN m*8 ELSE 0 END)
        |  vals FROM d),
        |bits AS (SELECT doc_id, list_transform(range(0, 64), b ->
        |    CASE WHEN vals[(b//8)*9 + (b%8) + 1] > vals[(b//8)*9 + (b%8) + 2]
        |      THEN 1 ELSE 0 END) bits FROM v),
        |s AS (SELECT doc_id,
        |  CAST(list_sum(list_transform(range(0,63), j ->
        |    bits[j+1] * (CAST(1 AS BIGINT) << j))) AS BIGINT)
        |  + CASE WHEN bits[64] = 1 THEN -9223372036854775808
        |         ELSE CAST(0 AS BIGINT) END AS sh
        |  FROM bits),
        |banded AS (SELECT doc_id, sh, unnest(range(0,4)) band FROM s),
        |bv AS (SELECT doc_id, sh, band,
        |  (sh >> CAST(band*16 AS INTEGER)) & 65535 AS v FROM banded),
        |cand AS (SELECT a.doc_id a_id, b.doc_id b_id,
        |    min(bit_count(CAST(xor(a.sh, b.sh) AS BIT))) hamming
        |  FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(hamming AS INTEGER) AS hamming FROM cand
        |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin),
    Query("bpe_tokens", (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        size(TextAnalysis.bpeTokens(col("text"))).cast("long").as("n_bpe"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_ws"))
        .orderBy("doc_id"),
      s"""WITH $toksCte
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
         |    AS BIGINT) AS n_bpe,
         |  CAST(len(toks) AS BIGINT) AS n_ws
         |FROM toks ORDER BY doc_id""".stripMargin),
    // --- LLM-pipeline: vocabulary + embedding aggregation -----------------
    Query("repetition", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +: TextAnalysis.repetitionColumns(col("text")): _*)
        .orderBy("doc_id"),
      s"""WITH $toksCte,
         |b AS (SELECT doc_id, toks,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(0, len(toks)-1),
         |           i -> array_to_string(list_slice(toks, i+1, i+2), ' '))
         |    ELSE [] END bigrams
         |  FROM toks)
         |SELECT doc_id,
         |  round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
         |    / greatest(CAST(len(toks) AS DOUBLE), 1.0), 4) AS dup_token_ratio,
         |  round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
         |    / greatest(CAST(len(bigrams) AS DOUBLE), 1.0), 4) AS dup_bigram_ratio
         |FROM b ORDER BY doc_id""".stripMargin),
    Query("sample_split", (s, dir) => {
      // downsample over-represented english to 50%, then assign
      // deterministic 80/10/10 train/val/test — both md5-threshold based
      val sampled = TextAnalysis.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang", Map("en" -> 0.5))
      sampled.select(col("lang"),
        TextAnalysis.assignSplit(col("doc_id"), 0.8, 0.1).as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    }, {
      val en = TextAnalysis.hexThreshold(0.5)
      val train = TextAnalysis.hexThreshold(0.8)
      val valT = TextAnalysis.hexThreshold(0.9)
      s"""WITH h AS (SELECT lang,
         |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) hb FROM documents),
         |sampled AS (SELECT * FROM h
         |  WHERE hb < CASE WHEN lang = 'en' THEN '$en' ELSE 'g' END)
         |SELECT lang,
         |  CASE WHEN hb < '$train' THEN 'train'
         |       WHEN hb < '$valT' THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM sampled GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
    }),
    Query("grouped_split", (s, dir) =>
      // LEAKAGE-SAFE split: the hash draw is on the SOURCE, not the doc,
      // so every document of one origin lands in the same split —
      // near-duplicates within a source can never straddle train/test
      // (the eval-contamination hazard of per-doc splitting). The
      // all-or-nothing property is the hashable fact: each (source,
      // split) pair carries the source's full doc count
      t(s, dir, "documents")
        .select(col("source"),
          TextAnalysis.assignSplit(col("source"), 0.6, 0.2).as("split"))
        .groupBy("source", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split"), {
      val train = TextAnalysis.hexThreshold(0.6)
      val valT = TextAnalysis.hexThreshold(0.8)
      s"""SELECT source,
         |  CASE WHEN substr(md5(source), 1, 8) < '$train' THEN 'train'
         |       WHEN substr(md5(source), 1, 8) < '$valT' THEN 'val'
         |       ELSE 'test' END AS split,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM documents GROUP BY 1, 2 ORDER BY source, split""".stripMargin
    }),
    Query("mix_quota", (s, dir) =>
      // curriculum mixing: every source downsampled toward a 600-token
      // quota, keep-rate derived from the measured per-source totals
      TextAnalysis.tokenQuotaSample(t(s, dir, "documents"),
          "doc_id", "text", "source", quotaTokens = 600L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source"),
      """WITH tl AS (SELECT doc_id, source,
        |  CAST(len(list_filter(regexp_split_to_array(text, ' +'),
        |    t -> t <> '')) AS BIGINT) n_tok
        |  FROM documents),
        |tot AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) tot
        |  FROM tl GROUP BY 1),
        |r AS (SELECT tl.doc_id, tl.source, tl.n_tok, 600.0 / tot.tot AS rate,
        |  printf('%08x', CAST(floor(600.0 / tot.tot * 4294967296) AS BIGINT)) thr
        |  FROM tl JOIN tot USING (source)),
        |kept AS (SELECT * FROM r
        |  WHERE rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < thr)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("temp_mix", (s, dir) =>
      // temperature-balanced source mixing (α = 1/2): budget split ∝
      // sqrt(source token mass) — integer-sqrt weights, exact-integer
      // normalizer, one IEEE division per source, md5 membership (see
      // TextAnalysis.temperatureMixSample)
      TextAnalysis.temperatureMixSample(t(s, dir, "documents"),
          "doc_id", "text", "source", budgetTokens = 1200L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("source"),
      // same integer-sqrt weights / exact normalizer / one-division
      // rate; HUGEINT products mirror the engine's DECIMAL(38) exactly
      """WITH tl AS (SELECT doc_id, source,
        |  CAST(len(list_filter(regexp_split_to_array(text, ' +'),
        |    t -> t <> '')) AS BIGINT) n_tok
        |  FROM documents),
        |tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tot
        |  FROM tl GROUP BY 1),
        |w AS (SELECT source, tot,
        |  CAST(floor(sqrt(CAST(tot AS DOUBLE))) AS BIGINT) AS w FROM tot),
        |norm AS (SELECT CAST(sum(w) AS BIGINT) AS sumw FROM w),
        |r AS (SELECT tl.doc_id, tl.source, tl.n_tok,
        |  CAST(CAST(1200 AS HUGEINT) * w.w AS DOUBLE)
        |    / CAST(CAST(norm.sumw AS HUGEINT) * w.tot AS DOUBLE) AS rate
        |  FROM tl JOIN w USING (source) CROSS JOIN norm),
        |kept AS (SELECT * FROM r WHERE rate >= 1.0
        |  OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |     < printf('%08x', CAST(floor(rate * 4294967296) AS BIGINT)))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("domain_cap", (s, dir) =>
      // RefinedWeb-style per-domain document cap: at most 40 docs kept
      // per source, chosen by the md5 permutation through the bounded
      // BottomK aggregate — cap-sized heap per partial, map-side
      // combine, never a whale-domain window sort (the oracle's
      // row_number spelling IS that window sort; answers must agree)
      Sampling.domainCapIds(t(s, dir, "documents"), "doc_id", "source", 40)
        .orderBy("source", "doc_id"),
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 40 ORDER BY source, doc_id""".stripMargin),
    Query("reservoir_sample", (s, dir) =>
      // deterministic uniform 100-doc sample of the whole corpus — a
      // reservoir sample with the randomness replaced by the md5
      // permutation, so the kept set is reproducible across retries,
      // repartitionings and engines (versionable, unlike seeded rand())
      Sampling.uniformSampleIds(t(s, dir, "documents"), "doc_id", 100)
        .orderBy("doc_id"),
      """SELECT doc_id FROM (
        |  SELECT doc_id FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin),
    Query("weighted_sample", (s, dir) =>
      // 50-doc Efraimidis–Spirakis sample weighted by document length —
      // longer docs proportionally likelier, yet fully deterministic
      // (the exponential keys derive from the md5 permutation, so the
      // oracle restates the identical arithmetic)
      Sampling.weightedSampleIds(t(s, dir, "documents"), "doc_id",
          "n_chars", 50)
        .orderBy("doc_id"),
      """SELECT doc_id FROM (
        |  SELECT doc_id FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0
        |  ORDER BY
        |    -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE),
        |    doc_id
        |  LIMIT 50)
        |ORDER BY doc_id""".stripMargin),
    Query("topk_group", (s, dir) =>
      // leaderboard: 5 most active users per event type through the
      // bounded TopK aggregate — k-sized heap per partial, map-side
      // combine, ≤ k pairs per (partition, group) on the shuffle. The
      // oracle's row_number spelling is the whale-hazard window sort
      // this form replaces; ranks on an exact integer count with
      // smaller-user_id tie-break, so both engines agree row-for-row
      Ranking.topKPerGroup(
          t(s, dir, "events")
            .groupBy("event_type", "user_id")
            .agg(count(lit(1)).as("n_events")),
          Seq("event_type"), "n_events", "user_id", 5,
          scoreName = "n_events")
        .orderBy("event_type", "rank"),
      """WITH pu AS (SELECT event_type, user_id,
        |  CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, rank, user_id, n_events FROM (
        |  SELECT event_type, user_id, n_events, CAST(row_number() OVER (
        |    PARTITION BY event_type
        |    ORDER BY n_events DESC, user_id) AS BIGINT) AS rank
        |  FROM pu)
        |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin),
    Query("cm_counts", (s, dir) => {
      // Count-Min point-frequency sketch: the exact top-20 tokens probe
      // the global sketch. Gates (hashable booleans, like hll_users):
      // CM never undercounts; overshoot stays within 16N/w (E[excess] =
      // N/w per row ⇒ P[>16N/w] ≤ 1/16 by Markov, minimum over d=4
      // rows ⇒ ≤ 16⁻⁴ per token — wide enough that the CM guarantee,
      // which is probabilistic, is not hash-gated at a tightness it
      // never promised; round-5 advice); and the union of per-lang
      // sketches answers EXACTLY like the one-shot global sketch —
      // element-wise-add merge is lossless, the store-once /
      // re-aggregate-forever property.
      val toks = t(s, dir, "documents")
        .select(col("lang"), TextAnalysis.tokens(col("text")).as("toks"))
      val global = toks.agg(FreqSketch.cmSketch(col("toks")).as("sk"),
        sum(size(col("toks"))).cast("long").as("n_total"))
      val merged = toks.groupBy("lang")
        .agg(FreqSketch.cmSketch(col("toks")).as("psk"))
        .agg(FreqSketch.cmMerge(col("psk")).as("msk"))
      val top = toks.select(explode(col("toks")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(20)
      val est = FreqSketch.cmEstimate(col("sk"), col("token"))
      val estMerged = FreqSketch.cmEstimate(col("msk"), col("token"))
      top.crossJoin(broadcast(global)).crossJoin(broadcast(merged))
        .select(col("token"), col("n_exact"),
          (est >= col("n_exact")).as("no_undercount"),
          (est.cast("double") <=
            col("n_exact") + lit(16.0) * col("n_total") / lit(2048.0))
            .as("within_eps"),
          (estMerged === est).as("merge_ok"))
        .orderBy(col("n_exact").desc, col("token"))
    },
      s"""WITH $toksCte,
         |t AS (SELECT unnest(toks) AS token FROM toks)
         |SELECT token, n_exact, TRUE AS no_undercount, TRUE AS within_eps,
         |  TRUE AS merge_ok
         |FROM (SELECT token, CAST(count(*) AS BIGINT) AS n_exact FROM t
         |      GROUP BY token ORDER BY n_exact DESC, token LIMIT 20)
         |ORDER BY n_exact DESC, token""".stripMargin),
    Query("scd2_history", (s, dir) =>
      // SCD Type-2 dimension history from the two orders snapshots:
      // every version becomes a row with valid_from/valid_to/is_current
      // — changed keys carry a closed old version + an open new one,
      // built in the diff join's own projection (no second shuffle)
      KeyDiff.scdType2(ordersOld(s, dir), ordersNew(s, dir),
          Seq("o_orderkey"), lit("1998-08-01"), lit("1998-09-01"))
        .orderBy("o_orderkey", "valid_from"),
      s"""WITH o AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
         |n AS ($ordersNewSql),
         |j AS (SELECT
         |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
         |       WHEN n.o_orderkey IS NULL THEN 'removed'
         |       WHEN o.o_custkey IS NOT DISTINCT FROM n.o_custkey
         |        AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
         |        AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
         |        AND o.o_orderdate IS NOT DISTINCT FROM n.o_orderdate
         |        AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority
         |       THEN 'unchanged' ELSE 'changed' END AS status,
         |  o.o_orderkey AS ok, o.o_custkey AS oc, o.o_orderstatus AS os,
         |  o.o_totalprice AS op, o.o_orderdate AS od, o.o_orderpriority AS opr,
         |  n.o_orderkey AS nk, n.o_custkey AS nc, n.o_orderstatus AS ns,
         |  n.o_totalprice AS np, n.o_orderdate AS nd, n.o_orderpriority AS npr
         |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         |SELECT * FROM (
         |  SELECT ok AS o_orderkey, oc AS o_custkey, os AS o_orderstatus,
         |    op AS o_totalprice, od AS o_orderdate, opr AS o_orderpriority,
         |    DATE '1998-08-01' AS valid_from, DATE '1998-09-01' AS valid_to,
         |    FALSE AS is_current
         |  FROM j WHERE status IN ('changed', 'removed')
         |  UNION ALL
         |  SELECT ok, oc, os, op, od, opr,
         |    DATE '1998-08-01', CAST(NULL AS DATE), TRUE
         |  FROM j WHERE status = 'unchanged'
         |  UNION ALL
         |  SELECT nk, nc, ns, np, nd, npr,
         |    DATE '1998-09-01', CAST(NULL AS DATE), TRUE
         |  FROM j WHERE status IN ('changed', 'added'))
         |ORDER BY o_orderkey, valid_from""".stripMargin),
    Query("ri_check", (s, dir) => {
      // referential-integrity audit: lineitem→orders holds on the full
      // parent (0 orphans — a property of the generated data the oracle
      // re-derives), and breaks by exactly the %7 keys when checked
      // against the pruned snapshot — the anti-join count is exact
      val li = t(s, dir, "lineitem")
      DataTests.referentialIntegrity(li, t(s, dir, "orders"),
          "l_orderkey", "o_orderkey")
        .withColumn("check_name", lit("full"))
        .unionByName(
          DataTests.referentialIntegrity(li, ordersOld(s, dir),
              "l_orderkey", "o_orderkey")
            .withColumn("check_name", lit("pruned")))
        .select("check_name", "n_child", "n_null_fk", "n_orphans", "ri_ok")
        .orderBy("check_name")
    },
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) n_child,
        |  CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    n_null_fk FROM lineitem),
        |o1 AS (SELECT CAST(count(*) AS BIGINT) n FROM lineitem l
        |  WHERE l_orderkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |o2 AS (SELECT CAST(count(*) AS BIGINT) n FROM lineitem l
        |  WHERE l_orderkey IS NOT NULL AND NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey
        |      AND o.o_orderkey % 7 <> 0))
        |SELECT 'full' AS check_name, n_child, n_null_fk,
        |  o1.n AS n_orphans, o1.n = 0 AS ri_ok FROM c, o1
        |UNION ALL
        |SELECT 'pruned', n_child, n_null_fk, o2.n, o2.n = 0 FROM c, o2
        |ORDER BY check_name""".stripMargin),
    Query("schema_drift", (s, dir) => {
      // structural companion to the row diff: column-level drift between
      // the orders snapshot and an evolved variant (one column dropped,
      // one retyped, one added) — driver-side metadata, oracle = the
      // literal expected classification
      import s.implicits._
      val o = t(s, dir, "orders")
      val evolved = o.drop("o_orderpriority")
        .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
        .withColumn("o_comment", lit("backfilled"))
      DataTests.schemaDiff(o, evolved)
        .toDF("column_name", "old_type", "new_type", "status")
        .orderBy("column_name")
    },
      """SELECT * FROM (VALUES
        |  ('o_comment', CAST(NULL AS VARCHAR), 'string', 'added'),
        |  ('o_custkey', 'bigint', 'bigint', 'unchanged'),
        |  ('o_orderdate', 'timestamp_ntz', 'timestamp_ntz', 'unchanged'),
        |  ('o_orderkey', 'bigint', 'bigint', 'unchanged'),
        |  ('o_orderpriority', 'string', CAST(NULL AS VARCHAR), 'removed'),
        |  ('o_orderstatus', 'string', 'string', 'unchanged'),
        |  ('o_totalprice', 'double', 'decimal(18,2)', 'changed')
        |) AS t(column_name, old_type, new_type, status)
        |ORDER BY column_name""".stripMargin),
    Query("cdc_apply", (s, dir) => {
      // MERGE a Debezium-style changeset into the orders snapshot:
      // deletes every 11th key, updates every 13th (price +50), inserts
      // the even keys the snapshot filter dropped — with overlapping
      // keys (e.g. %143 = both D and U) resolved by the LSN so the
      // highest-seq change wins. The oracle states the same final
      // image in pure CASE logic over membership arithmetic.
      val o = t(s, dir, "orders")
      val del = o.filter(col("o_orderkey") % 11 === 0)
        .withColumn("__op", lit("D")).withColumn("__seq", lit(1L))
      val upd = o.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 50)
        .withColumn("__op", lit("U")).withColumn("__seq", lit(2L))
      val ins = o.filter(col("o_orderkey") % 14 === 0)
        .withColumn("__op", lit("I")).withColumn("__seq", lit(3L))
      KeyDiff.applyChangeset(ordersOld(s, dir),
          del.unionByName(upd).unionByName(ins),
          Seq("o_orderkey"), "__op", "__seq")
        .orderBy("o_orderkey")
    },
      // Final-image restatement of the MERGE: latest-op precedence is
      // I (%14, seq 3) > U (%13, seq 2) > D (%11, seq 1). A key is
      // present iff an insert or upsert touched it, or it sat in the
      // snapshot (%7<>0) and no un-overridden delete (%11) removed it.
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 14 = 0 THEN o_totalprice
        |       WHEN o_orderkey % 13 = 0 THEN o_totalprice + 50
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders
        |WHERE o_orderkey % 14 = 0
        |   OR o_orderkey % 13 = 0
        |   OR (o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0)
        |ORDER BY o_orderkey""".stripMargin),
    Query("ivm_status", (s, dir) => {
      // incremental view maintenance: the per-status revenue rollup
      // stays current under the SAME changeset cdc_apply merges, via
      // stored-aggregate + changed-keys delta — never a re-scan of
      // unchanged rows. Money is cast to DECIMAL(18,2) BEFORE
      // maintenance: exact addition is associative, so the incremental
      // sum is bit-equal to the oracle's full re-aggregation (a float
      // sum would differ in summation order). Final cast to double
      // only for a type-stable hash surface.
      val dec = (d: DataFrame) => d.withColumn("o_totalprice",
        col("o_totalprice").cast("decimal(18,2)"))
      val o = t(s, dir, "orders")
      val del = o.filter(col("o_orderkey") % 11 === 0)
        .withColumn("__op", lit("D")).withColumn("__seq", lit(1L))
      val upd = o.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 50)
        .withColumn("__op", lit("U")).withColumn("__seq", lit(2L))
      val ins = o.filter(col("o_orderkey") % 14 === 0)
        .withColumn("__op", lit("I")).withColumn("__seq", lit(3L))
      // drive the TRUE-IVM entry point: the stored rollup is an input
      // (here bootstrapped once, in production read from storage) and the
      // snapshot is consulted only for changed-key before-images
      val snap = dec(ordersOld(s, dir))
      val stored = snap.groupBy("o_orderstatus")
        .agg(sum("o_totalprice").as("sum_value"), count(lit(1)).as("n_rows"))
      KeyDiff.incrementalAgg(snap, stored,
          dec(del.unionByName(upd).unionByName(ins)),
          Seq("o_orderkey"), Seq("o_orderstatus"), "o_totalprice",
          "__op", "__seq")
        .select(col("o_orderstatus"),
          col("sum_value").cast("double").as("sum_value"), col("n_rows"))
        .orderBy("o_orderstatus")
    },
      // full re-aggregation of the merged snapshot (the cdc_apply final
      // image) in the same exact DECIMAL arithmetic — what the
      // incremental stored-agg + delta path must reproduce bit-for-bit
      """WITH merged AS (
        |  SELECT o_orderstatus,
        |    CAST(CASE WHEN o_orderkey % 14 = 0 THEN o_totalprice
        |         WHEN o_orderkey % 13 = 0 THEN o_totalprice + 50
        |         ELSE o_totalprice END AS DECIMAL(18,2)) AS v
        |  FROM orders
        |  WHERE o_orderkey % 14 = 0
        |     OR o_orderkey % 13 = 0
        |     OR (o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0))
        |SELECT o_orderstatus, CAST(sum(v) AS DOUBLE) AS sum_value,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("chunk_docs", (s, dir) =>
      Chunking.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          md5(col("chunk_text")).as("chunk_md5"),
          col("chunk_n_tokens").cast("long").as("chunk_n_tokens"))
        .orderBy("doc_id", "chunk_idx"),
      s"""WITH $toksCte,
         |c AS (SELECT doc_id,
         |  unnest(list_transform(
         |    range(0, greatest(CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT), 1)),
         |    i -> {'idx': i,
         |          'md5': md5(array_to_string(
         |            list_slice(toks, i*24 + 1, i*24 + 32), ' ')),
         |          'n': least(len(toks) - i*24, 32)})) u
         |  FROM toks)
         |SELECT doc_id, CAST(u.idx AS INTEGER) AS chunk_idx,
         |  u.md5 AS chunk_md5, CAST(u.n AS BIGINT) AS chunk_n_tokens
         |FROM c WHERE u.n > 0 ORDER BY doc_id, chunk_idx""".stripMargin),
    Query("pack_bins", (s, dir) =>
      Chunking.pack(t(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 2000L, groupCols = Seq("lang"))
        .orderBy("lang", "doc_id"),
      s"""WITH $toksCte,
         |n AS (SELECT t.doc_id, d.lang,
         |  CAST(len(toks) AS BIGINT) n_tokens
         |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
         |c AS (SELECT lang, doc_id, n_tokens,
         |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |    ROWS UNBOUNDED PRECEDING) cum
         |  FROM n)
         |SELECT lang, doc_id, n_tokens,
         |  CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS bin
         |FROM c ORDER BY lang, doc_id""".stripMargin),
    Query("vocab_top", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(30),
      s"""WITH $toksCte
         |SELECT token, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest(toks) token FROM toks)
         |GROUP BY token ORDER BY n DESC, token LIMIT 30""".stripMargin),
    Query("vocab_by_lang", (s, dir) => {
      // per-stratum vocabulary head: the rank window runs over the
      // already-aggregated (lang, token) counts, partitioned by lang —
      // bounded by the vocabulary, never row-scaled
      val counts = t(s, dir, "documents")
        .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("token"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy("lang", "rank")
    },
      """WITH c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n
        |  FROM (SELECT lang, unnest(list_filter(
        |          regexp_split_to_array(text, ' +'), t -> t <> '')) AS token
        |        FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, token, n, rank FROM (
        |  SELECT lang, token, n, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY n DESC, token) AS INTEGER) AS rank FROM c)
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),
    Query("label_centroid", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("label", "pos")
        // + 0.0 normalizes IEEE negative zero (a centroid of symmetric
        // data can round to -0.0 on one engine and +0.0 on the other —
        // equal as numbers, different as hashed bytes); same term in the
        // oracle
        .agg((round(avg(col("x").cast("double")), 4) + lit(0.0)).as("centroid"))
        .orderBy("label", "pos"),
      """SELECT label, CAST(u.pos - 1 AS INTEGER) AS pos,
        |  round(avg(CAST(u.x AS DOUBLE)), 4) + 0.0 AS centroid
        |FROM (SELECT label, unnest(list_transform(embedding,
        |  (x, i) -> {'pos': i, 'x': x})) u FROM embeddings)
        |GROUP BY 1, 2 ORDER BY label, pos""".stripMargin),
    Query("shard_shuffle", (s, dir) =>
      // deterministic corpus shuffle + sharding: md5-permutation key,
      // hex-prefix shard, rank-in-shard position — one shard-keyed
      // shuffle, reproducible on any engine/partitioning/retry
      Sharding.shardShuffle(t(s, dir, "documents"), "doc_id", nShards = 32),
      """WITH ks AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(('0x' || substr(h, 1, 8))::BIGINT % 32 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY ('0x' || substr(h, 1, 8))::BIGINT % 32
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM ks ORDER BY shard, pos""".stripMargin)
  )
}
