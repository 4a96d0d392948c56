package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Decontam, Dedup, Fuzzy, Relevance, TextAnalysis,
  TextExtract, UrlNorm}

import Shared._

/** LLM-pipeline text queries: the dedup family (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, PPJoin, spans), text analysis, extraction,
  * decontamination and lexical search.
  */
object Text {

  /** Deterministic 1/8 md5-stratum of `documents` — the decade-evidence
    * input for the exact pair surfaces whose full-corpus exchanges
    * exceed the sandbox scratch disk at sf100. md5 of the stringified
    * key evaluates identically in Spark and DuckDB and is independent
    * of the fixture's replica arithmetic, so the stratum is a sound
    * uniform subsample at every SF.
    */
  private def stratDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 8 === 0)

  /** toksCte over the 1/8 md5(doc_id) stratum — see [[stratDocs]]. */
  private val stratToksCte =
    """toks AS (SELECT doc_id, text,
      |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
      |  FROM documents
      |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      |        % 8 = 0)""".stripMargin

  /** simhash64_pairs oracle, parameterized on the docs/toks CTE so the
    * full-corpus and md5-stratified gates share one spelling.
    */
  private def simhash64PairsOracle(toks: String): String =
    s"""WITH $toks,
       |h AS (SELECT doc_id, list_transform(toks, t -> md5(t)) hs FROM toks),
       |bb AS (SELECT doc_id, list_transform(range(0, 64), j ->
       |  CASE WHEN list_sum(list_transform(hs, h ->
       |    CASE WHEN ((strpos('0123456789abcdef', substr(h, (j//2)+1, 1)) - 1)
       |        >> (j%2)) & 1 = 1
       |    THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) bits FROM h),
       |s AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0,63), j ->
       |    bits[j+1] * (CAST(1 AS BIGINT) << j))) AS BIGINT)
       |  + CASE WHEN bits[64] = 1 THEN -9223372036854775808
       |         ELSE CAST(0 AS BIGINT) END AS sh
       |FROM bb),
       |banded AS (SELECT doc_id, sh, unnest(range(0,4)) band FROM s),
       |bv AS (SELECT doc_id, sh, band,
       |  (sh >> CAST(band*16 AS INTEGER)) & 65535 AS v FROM banded),
       |cand AS (SELECT a.doc_id a_id, b.doc_id b_id,
       |    min(bit_count(CAST(xor(a.sh, b.sh) AS BIT))) hamming
       |  FROM bv a JOIN bv b ON a.band = b.band AND a.v = b.v
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id, CAST(hamming AS INTEGER) AS hamming FROM cand
       |WHERE hamming <= 3 ORDER BY a_id, b_id""".stripMargin

  /** ngram_jaccard oracle, parameterized like [[simhash64PairsOracle]]. */
  private def ngramJaccardOracle(toks: String): String =
    s"""WITH $toks, $shinglesCte,
       |ex AS (SELECT doc_id, unnest(shingles) s FROM sh),
       |rare AS (SELECT s FROM ex GROUP BY s HAVING count(*) <= 1000),
       |pruned AS (SELECT doc_id, s FROM ex JOIN rare USING (s)),
       |sz AS (SELECT doc_id, count(*) n FROM ex GROUP BY 1),
       |shared AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
       |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT a_id, b_id,
       |  round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 4) AS jaccard
       |FROM shared JOIN sz x ON a_id = x.doc_id JOIN sz y ON b_id = y.doc_id
       |WHERE round(CAST(c AS DOUBLE) / CAST(x.n + y.n - c AS DOUBLE), 4) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  /** ppjoin_pairs oracle, parameterized like [[simhash64PairsOracle]]. */
  private def ppjoinPairsOracle(toks: String): String =
    s"""WITH $toks, $shinglesCte,
       |ex AS (SELECT doc_id, unnest(shingles) s FROM sh),
       |f AS (SELECT s, count(*) fc FROM ex GROUP BY s),
       |r AS (SELECT doc_id, s,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY fc, s) p,
       |    count(*) OVER (PARTITION BY doc_id) n
       |  FROM ex JOIN f USING (s)),
       |pre AS (SELECT doc_id, s, n FROM r WHERE p <= n // 2 + 1),
       |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
       |  FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id
       |    AND b.n <= 2*a.n AND a.n <= 2*b.n),
       |fs AS (SELECT doc_id, shingles, len(shingles) n FROM sh),
       |j AS (SELECT a_id, b_id,
       |    len(list_intersect(x.shingles, y.shingles)) c,
       |    x.n xn, y.n yn
       |  FROM cand JOIN fs x ON a_id = x.doc_id
       |    JOIN fs y ON b_id = y.doc_id)
       |SELECT a_id, b_id,
       |  round(CAST(c AS DOUBLE) / CAST(xn + yn - c AS DOUBLE), 4) AS jaccard
       |FROM j
       |WHERE round(CAST(c AS DOUBLE) / CAST(xn + yn - c AS DOUBLE), 4) >= 0.5
       |ORDER BY a_id, b_id""".stripMargin

  val queries: Seq[Query] = Seq(
    // --- LLM-pipeline: dedup / text / embeddings (first slice) ------------
    Query("dedup_group", (s, dir) => {
      t(s, dir, "documents")
        .groupBy("lang", "source")
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("group_size"))
        .orderBy("lang", "source")
    },
      """SELECT lang, source, min(doc_id) AS keep_doc_id,
        |  CAST(count(*) AS BIGINT) AS group_size
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin),
    Query("text_tokens", (s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_calc"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    // --- LLM-pipeline: dedup family (exact / MinHash+LSH / SimHash /
    // n-gram Jaccard) over `documents` ------------------------------------
    Query("dedup_exact", (s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fingerprint"),
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS group_size
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("minhash_sig", (s, dir) =>
      Dedup.minhashSignatures(docsSpread(s, dir), "doc_id", "text")
        .select(col("doc_id"), concat_ws(",", col("sig")).as("sig"))
        .orderBy("doc_id"),
      s"""WITH $toksCte, $shinglesCte, $sigsCte
         |SELECT doc_id, array_to_string(sig, ',') AS sig
         |FROM sigs ORDER BY doc_id""".stripMargin),
    Query("lsh_pairs", (s, dir) =>
      Dedup.lshCandidates(
        Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", bands = 4, rowsPerBand = 2)
        .orderBy("a_id", "b_id"),
      s"""WITH $toksCte, $shinglesCte, $sigsCte,
         |bands AS (SELECT doc_id, sig, b.band,
         |  md5(array_to_string(list_slice(sig, band*2+1, band*2+2), ',')) bh
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b)
         |SELECT a.doc_id AS a_id, c.doc_id AS b_id,
         |  CAST(count(*) AS BIGINT) AS n_bands,
         |  round(CAST(min(len(list_filter(range(1, 9),
         |    i -> a.sig[i] = c.sig[i]))) AS DOUBLE) / 8.0, 4) AS est_jaccard
         |FROM bands a JOIN bands c
         |  ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
         |GROUP BY a.doc_id, c.doc_id
         |ORDER BY a_id, b_id""".stripMargin),
    Query("simhash16", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
        .orderBy("doc_id"),
      s"""WITH $toksCte,
         |h AS (SELECT doc_id, list_transform(toks, t -> md5(t)) hs FROM toks)
         |SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), j ->
         |  CASE WHEN list_sum(list_transform(hs, h ->
         |      CASE WHEN substr(h, j+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM h ORDER BY doc_id""".stripMargin),
    Query("ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id"), ngramJaccardOracle(toksCte)),
    Query("snm_pairs", (s, dir) =>
      // sorted-neighborhood candidates over the normalized-prefix key:
      // the oracle is the single-sort row_number spelling (one
      // partition); the engine's range-split + ghost-patched windows
      // must reproduce its pairs exactly
      Dedup.sortedNeighborPairs(t(s, dir, "documents"), "doc_id",
          substring(TextAnalysis.normalizeText(col("text")), 1, 24), w = 5)
        .orderBy("a_id", "b_id"),
      """WITH k AS (SELECT doc_id,
        |  substr(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 24) AS key
        |  FROM documents),
        |r AS (SELECT doc_id, key,
        |  row_number() OVER (ORDER BY key, doc_id) AS rk
        |  FROM k WHERE key IS NOT NULL)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 4
        |ORDER BY a_id, b_id""".stripMargin),
    Query("ppjoin_pairs", (s, dir) =>
      // EXACT Jaccard>=0.5 pairs via prefix filtering — the oracle is
      // the UNCAPPED all-pairs shingle join, so a green hash proves the
      // prefix+length filters dropped no true pair on this corpus
      Dedup.ppjoinPairs(docsSpread(s, dir), "doc_id", "text")
        .orderBy("a_id", "b_id"),
      // Independent PPJoin spelling with the PROVABLY LOSSLESS bounds
      // (so the oracle stays sf10-feasible — the earlier all-pairs
      // shingle join was quadratic-infeasible at 500k docs):
      //  - prefix theorem: under ANY global shingle total order, two
      //    sets with |A∩B| >= ceil(t/(1+t)·(|A|+|B|)) share an element
      //    within each one's first n − ceil(t·n) + 1 elements; for
      //    t = 1/2 that prefix length is exactly n//2 + 1 (integer).
      //  - length filter: J >= 1/2 forces max(|A|,|B|) <= 2·min (exact
      //    integers, no float eps anywhere).
      // The SQL uses its own order (frequency, then shingle string —
      // NOT the Spark side's xxhash64-fingerprint order), then exact
      // set intersection on the candidates only. Rounding headroom: at
      // union size u the largest sub-threshold Jaccard is 1/2 − 1/(2u),
      // which rounds to >= 0.5 only past u = 10^4 — two orders above
      // any document's shingle count in this corpus. Spelled in
      // [[ppjoinPairsOracle]], shared with the md5-stratified gate.
      ppjoinPairsOracle(toksCte)),
    Query("group_sketch", (s, dir) => {
      val sigs = Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text")
        .join(t(s, dir, "documents").select("doc_id", "lang"), "doc_id")
      Dedup.groupSketch(sigs, Seq("lang")).orderBy("lang")
    }, {
      val mins = (1 to 8).map(i => s"min(sig[$i])").mkString(", ")
      s"""WITH $toksCte, $shinglesCte, $sigsCte,
         |j AS (SELECT d.lang, s.sig FROM sigs s
         |      JOIN documents d ON s.doc_id = d.doc_id)
         |SELECT lang, array_to_string([$mins], ',') AS sketch
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin
    }),
    Query("corpus_clean", (s, dir) =>
      Dedup.cleanCorpus(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      """WITH q AS (SELECT doc_id, text, lang, source, n_chars FROM (
        |    SELECT *, list_filter(regexp_split_to_array(text, ' +'),
        |      t -> t <> '') toks FROM documents)
        |  WHERE len(toks) >= 20),
        |keep AS (SELECT min(doc_id) doc_id FROM q GROUP BY md5(text)),
        |k AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
        |toks2 AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM k),
        |sh2 AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(0, len(toks)-2),
        |           i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
        |    ELSE [array_to_string(toks, ' ')] END shingles
        |  FROM toks2),
        |sigs2 AS (SELECT doc_id, list_transform(range(0, 8), j ->
        |  list_min(list_transform(shingles,
        |    s -> md5(CAST(j AS VARCHAR) || '|' || s)))) sig
        |  FROM sh2),
        |bands2 AS (SELECT doc_id, sig, b.band,
        |  md5(array_to_string(list_slice(sig, band*2+1, band*2+2), ',')) bh
        |  FROM sigs2 CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
        |pairs AS (SELECT a.doc_id a_id, c.doc_id b_id,
        |  round(CAST(min(len(list_filter(range(1, 9),
        |    i -> a.sig[i] = c.sig[i]))) AS DOUBLE) / 8.0, 4) est
        |  FROM bands2 a JOIN bands2 c
        |    ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
        |  GROUP BY a.doc_id, c.doc_id),
        |losers AS (SELECT DISTINCT b_id FROM pairs WHERE est >= 0.75)
        |SELECT doc_id, lang, source, n_chars FROM k
        |WHERE doc_id NOT IN (SELECT b_id FROM losers)
        |ORDER BY doc_id""".stripMargin),
    Query("pipeline_e2e", (s, dir) => {
      // the full pre-training prep path as ONE query: quality gate →
      // exact dedup → LSH near-dup removal → benchmark decontamination →
      // per-source token-quota sampling. Each stage is individually
      // oracle-gated elsewhere; this proves the COMPOSITION is
      // hash-reproducible end-to-end.
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 37 === 0)
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val cleaned = Dedup.cleanCorpus(corpus, "doc_id", "text")
      val decon = Decontam.removeContaminated(cleaned, evalSet, "doc_id", "text")
      TextAnalysis.tokenQuotaSample(decon, "doc_id", "text", "source",
        quotaTokens = 400L)
        .select(col("doc_id"), col("source"), col("n_tok"))
        .orderBy("doc_id")
    },
      """WITH q AS (SELECT doc_id, text, lang, source, n_chars FROM (
        |    SELECT *, list_filter(regexp_split_to_array(text, ' +'),
        |      t -> t <> '') toks FROM documents WHERE doc_id % 37 <> 0)
        |  WHERE len(toks) >= 20),
        |keep AS (SELECT min(doc_id) doc_id FROM q GROUP BY md5(text)),
        |k AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
        |toks2 AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM k),
        |sh2 AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(0, len(toks)-2),
        |           i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
        |    ELSE [array_to_string(toks, ' ')] END shingles
        |  FROM toks2),
        |sigs2 AS (SELECT doc_id, list_transform(range(0, 8), j ->
        |  list_min(list_transform(shingles,
        |    s -> md5(CAST(j AS VARCHAR) || '|' || s)))) sig
        |  FROM sh2),
        |bands2 AS (SELECT doc_id, sig, b.band,
        |  md5(array_to_string(list_slice(sig, band*2+1, band*2+2), ',')) bh
        |  FROM sigs2 CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
        |pairs AS (SELECT a.doc_id a_id, c.doc_id b_id,
        |  round(CAST(min(len(list_filter(range(1, 9),
        |    i -> a.sig[i] = c.sig[i]))) AS DOUBLE) / 8.0, 4) est
        |  FROM bands2 a JOIN bands2 c
        |    ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
        |  GROUP BY a.doc_id, c.doc_id),
        |losers AS (SELECT DISTINCT b_id FROM pairs WHERE est >= 0.75),
        |cleaned AS (SELECT * FROM k
        |  WHERE doc_id NOT IN (SELECT b_id FROM losers)),
        |evtoks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM documents WHERE doc_id % 37 = 0),
        |evsh AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(0, len(toks)-2),
        |           i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
        |    ELSE [array_to_string(toks, ' ')] END) s
        |  FROM evtoks),
        |ctoks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM cleaned),
        |csh AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(0, len(toks)-2),
        |           i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
        |    ELSE [array_to_string(toks, ' ')] END) s
        |  FROM ctoks),
        |hit AS (SELECT DISTINCT csh.doc_id FROM csh JOIN evsh USING (s)),
        |decon AS (SELECT * FROM cleaned
        |  WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
        |tl AS (SELECT doc_id, source,
        |  CAST(len(list_filter(regexp_split_to_array(text, ' +'),
        |    t -> t <> '')) AS BIGINT) n_tok
        |  FROM decon),
        |tot AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) tot
        |  FROM tl GROUP BY 1),
        |r AS (SELECT tl.doc_id, tl.source, tl.n_tok, 400.0 / tot.tot AS rate,
        |  printf('%08x', CAST(floor(400.0 / tot.tot * 4294967296) AS BIGINT)) thr
        |  FROM tl JOIN tot USING (source))
        |SELECT doc_id, source, n_tok FROM r
        |WHERE rate >= 1.0 OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < thr
        |ORDER BY doc_id""".stripMargin),
    Query("corpus_clean_cc", (s, dir) =>
      Dedup.cleanCorpusTransitive(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      """WITH RECURSIVE q AS (SELECT doc_id, text, lang, source, n_chars FROM (
        |    SELECT *, list_filter(regexp_split_to_array(text, ' +'),
        |      t -> t <> '') toks FROM documents)
        |  WHERE len(toks) >= 20),
        |keep AS (SELECT min(doc_id) doc_id FROM q GROUP BY md5(text)),
        |k AS (SELECT q.* FROM q JOIN keep USING (doc_id)),
        |toks2 AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM k),
        |sh2 AS (SELECT doc_id,
        |  CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(0, len(toks)-2),
        |           i -> array_to_string(list_slice(toks, i+1, i+3), ' ')))
        |    ELSE [array_to_string(toks, ' ')] END shingles
        |  FROM toks2),
        |sigs2 AS (SELECT doc_id, list_transform(range(0, 8), j ->
        |  list_min(list_transform(shingles,
        |    s -> md5(CAST(j AS VARCHAR) || '|' || s)))) sig
        |  FROM sh2),
        |bands2 AS (SELECT doc_id, sig, b.band,
        |  md5(array_to_string(list_slice(sig, band*2+1, band*2+2), ',')) bh
        |  FROM sigs2 CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
        |pairs AS (SELECT a.doc_id a_id, c.doc_id b_id,
        |  round(CAST(min(len(list_filter(range(1, 9),
        |    i -> a.sig[i] = c.sig[i]))) AS DOUBLE) / 8.0, 4) est
        |  FROM bands2 a JOIN bands2 c
        |    ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
        |  GROUP BY a.doc_id, c.doc_id),
        |good AS (SELECT a_id, b_id FROM pairs WHERE est >= 0.75),
        |edges AS (SELECT a_id s, b_id d FROM good
        |  UNION SELECT b_id, a_id FROM good),
        |walk AS (
        |  SELECT s AS id, s AS comp FROM edges
        |  UNION
        |  SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id
        |),
        |labels AS (SELECT id, min(comp) comp FROM walk GROUP BY id),
        |losers AS (SELECT id FROM labels WHERE comp <> id)
        |SELECT doc_id, lang, source, n_chars FROM k
        |WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin),
    Query("simhash_pairs", (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id"),
      s"""WITH $toksCte,
         |h AS (SELECT doc_id, list_transform(toks, t -> md5(t)) hs FROM toks),
         |s AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), j ->
         |  CASE WHEN list_sum(list_transform(hs, h ->
         |      CASE WHEN substr(h, j+1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
         |  THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END)) AS BIGINT) sh
         |  FROM h),
         |bands AS (SELECT doc_id, sh, b.band, (sh >> (band*8)) & 255 v
         |  FROM s CROSS JOIN (SELECT unnest(range(0, 2)) AS band) b)
         |SELECT a_id, b_id, hamming FROM (
         |  SELECT a.doc_id a_id, c.doc_id b_id,
         |    CAST(min(bit_count(xor(a.sh, c.sh))) AS INTEGER) hamming
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.v = c.v AND a.doc_id < c.doc_id
         |  GROUP BY 1, 2)
         |WHERE hamming <= 0 ORDER BY a_id, b_id""".stripMargin),
    Query("dedup_clusters", (s, dir) => {
      // transitive near-dup clusters over the LSH candidate pairs at the
      // cleanCorpus threshold: the pair list says who touches whom; the
      // component says which GROUP survives as one representative
      val pairs = Dedup.lshCandidates(
        Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id", bands = 4, rowsPerBand = 2)
        .filter(col("est_jaccard") >= 0.75)
      Dedup.components(pairs, "a_id", "b_id")
        .select(col("a_id").as("doc_id"), col("comp"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE $toksCte, $shinglesCte, $sigsCte,
         |bands AS (SELECT doc_id, sig, b.band,
         |  md5(array_to_string(list_slice(sig, band*2+1, band*2+2), ',')) bh
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |pairs AS (SELECT a.doc_id AS a_id, c.doc_id AS b_id,
         |  round(CAST(min(len(list_filter(range(1, 9),
         |    i -> a.sig[i] = c.sig[i]))) AS DOUBLE) / 8.0, 4) AS est_jaccard
         |FROM bands a JOIN bands c
         |  ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
         |GROUP BY a.doc_id, c.doc_id),
         |good AS (SELECT a_id, b_id FROM pairs WHERE est_jaccard >= 0.75),
         |edges AS (SELECT a_id s, b_id d FROM good
         |  UNION SELECT b_id, a_id FROM good),
         |walk AS (
         |  SELECT s AS id, s AS comp FROM edges
         |  UNION
         |  SELECT e.d, w.comp FROM walk w JOIN edges e ON e.s = w.id
         |)
         |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS comp
         |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("simhash64", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
        .orderBy("doc_id"),
      s"""WITH $toksCte,
         |h AS (SELECT doc_id, list_transform(toks, t -> md5(t)) hs FROM toks),
         |bb AS (SELECT doc_id, list_transform(range(0, 64), j ->
         |  CASE WHEN list_sum(list_transform(hs, h ->
         |    CASE WHEN ((strpos('0123456789abcdef', substr(h, (j//2)+1, 1)) - 1)
         |        >> (j%2)) & 1 = 1
         |    THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) bits FROM h)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0,63), j ->
         |    bits[j+1] * (CAST(1 AS BIGINT) << j))) AS BIGINT)
         |  + CASE WHEN bits[64] = 1 THEN -9223372036854775808
         |         ELSE CAST(0 AS BIGINT) END AS simhash
         |FROM bb ORDER BY doc_id""".stripMargin),
    Query("simhash64_pairs", (s, dir) =>
      Dedup.simhash64Pairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id"), simhash64PairsOracle(toksCte)),
    // Hash-stratified variants of the three EXACT pair surfaces: the
    // sf100 decade-evidence path. The full-corpus spellings exceed the
    // sandbox's scratch disk at sf100 (3.4:1 scratch:data — BASELINE.md
    // round-12; linear and green at sf10), so the decade gate runs the
    // same operator over a deterministic 1/8 md5(doc_id) stratum —
    // ~625k sf100 docs, MORE than the full sf10 corpus and carrying
    // sf100's replica-correlated vocabulary-head distribution (the
    // shape that inflates the exchanges). md5 on the stringified key is
    // engine-agnostic (identical in Spark and DuckDB) and independent
    // of ScaleUp's replica arithmetic, so the stratum decorrelates from
    // fixture structure (TESTDATA.md). Oracles re-spell the same
    // stratum predicate in the docs CTE.
    Query("ppjoin_pairs_strat", (s, dir) =>
      // pinParallelism=false: the 1/8 stratum is deliberately small at
      // the test SFs, and the full-width pinned exchanges that rescue
      // the corpus-scale run serialize to pure task-dispatch overhead
      // here (0.78 s -> 1.64 s at sf0.1 when pinned) — AQE sizes the
      // slice's stages correctly
      Dedup.ppjoinPairs(stratDocs(s, dir), "doc_id", "text",
          pinParallelism = false)
        .orderBy("a_id", "b_id"), ppjoinPairsOracle(stratToksCte)),
    Query("ngram_jaccard_strat", (s, dir) =>
      Dedup.ngramJaccardPairs(stratDocs(s, dir), "doc_id", "text")
        .orderBy("a_id", "b_id"), ngramJaccardOracle(stratToksCte)),
    Query("simhash64_pairs_strat", (s, dir) =>
      Dedup.simhash64Pairs(stratDocs(s, dir), "doc_id", "text")
        .orderBy("a_id", "b_id"), simhash64PairsOracle(stratToksCte)),
    // --- LLM-pipeline: text analysis --------------------------------------
    Query("text_norm", (s, dir) => {
      val norm = TextAnalysis.normalizeText(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(norm).as("norm_md5"),
          length(norm).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    },
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) norm FROM documents)
        |SELECT doc_id, md5(norm) AS norm_md5,
        |  CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin),
    Query("winnow", (s, dir) =>
      docsSpread(s, dir)
        .select(col("doc_id"),
          TextAnalysis.winnow(col("text")).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fp"),
          md5(concat_ws(",", col("fps"))).as("fp_digest"))
        .orderBy("doc_id"),
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN length(text) < 8 THEN [md5(text)]
        |    ELSE list_transform(range(0, length(text)-8+1),
        |           i -> md5(substr(text, i+1, 8)))
        |  END hs FROM documents),
        |wmins AS (SELECT doc_id,
        |  list_sort(list_distinct(list_transform(
        |    range(0, greatest(len(hs) - 4 + 1, 1)),
        |    i -> list_min(list_slice(hs, i+1, i+least(4, len(hs))))))) fps
        |  FROM g)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |  md5(array_to_string(fps, ',')) AS fp_digest
        |FROM wmins ORDER BY doc_id""".stripMargin),
    Query("winnow_overlap", (s, dir) =>
      Dedup.winnowOverlapPairs(docsSpread(s, dir), "doc_id", "text")
        .orderBy("a_id", "b_id"),
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN length(text) < 8 THEN [md5(text)]
        |    ELSE list_transform(range(0, length(text)-8+1),
        |           i -> md5(substr(text, i+1, 8)))
        |  END hs FROM documents),
        |wmins AS (SELECT doc_id,
        |  list_distinct(list_transform(
        |    range(0, greatest(len(hs) - 4 + 1, 1)),
        |    i -> list_min(list_slice(hs, i+1, i+least(4, len(hs)))))) fps
        |  FROM g),
        |fp AS (SELECT doc_id, unnest(fps) f FROM wmins),
        |rare AS (SELECT f FROM fp GROUP BY f HAVING count(*) <= 10),
        |fpr AS (SELECT fp.doc_id, fp.f FROM fp JOIN rare USING (f)),
        |pairs AS (SELECT a.doc_id a_id, b.doc_id b_id,
        |  CAST(count(*) AS BIGINT) shared
        |  FROM fpr a JOIN fpr b ON a.f = b.f AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, shared FROM pairs WHERE shared >= 10
        |ORDER BY a_id, b_id""".stripMargin),
    Query("lang_id", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(toks).as("pred_lang"),
        TextAnalysis.langScore(toks, TextAnalysis.langMarkers.head._2)
          .cast("long").as("en_hits"))
        .orderBy("doc_id")
    }, {
      val scores = TextAnalysis.langMarkers.map { case (l, m) =>
        l -> s"len(list_intersect(list_distinct(toks), [${m.map("'" + _ + "'").mkString(", ")}]))"
      }
      val cases = scores.zipWithIndex.init.map { case ((l, s), i) =>
        val later = scores.drop(i + 1).map(_._2)
        s"WHEN ${later.map(o => s"$s >= $o").mkString(" AND ")} THEN '$l'"
      }.mkString(" ")
      s"""WITH $toksCte
         |SELECT doc_id,
         |  CASE $cases ELSE '${scores.last._1}' END AS pred_lang,
         |  CAST(${scores.head._2} AS BIGINT) AS en_hits
         |FROM toks ORDER BY doc_id""".stripMargin
    }),
    Query("text_quality", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id") +: TextAnalysis.qualityColumns(col("text")): _*)
        .orderBy("doc_id"), {
      val stops = TextAnalysis.stopwords.map("'" + _ + "'").mkString(", ")
      s"""WITH $toksCte,
         |f AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS BIGINT) n_punct,
         |  CAST(len(list_filter(toks, t ->
         |    list_contains([$stops], t))) AS DOUBLE) /
         |    greatest(CAST(len(toks) AS DOUBLE), 1.0) stop_r,
         |  CAST(len(regexp_extract_all(text, '[^a-z0-9\\s]')) AS DOUBLE) /
         |    greatest(CAST(length(text) AS DOUBLE), 1.0) punct_r
         |  FROM toks)
         |SELECT doc_id, n_tokens, n_punct, round(stop_r, 4) AS stop_ratio,
         |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         |    * (1.0 - punct_r) * (0.5 + 0.5 * stop_r), 4) AS quality
         |FROM f ORDER BY doc_id""".stripMargin
    }),
    Query("fingerprint", (s, dir) =>
      docsSpread(s, dir)
        .select(col("doc_id") +: TextAnalysis.fingerprintColumns(col("text")): _*)
        .orderBy("doc_id"),
      """SELECT doc_id, md5(text) AS content_md5,
        |  CASE WHEN length(text) >= 8
        |    THEN list_min(list_transform(range(0, length(text)-7),
        |           i -> md5(substr(text, i+1, 8))))
        |    ELSE md5(text) END AS rolling_min
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("html_extract", (s, dir) =>
      // Boilerplate/HTML main-text extraction (trafilatura/Arc90 rule
      // family) — the step BEFORE every other text query in a real
      // pipeline. documents carries clean text, so the query first
      // applies the deterministic synthetic HTML wrap (head matter,
      // all-link nav/footer boilerplate, <p> paragraphs cycling inline
      // markup / entities / citation links), then runs the single-pass
      // native extractor; the oracle rebuilds the same bytes and
      // extracts with regexp/string ops. Map-only at any scale.
      TextExtract.extract(
        TextExtract.syntheticHtml(docsSpread(s, dir), "doc_id", "text"),
        "html")
        .orderBy("doc_id"),
      // Oracle rebuilds the synthetic HTML byte-for-byte (same wrap
      // grammar as TextExtract.syntheticHtml), then extracts with
      // regexp/string ops: <p>/<div> blocks, tag strip, &amp;/&nbsp;
      // decode, whitespace normalize, and the integer link-density
      // keep rule 2*link <= total on decoded pre-normalization text.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') words FROM documents),
        |ph AS (SELECT doc_id, words,
        |  CAST(ceil(len(words) / 25.0) AS BIGINT) np FROM d),
        |h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id || '</title>' ||
        |  '<style>body { color: #fff; }</style>' ||
        |  '<script>var x = ' || doc_id ||
        |    '; if (x < 2) { x = x + 1; }</script>' ||
        |  '</head><body>' ||
        |  '<div class="nav"><a href="/home">home</a> ' ||
        |    '<a href="/about">about</a> <a href="/s?id=' || doc_id ||
        |    '">source</a></div>' ||
        |  array_to_string(list_transform(range(0, np), k ->
        |    '<p>' ||
        |    CASE CAST(k % 3 AS INTEGER)
        |      WHEN 0 THEN array_to_string(words[k*25+1 : k*25+25], ' ')
        |      WHEN 1 THEN '<b>' || words[k*25+1] || '</b> &amp; ' ||
        |        substr(array_to_string(words[k*25+1 : k*25+25], ' '),
        |          length(words[k*25+1]) + 2, 1000000) || '&nbsp;'
        |      ELSE '<a href="/ref">' || words[k*25+1] || '</a>' ||
        |        CASE WHEN length(substr(
        |            array_to_string(words[k*25+1 : k*25+25], ' '),
        |            length(words[k*25+1]) + 2, 1000000)) > 0
        |          THEN ' ' || substr(
        |            array_to_string(words[k*25+1 : k*25+25], ' '),
        |            length(words[k*25+1]) + 2, 1000000)
        |          ELSE '' END
        |    END || '</p>'), '') ||
        |  '<div class="footer"><a href="/next">next page</a></div>' ||
        |  '</body></html>' AS html FROM ph),
        |x AS (SELECT doc_id,
        |  list_transform(regexp_extract_all(html, '<p>(.*?)</p>', 1), p -> {
        |    'norm': trim(regexp_replace(replace(replace(
        |      regexp_replace(p, '<[^>]*>', '', 'g'),
        |      '&amp;', '&'), '&nbsp;', ' '), '\s+', ' ', 'g')),
        |    'total': length(replace(replace(
        |      regexp_replace(p, '<[^>]*>', '', 'g'),
        |      '&amp;', '&'), '&nbsp;', ' ')),
        |    'link': coalesce(length(array_to_string(
        |      regexp_extract_all(p, '<a[^>]*>(.*?)</a>', 1), '')), 0)}) ps,
        |  list_transform(regexp_extract_all(html, '<div[^>]*>(.*?)</div>', 1), p -> {
        |    'norm': trim(regexp_replace(replace(replace(
        |      regexp_replace(p, '<[^>]*>', '', 'g'),
        |      '&amp;', '&'), '&nbsp;', ' '), '\s+', ' ', 'g')),
        |    'total': length(replace(replace(
        |      regexp_replace(p, '<[^>]*>', '', 'g'),
        |      '&amp;', '&'), '&nbsp;', ' ')),
        |    'link': coalesce(length(array_to_string(
        |      regexp_extract_all(p, '<a[^>]*>(.*?)</a>', 1), '')), 0)}) ds
        |  FROM h),
        |f AS (SELECT doc_id,
        |  list_filter(ps, b -> length(b.norm) > 0 AND 2*b.link <= b.total) keep_ps,
        |  len(list_filter(ps, b -> length(b.norm) > 0 AND 2*b.link > b.total)) drop_ps,
        |  list_filter(ds, b -> length(b.norm) > 0 AND 2*b.link <= b.total) keep_ds,
        |  len(list_filter(ds, b -> length(b.norm) > 0 AND 2*b.link > b.total)) drop_ds
        |  FROM x)
        |SELECT doc_id,
        |  array_to_string(list_transform(keep_ps, b -> b.norm), chr(10)) AS clean,
        |  CAST(len(keep_ps) + len(keep_ds) AS INTEGER) AS kept_blocks,
        |  CAST(drop_ps + drop_ds AS INTEGER) AS dropped_blocks
        |FROM f ORDER BY doc_id""".stripMargin),
    Query("url_norm", (s, dir) =>
      // URL-level dedup, the FIRST dedup pass of a crawl pipeline: RFC
      // 3986 syntax normalization + tracking-param strip, then one hash
      // aggregate on the canonical string (no sort, no window; output
      // bounded by the canonical key space). The messy URLs derive
      // deterministically from (doc_id, source) in pure built-ins — the
      // syntheticHtml pattern — so the oracle rebuilds the same bytes;
      // a per-doc-unique gclid means NOTHING collides unless the strip
      // rules all fire.
      UrlNorm.dedupByCanonical(
        UrlNorm.syntheticUrls(t(s, dir, "documents"), "doc_id", "source"),
        "doc_id", "url")
        .orderBy("canonical_url"),
      // Oracle rebuilds the messy URLs byte-for-byte (same grammar as
      // UrlNorm.syntheticUrls), canonicalizes with the same RFC-3986
      // rule set (lowercase scheme/host, www. strip, default-port strip,
      // fragment drop, trailing-slash strip, tracking-param strip +
      // param sort), and rolls up by canonical string.
      """WITH u AS (SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
        |    (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END) ||
        |    '.Example.COM' ||
        |    (CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN ':80'
        |          WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END) ||
        |    (CASE WHEN doc_id % 17 = 0 THEN ''
        |          ELSE '/Articles/' || (doc_id % 20) ||
        |            (CASE WHEN doc_id % 3 = 1 THEN '/' ELSE '' END) END) ||
        |    '?' ||
        |    (CASE WHEN doc_id % 2 = 0
        |          THEN 'utm_source=feed&z=' || (doc_id % 3) || '&page=' ||
        |            (doc_id % 4) || '&gclid=g' || doc_id
        |          ELSE 'page=' || (doc_id % 4) || '&ref=r' || doc_id ||
        |            '&z=' || (doc_id % 3) END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN '#sec-' || (doc_id % 7)
        |          ELSE '' END) AS url
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(
        |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        |      '^.*@', '') AS hostport,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query0
        |  FROM u),
        |g AS (SELECT doc_id, scheme,
        |    CASE WHEN starts_with(hostport, '[')
        |         THEN lower(regexp_extract(hostport, '^(\[[^\]]*\])', 1))
        |         ELSE regexp_replace(lower(string_split(hostport, ':')[1]),
        |                '^www\.', '') END AS host,
        |    CASE WHEN starts_with(hostport, '[')
        |         THEN regexp_extract(hostport, '^\[[^\]]*\]:([^:]*)$', 1)
        |         WHEN len(string_split(hostport, ':')) > 1
        |         THEN string_split(hostport, ':')[2] ELSE '' END AS port,
        |    CASE WHEN regexp_replace(path0, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(path0, '/+$', '') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(query0, '&'),
        |      p -> p <> '' AND NOT (starts_with(string_split(p, '=')[1], 'utm_') OR
        |        string_split(p, '=')[1] IN ('fbclid', 'gclid', 'ref')))), '&') AS canonq
        |  FROM f)
        |SELECT scheme || '://' || host ||
        |    (CASE WHEN port <> '' AND
        |          NOT ((scheme = 'http' AND port = '80') OR
        |               (scheme = 'https' AND port = '443'))
        |          THEN ':' || port ELSE '' END) ||
        |    path ||
        |    (CASE WHEN canonq <> '' THEN '?' || canonq ELSE '' END)
        |      AS canonical_url,
        |  CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS kept_doc
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("decontam", (s, dir) => {
      // eval/benchmark set = every 37th doc; report each remaining doc's
      // shingle overlap with it (the pre-training hygiene pass)
      val docs = t(s, dir, "documents")
      Decontam.overlapReport(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    },
      s"""WITH $toksCte, $shinglesCte,
         |ex AS (SELECT doc_id, unnest(shingles) s FROM sh),
         |ev AS (SELECT doc_id AS eval_id, s FROM ex WHERE doc_id % 37 = 0),
         |tr AS (SELECT doc_id, s FROM ex WHERE doc_id % 37 <> 0)
         |SELECT tr.doc_id,
         |  CAST(count(DISTINCT tr.s) AS BIGINT) AS n_shingles_hit,
         |  CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
         |FROM tr JOIN ev ON tr.s = ev.s
         |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin),
    Query("bm25_search", (s, dir) =>
      Relevance.bm25(t(s, dir, "documents"), "doc_id", "text",
        terms = Seq("join", "window", "vector")),
      s"""WITH $toksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) dl FROM toks),
         |st AS (SELECT CAST(count(*) AS DOUBLE) n,
         |         CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
         |tf AS (SELECT doc_id, t term, CAST(count(*) AS DOUBLE) tf
         |  FROM (SELECT doc_id, unnest(toks) t FROM toks)
         |  WHERE t IN ('join','window','vector') GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY 1)
         |SELECT tf.doc_id, round(sum(
         |    ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
         |    tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
         |  ), 4) AS bm25
         |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin),
    Query("hybrid_search", (s, dir) =>
      // RAG-curation retrieval: BM25 shortlist pruned corpus-side, dense
      // cosine rerank touches only the broadcast shortlist
      Relevance.hybridSearch(t(s, dir, "documents"), t(s, dir, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("join", "window", "vector"), queryVecId = 0L,
        shortlist = 50, topK = 10),
      s"""WITH $toksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) dl FROM toks),
         |st AS (SELECT CAST(count(*) AS DOUBLE) n,
         |         CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
         |tf AS (SELECT doc_id, t term, CAST(count(*) AS DOUBLE) tf
         |  FROM (SELECT doc_id, unnest(toks) t FROM toks)
         |  WHERE t IN ('join','window','vector') GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY 1),
         |lex AS (SELECT tf.doc_id, round(sum(
         |    ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
         |    tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
         |  ), 4) AS bm25
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
         |mx AS (SELECT max(bm25) AS mx FROM lex),
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
         |  sqrt(list_sum(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) nrm
         |  FROM embeddings),
         |q AS (SELECT v, nrm FROM e WHERE vec_id = 0),
         |r AS (SELECT lex.doc_id, lex.bm25,
         |  round(list_sum(list_transform(range(1, len(e.v)+1),
         |    i -> e.v[i] * q.v[i])) / (e.nrm * q.nrm), 4) AS cos,
         |  mx.mx
         |  FROM lex JOIN e ON lex.doc_id = e.vec_id
         |  CROSS JOIN q CROSS JOIN mx
         |  WHERE lex.doc_id <> 0)
         |SELECT doc_id, bm25, cos,
         |  round(0.5 * bm25 / mx + 0.5 * cos, 4) AS blend
         |FROM r ORDER BY blend DESC, doc_id LIMIT 10""".stripMargin),
    Query("rrf_fusion", (s, dir) =>
      // score-free hybrid: reciprocal-rank fusion of the BM25 and dense
      // cosine shortlists (1/(60+rank) per ranker) — immune to
      // score-scale drift between the two rankers
      Relevance.rrfFusion(t(s, dir, "documents"), t(s, dir, "embeddings"),
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("join", "window", "vector"), queryVecId = 0L,
        shortlist = 50, topK = 10),
      s"""WITH $toksCte,
         |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) dl FROM toks),
         |st AS (SELECT CAST(count(*) AS DOUBLE) n,
         |         CAST(sum(dl) AS DOUBLE) / count(*) avgdl FROM dl),
         |tf AS (SELECT doc_id, t term, CAST(count(*) AS DOUBLE) tf
         |  FROM (SELECT doc_id, unnest(toks) t FROM toks)
         |  WHERE t IN ('join','window','vector') GROUP BY 1, 2),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY 1),
         |lex AS (SELECT tf.doc_id, round(sum(
         |    ln((st.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
         |    tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))
         |  ), 4) AS bm25
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
         |  GROUP BY tf.doc_id ORDER BY bm25 DESC, doc_id LIMIT 50),
         |lexr AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS BIGINT) lex_rank FROM lex),
         |e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v,
         |  sqrt(list_sum(list_transform(embedding,
         |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) nrm
         |  FROM embeddings),
         |q AS (SELECT v, nrm FROM e WHERE vec_id = 0),
         |dense AS (SELECT e.vec_id doc_id,
         |  round(list_sum(list_transform(range(1, len(e.v)+1),
         |    i -> e.v[i] * q.v[i])) / (e.nrm * q.nrm), 4) AS cos
         |  FROM e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY cos DESC, doc_id LIMIT 50),
         |denser AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY cos DESC, doc_id) AS BIGINT) dense_rank FROM dense)
         |SELECT doc_id,
         |  round(coalesce(1.0/(60 + lex_rank), 0)
         |      + coalesce(1.0/(60 + dense_rank), 0), 6) AS rrf,
         |  lex_rank, dense_rank
         |FROM lexr FULL OUTER JOIN denser USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
    Query("redact_pii", (s, dir) => {
      // the corpus text carries no PII, so the query plants a synthetic
      // email/URL/IP per row (doc_id-derived, oracle-reproducible) and
      // verifies detection counts + the redacted-text digest
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or https://ex.example.org/d/"),
        col("doc_id").cast("string"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
      docsSpread(s, dir)
        .select(col("doc_id").as("doc_id"), aug.as("text"))
        .select(col("doc_id") +: TextAnalysis.piiCounts(col("text")) :+
          md5(TextAnalysis.redactPii(col("text"))).as("red_md5"): _*)
        .orderBy("doc_id")
    }, {
      val Seq((emailRe, emailTok), (urlRe, urlTok), (ipRe, ipTok)) =
        graft.ops.TextAnalysis.piiPatterns
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' contact user' || doc_id
         |    || '@mail.example.com or https://ex.example.org/d/' || doc_id
         |    || ' from 10.0.' || (doc_id % 256) || '.7' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text, '$urlRe')) AS BIGINT) AS n_url,
         |  CAST(len(regexp_extract_all(text, '$ipRe')) AS BIGINT) AS n_ip,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |    '$emailRe', '$emailTok', 'g'),
         |    '$urlRe', '$urlTok', 'g'),
         |    '$ipRe', '$ipTok', 'g')) AS red_md5
         |FROM aug ORDER BY doc_id""".stripMargin
    }),
    Query("lang_id_char", (s, dir) => {
      val padded = concat(lit(" "), col("text"), lit(" "))
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langIdChar(padded).as("pred_lang"),
        TextAnalysis.langScoreChar(padded, TextAnalysis.langMarkers.head._2)
          .as("en_occ"))
        .orderBy("doc_id")
    }, {
      def occ(m: String) =
        s"CAST((length(pt) - length(replace(pt, ' $m ', ''))) // length(' $m ') AS BIGINT)"
      val score = graft.ops.TextAnalysis.langMarkers
        .map { case (l, ms) => l -> ms.map(occ).mkString("(", " + ", ")") }.toMap
      val langs = graft.ops.TextAnalysis.langMarkers.map(_._1)
      val whens = langs.init.zipWithIndex.map { case (l, i) =>
        val conds = langs.drop(i + 1)
          .map(l2 => s"${score(l)} >= ${score(l2)}").mkString(" AND ")
        s"WHEN $conds THEN '$l'"
      }.mkString(" ")
      s"""WITH p AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM documents)
         |SELECT doc_id, CASE $whens ELSE '${langs.last}' END AS pred_lang,
         |  ${score("en")} AS en_occ
         |FROM p ORDER BY doc_id""".stripMargin
    }),
    // --- round-7 additions: sub-document dedup, fuzzy name join ------------
    Query("span_dedup", (s, dir) =>
      // Lee et al. exact substring dedup: every duplicated 8-token span
      // keeps only its first (doc, pos) occurrence corpus-wide; the pages
      // survive, the pasted boilerplate paragraph does not
      Dedup.spanDedup(t(s, dir, "documents"), "doc_id", "text", spanLen = 8)
        .orderBy("doc_id"),
      // first-(doc,pos)-occurrence ownership per 8-token span; every other
      // occurrence's positions are scrubbed and survivors re-joined
      s"""WITH $toksCte,
         |sp AS (SELECT doc_id, unnest(range(0, len(toks)-7)) AS i, toks
         |  FROM toks WHERE len(toks) >= 8),
         |spans AS (SELECT doc_id, i,
         |  array_to_string(toks[i+1:i+8], ' ') AS span FROM sp),
         |rn AS (SELECT doc_id, i, row_number()
         |    OVER (PARTITION BY span ORDER BY doc_id, i) AS rn FROM spans),
         |cov AS (SELECT DISTINCT doc_id, p FROM
         |  (SELECT doc_id, unnest(range(i, i+8)) AS p FROM rn WHERE rn > 1)),
         |tp AS (SELECT doc_id, unnest(range(0, len(toks))) AS p, toks
         |  FROM toks),
         |tok AS (SELECT doc_id, p, toks[p+1] AS tok FROM tp),
         |kept AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
         |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
         |  WHERE cov.p IS NULL),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS ct
         |  FROM kept GROUP BY 1),
         |rem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nr
         |  FROM cov GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  coalesce(rem.nr, 0) AS n_removed,
         |  coalesce(agg.ct, '') AS clean_text
         |FROM toks t
         |LEFT JOIN rem ON t.doc_id = rem.doc_id
         |LEFT JOIN agg ON t.doc_id = agg.doc_id
         |ORDER BY t.doc_id""".stripMargin),
    Query("dup_spans", (s, dir) =>
      // the audit twin of span_dedup: per doc, the MAXIMAL contiguous
      // token intervals covered by corpus-duplicated spans (overlapping
      // fixed-width hits merged gaps-and-islands style) — where the
      // boilerplate lives and how long it really is
      Dedup.maximalDupSpans(t(s, dir, "documents"), "doc_id", "text",
        spanLen = 8),
      // same duplicated-position construction as span_dedup, then the
      // gaps-and-islands merge: consecutive covered positions share
      // p - row_number() within their doc
      s"""WITH $toksCte,
         |sp AS (SELECT doc_id, unnest(range(0, len(toks)-7)) AS i, toks
         |  FROM toks WHERE len(toks) >= 8),
         |spans AS (SELECT doc_id, i,
         |  array_to_string(toks[i+1:i+8], ' ') AS span FROM sp),
         |rn AS (SELECT doc_id, i, row_number()
         |    OVER (PARTITION BY span ORDER BY doc_id, i) AS rn FROM spans),
         |cov AS (SELECT DISTINCT doc_id, p FROM
         |  (SELECT doc_id, unnest(range(i, i+8)) AS p FROM rn WHERE rn > 1)),
         |isl AS (SELECT doc_id, p, p - row_number()
         |    OVER (PARTITION BY doc_id ORDER BY p) AS g FROM cov)
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS start_tok,
         |  CAST(max(p) AS BIGINT) AS end_tok,
         |  CAST(count(*) AS BIGINT) AS n_tokens
         |FROM isl GROUP BY doc_id, g ORDER BY doc_id, start_tok""".stripMargin),
    Query("edit_pairs", (s, dir) =>
      // SymSpell deletion-neighborhood join: every customer-name pair at
      // Levenshtein distance 1, via a variant equi-join — O(n·L) variant
      // rows + one hash join, never the n² cross join (the oracle IS the
      // blocked all-pairs formulation, independently derived)
      Fuzzy.editJoin1(t(s, dir, "customer"), "c_name"),
      // Deletion-variant candidates (provably complete for distance 1,
      // so the oracle stays sf10-feasible — the earlier length-blocked
      // all-pairs join was quadratic at 1.5M names): if lev(a,b) = 1
      // then either it's a substitution at position i (both share the
      // delete-at-i variant) or an insert/delete (the longer's deletion
      // at that position IS the shorter word, which list_prepend keeps
      // in its own variant list). Exact levenshtein still verifies
      // every candidate — DuckDB's own edit-distance kernel, not the
      // Spark side's.
      """WITH v AS (SELECT DISTINCT c_name AS w FROM customer
        |  WHERE c_name IS NOT NULL AND len(c_name) >= 2),
        |ex AS (SELECT w, unnest(list_prepend(w,
        |    list_transform(range(1, len(w) + 1), i ->
        |      substr(w, 1, CAST(i - 1 AS INTEGER)) ||
        |      substr(w, CAST(i + 1 AS INTEGER), 100000)))) var
        |  FROM v),
        |cand AS (SELECT DISTINCT a.w wa, b.w wb
        |  FROM ex a JOIN ex b ON a.var = b.var AND a.w < b.w)
        |SELECT wa AS name_a, wb AS name_b,
        |  CAST(levenshtein(wa, wb) AS BIGINT) AS dist
        |FROM cand
        |WHERE levenshtein(wa, wb) = 1
        |ORDER BY name_a, name_b""".stripMargin)
  )
}
