package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{DataTests, Dedup, Dsir, EventAnalytics, Expectations,
  Linkage, QualityClf, Quantiles, Ranking, Similarity, TextAnalysis}

import Shared._

/** Statistics queries: tokenizer induction and information content,
  * language models, drift and outlier tests, release audits,
  * Fellegi–Sunter linkage and exact-arithmetic statistics.
  */
object Stats {

  // graft.ops.Stats: inside this object its own name would shadow an import
  private val Stats = graft.ops.Stats

  /** FS-scored candidate pairs over rank-bucket blocks — the shared
    * front half of `fs_linkage` (per-nation rollup) and `fs_clusters`
    * (transitive entity resolution). Scale shape documented at the
    * fs_linkage registry entry.
    */
  private def fsScoredPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Linkage.FsField
    val c0 = t(s, dir, "customer")
      .withColumn("cents", round(col("c_acctbal") * 100, 0).cast("long"))
      .withColumn("sortkey",
        col("c_nationkey").cast("long") * 100000000L +
          col("cents") + 1000000L)
    val c = Linkage.rankBlocks(c0, "sortkey", "c_custkey", occupancy = 16)
    Linkage.fsSelfLinkage(c, "c_custkey", Seq("c_nationkey", "blk"),
      Seq(FsField("seg", col("c_mktsegment"), 0.9),
        FsField("name2", substring(col("c_name"), -2, 2), 0.9),
        FsField("cents2", col("cents"), 0.95)))
  }

  /** Per-doc cross-entropy under the corpus's own add-one-smoothed bigram
    * LM — the model behind `perplexity` and `ccnet_bucket`: (doc_id,
    * n_pairs, cross_entropy). Scoring the corpus under its own LM makes
    * every pair in-vocabulary, so the smoothing never hits the
    * unseen-pair branch (deterministic). Scale shape: the LM is an
    * aggregate of the corpus's own pair stream and GROWS with corpus
    * vocabulary — it is NOT broadcast (a fixed shipped KenLM artifact
    * would be); the score join rides an ordinary pair-key shuffle, which
    * AQE is free to convert to broadcast at runtime when the realized LM
    * is small. At web scale prune the LM head first — same shape.
    */
  private def bigramCe(docs: DataFrame): DataFrame = {
    // Deliberately NO pair-keyed barrier here (tried in round 15,
    // reverted on measurement): a repartition(pair) barrier lets the LM
    // aggregate and the score join share one exchange, but the exchange
    // moves the RAW corpus pair stream (long strings), and measured at
    // sf0.1 that shuffle costs more than re-running the codegen'd
    // explode on a second scan (perplexity 1.19 s → 1.57 s with the
    // barrier, ccnet_bucket 2.04 s → 2.5+ s). Recompute-over-move is
    // the right trade for cheap map-side expressions; contrast
    // ngramJaccardPairs, whose re-derived subtree (shingle explode +
    // distinct) is far more expensive than its exchange.
    val pairs = docs.select(col("doc_id"),
      explode(TextAnalysis.mergePairs(col("text"))).as("pair"))
    val lm = pairs.groupBy("pair")
      .agg(count(lit(1)).cast("double").as("n_ab"))
      .withColumn("w1", split(col("pair"), " ").getItem(0))
    val pre = lm.groupBy("w1").agg(sum(col("n_ab")).as("n_w1"))
    val v = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("__v"))
    val prob = lm.join(pre, "w1").crossJoin(broadcast(v))
      .select(col("pair"),
        ((col("n_ab") + 1.0) / (col("n_w1") + col("__v"))).as("prob"))
    pairs.join(prob, "pair")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pairs"),
        round(-avg(log2(col("prob"))), 4).as("cross_entropy"))
  }

  val queries: Seq[Query] = Seq(
    // --- tokenizer induction / information content ------------------------
    Query("bpe_merge", (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextAnalysis.mergePairs(col("text"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20),
      s"""WITH $toksCte
         |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(toks)),
         |           i -> toks[i] || ' ' || toks[i+1])) AS pair
         |  FROM toks WHERE len(toks) >= 2)
         |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    Query("doc_entropy", (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenEntropy(col("text")).as("entropy"))
        .orderBy("doc_id"),
      s"""WITH $toksCte,
         |cnt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
         |        FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
         |        GROUP BY 1, 2),
         |tot AS (SELECT doc_id, sum(c) AS n, sum(c * log2(c)) AS sclog
         |        FROM cnt GROUP BY 1)
         |SELECT doc_id, round(log2(n) - sclog / n, 4) AS entropy
         |FROM tot ORDER BY doc_id""".stripMargin),
    Query("oov_rate", (s, dir) =>
      TextAnalysis.oovRate(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 30)
        .orderBy("doc_id"),
      s"""WITH $toksCte,
         |per AS (SELECT doc_id, unnest(toks) AS token FROM toks),
         |vocab AS (SELECT token FROM per GROUP BY token
         |          ORDER BY count(*) DESC, token LIMIT 30)
         |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  round(CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 4) AS oov_rate
         |FROM per p LEFT JOIN vocab v ON p.token = v.token
         |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin),
    Query("textrank", (s, dir) =>
      graft.ops.TextRank.keywords(t(s, dir, "documents"), "text",
        damping = 0.85, iters = 10, topK = 20), {
      val iterCtes = (1 to 10).map { i =>
        s"""p$i AS (SELECT e.b AS t,
           |  round(0.15 + 0.85 * sum(e.frac * p${i - 1}.pr), 12) AS pr
           |  FROM e JOIN p${i - 1} ON e.a = p${i - 1}.t GROUP BY e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $toksCte,
         |dirp AS (SELECT pair, CAST(count(*) AS DOUBLE) AS w FROM (
         |    SELECT unnest(list_transform(range(1, len(toks)),
         |      i -> toks[i] || ' ' || toks[i+1])) AS pair
         |    FROM toks WHERE len(toks) >= 2) GROUP BY pair),
         |de AS (SELECT split_part(pair, ' ', 1) AS a,
         |         split_part(pair, ' ', 2) AS b, w
         |       FROM dirp
         |       WHERE split_part(pair, ' ', 1) <> split_part(pair, ' ', 2)),
         |ue AS (SELECT a, b, sum(w) AS w FROM (
         |    SELECT a, b, w FROM de
         |    UNION ALL SELECT b AS a, a AS b, w FROM de) GROUP BY a, b),
         |ow AS (SELECT a, sum(w) AS wout FROM ue GROUP BY a),
         |e AS (SELECT ue.a, ue.b, ue.w / ow.wout AS frac
         |      FROM ue JOIN ow USING (a)),
         |p0 AS (SELECT DISTINCT a AS t, 1.0 AS pr FROM e),
         |$iterCtes
         |SELECT t AS token, round(pr, 4) AS rank FROM p10
         |ORDER BY rank DESC, token LIMIT 20""".stripMargin
    }),
    Query("contrastive", (s, dir) =>
      Dedup.contrastiveTriplets(t(s, dir, "documents"), "doc_id", "text",
        minEstJaccard = 0.5)
        .orderBy("anchor", "positive"),
      s"""WITH $toksCte, $shinglesCte, $sigsCte,
         |bands AS (SELECT doc_id, sig, b.band,
         |  md5(array_to_string(list_slice(sig, band*2+1, band*2+2), ',')) bh
         |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
         |pairs AS (SELECT a.doc_id AS anchor, c.doc_id AS positive,
         |  round(CAST(min(len(list_filter(range(1, 9),
         |    i -> a.sig[i] = c.sig[i]))) AS DOUBLE) / 8.0, 4) AS est
         |  FROM bands a JOIN bands c
         |    ON a.band = c.band AND a.bh = c.bh AND a.doc_id < c.doc_id
         |  GROUP BY a.doc_id, c.doc_id),
         |p AS (SELECT anchor, positive FROM pairs WHERE est >= 0.5),
         |mx AS (SELECT max(doc_id) AS m FROM documents),
         |t AS (SELECT anchor, positive,
         |  CASE WHEN (anchor*7919+13) % (m+1) <> anchor
         |        AND (anchor*7919+13) % (m+1) <> positive
         |       THEN (anchor*7919+13) % (m+1)
         |       WHEN (anchor*7919+14) % (m+1) <> anchor
         |        AND (anchor*7919+14) % (m+1) <> positive
         |       THEN (anchor*7919+14) % (m+1)
         |       ELSE (anchor*7919+15) % (m+1) END AS negative
         |  FROM p CROSS JOIN mx)
         |SELECT anchor, positive, negative FROM t
         |WHERE negative IN (SELECT doc_id FROM documents)
         |ORDER BY anchor, positive""".stripMargin),
    Query("bigram_lm", (s, dir) => {
      // conditional bigram probabilities P(w2|w1): bigram counts aggregate
      // first (map-side combined), the prefix normalizer is a window over
      // the already-aggregated vocab²-bounded relation — never raw tokens
      val pairs = t(s, dir, "documents")
        .select(explode(TextAnalysis.mergePairs(col("text"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(split(col("pair"), " ").getItem(0))
      pairs
        .withColumn("p_cond", round(
          col("n").cast("double") / sum(col("n")).over(w).cast("double"), 4))
        .orderBy(col("n").desc, col("pair")).limit(30)
    },
      s"""WITH $toksCte,
         |pr AS (SELECT unnest(list_transform(range(1, len(toks)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS pair
         |       FROM toks WHERE len(toks) >= 2),
         |cnt AS (SELECT pair, CAST(count(*) AS BIGINT) AS n
         |        FROM pr GROUP BY pair)
         |SELECT pair, n, round(CAST(n AS DOUBLE) /
         |  CAST(sum(n) OVER (PARTITION BY split_part(pair, ' ', 1))
         |    AS DOUBLE), 4) AS p_cond
         |FROM cnt ORDER BY n DESC, pair LIMIT 30""".stripMargin),
    Query("perplexity", (s, dir) =>
      // the classic LLM quality filter: per-doc cross-entropy under the
      // corpus bigram LM (add-one smoothed) — see bigramCe for the model
      // and its scale shape (LM rides a key shuffle, never a broadcast).
      bigramCe(t(s, dir, "documents"))
        .select("doc_id", "n_pairs", "cross_entropy")
        .orderBy("doc_id"),
      s"""WITH $toksCte,
         |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS pair
         |       FROM toks WHERE len(toks) >= 2),
         |lm AS (SELECT pair, CAST(count(*) AS DOUBLE) AS n_ab
         |       FROM pr GROUP BY pair),
         |pre AS (SELECT split_part(pair, ' ', 1) AS w1, sum(n_ab) AS n_w1
         |        FROM lm GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v
         |       FROM (SELECT unnest(toks) AS t FROM toks)),
         |p AS (SELECT lm.pair, (lm.n_ab + 1.0) / (pre.n_w1 + vv.v) AS prob
         |      FROM lm JOIN pre ON split_part(lm.pair, ' ', 1) = pre.w1
         |      CROSS JOIN vv)
         |SELECT pr.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(-avg(log2(p.prob)), 4) AS cross_entropy
         |FROM pr JOIN p USING (pair)
         |GROUP BY pr.doc_id ORDER BY pr.doc_id""".stripMargin),
    Query("ccnet_bucket", (s, dir) => {
      // CCNet-style quality bucketing (Wenzek et al., LREC 2020): score
      // every doc under the corpus bigram LM (the perplexity query's
      // model), then cut each language's score distribution into
      // head / middle / tail terciles — the standard crawl-quality
      // stratification before mixing. Tercile assignment is the exact
      // integer rank rule rn*3 <= cnt / rn*3 <= 2*cnt over the total
      // order (cross_entropy, doc_id) — identical in both engines —
      // but computed the way CCNet computes it at corpus scale: the
      // per-language cut points (the rows at ranks ⌊n/3⌋ and ⌊2n/3⌋)
      // come from Quantiles.exactRankSelect's fully parallel two-pass
      // distributed selection, then every doc classifies MAP-SIDE with
      // two composite comparisons against the broadcast cut table
      // (2 rows per language). rn <= ⌊n/3⌋ ⟺ (ce, doc_id) <= the
      // rank-⌊n/3⌋ row's key, since (ce, doc_id) is a total order —
      // bit-identical to the row_number spelling (pinned by
      // PipelineOpsSpec) with no per-language global sort: the round-11
      // window form sent each language's entire corpus slice through
      // ONE reducer.
      val docs = t(s, dir, "documents")
      // built twice (cut-point pass + classify pass) — the winsorize
      // pattern: recomputing a linear pipeline beats persisting a
      // corpus-sized intermediate at scale
      def scored = bigramCe(docs)
        .select("doc_id", "cross_entropy")
        .join(docs.select("doc_id", "lang"), "doc_id")
      val cuts = Quantiles.exactRankSelect(scored, Seq("lang"),
        Seq("cross_entropy", "doc_id"),
        n => Seq(("head", n / 3), ("middle", 2 * n / 3)))
      val cutKey = struct(col("cross_entropy").as("ce"), col("doc_id").as("id"))
      val cutsWide = cuts.groupBy("lang").agg(
        max(when(col("rank_name") === "head", cutKey)).as("__c1"),
        max(when(col("rank_name") === "middle", cutKey)).as("__c2"))
      scored.join(broadcast(cutsWide), "lang")
        .withColumn("bucket",
          when(col("__c1").isNotNull && cutKey <= col("__c1"), "head")
            .when(col("__c2").isNotNull && cutKey <= col("__c2"), "middle")
            .otherwise("tail"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("cross_entropy").as("min_ce"),
          max("cross_entropy").as("max_ce"))
        .orderBy("lang", "bucket")
    },
      // perplexity's LM CTEs + per-lang tercile cut on the exact integer
      // rule rn*3 <= cnt / rn*3 <= 2*cnt over (cross_entropy, doc_id)
      s"""WITH $toksCte,
         |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |         i -> toks[i] || ' ' || toks[i+1])) AS pair
         |       FROM toks WHERE len(toks) >= 2),
         |lm AS (SELECT pair, CAST(count(*) AS DOUBLE) AS n_ab
         |       FROM pr GROUP BY pair),
         |pre AS (SELECT split_part(pair, ' ', 1) AS w1, sum(n_ab) AS n_w1
         |        FROM lm GROUP BY 1),
         |vv AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v
         |       FROM (SELECT unnest(toks) AS t FROM toks)),
         |p AS (SELECT lm.pair, (lm.n_ab + 1.0) / (pre.n_w1 + vv.v) AS prob
         |      FROM lm JOIN pre ON split_part(lm.pair, ' ', 1) = pre.w1
         |      CROSS JOIN vv),
         |ce AS (SELECT pr.doc_id,
         |         round(-avg(log2(p.prob)), 4) AS cross_entropy
         |       FROM pr JOIN p USING (pair) GROUP BY pr.doc_id),
         |cl AS (SELECT ce.doc_id, d.lang, ce.cross_entropy,
         |         row_number() OVER (PARTITION BY d.lang
         |           ORDER BY ce.cross_entropy, ce.doc_id) AS rn,
         |         count(*) OVER (PARTITION BY d.lang) AS cnt
         |       FROM ce JOIN documents d ON ce.doc_id = d.doc_id)
         |SELECT lang,
         |  CASE WHEN rn*3 <= cnt THEN 'head'
         |       WHEN rn*3 <= cnt*2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  min(cross_entropy) AS min_ce, max(cross_entropy) AS max_ce
         |FROM cl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("quality_clf", (s, dir) =>
      // fastText-style linear quality classifier: hashed-bigram features
      // scored map-side against a broadcast m-row weight table, exact
      // integer margins — see ops/QualityClf for the model and the
      // 100 TB plan (model bounded by m, never corpus vocabulary)
      QualityClf.score(docsSpread(s, dir), "doc_id", "text",
        QualityClf.hashWeights(s, 256), m = 256)
        .orderBy("doc_id"),
      // same 256-bucket md5 feature hash as Dsir; the weight table is
      // rebuilt from the same md5 expression as QualityClf.hashWeights;
      // margins are exact integer sums — no float anywhere
      """WITH tk AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM documents),
        |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS pair
        |  FROM tk WHERE len(toks) >= 2),
        |pb AS (SELECT doc_id,
        |    (('0x' || substr(md5(pair), 1, 8))::BIGINT % 256) AS b FROM pr),
        |w AS (SELECT b,
        |    (('0x' || substr(md5('w:' || b), 1, 8))::BIGINT % 201 - 100) AS w
        |  FROM (SELECT unnest(range(0, 256)) AS b))
        |SELECT pb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  CAST(sum(w.w) AS BIGINT) AS score,
        |  CASE WHEN sum(w.w) > 0 THEN 'keep' ELSE 'drop' END AS label
        |FROM pb JOIN w USING (b)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("dsir_scores", (s, dir) => {
      // DSIR importance scoring (Xie et al. 2023): rank every raw doc by
      // how much its hashed-bigram profile resembles the target domain
      // (here the German slice) — mean log((p_b+1)/(P+m)) −
      // log((q_b+1)/(Q+m)) over the doc's 256-bucket hashed bigrams.
      // Model side is one m-row broadcast; the corpus streams map-side.
      val docs = t(s, dir, "documents")
      Dsir.dsirScores(docs, docs.filter(col("lang") === "de"),
          "doc_id", "text", m = 256)
        .orderBy("doc_id")
    },
      // same 256-bucket md5 feature hash, add-one smoothing and
      // textually-parallel float formula as Dsir.dsirScores
      """WITH tk AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(text, ' +'), t -> t <> '') toks
        |  FROM documents),
        |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS pair
        |  FROM tk WHERE len(toks) >= 2),
        |pb AS (SELECT doc_id,
        |    (('0x' || substr(md5(pair), 1, 8))::BIGINT % 256) AS b FROM pr),
        |tpr AS (SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS pair
        |  FROM tk WHERE lang = 'de' AND len(toks) >= 2),
        |tb AS (SELECT
        |    (('0x' || substr(md5(pair), 1, 8))::BIGINT % 256) AS b FROM tpr),
        |q AS (SELECT b, CAST(count(*) AS BIGINT) AS nq FROM pb GROUP BY 1),
        |p AS (SELECT b, CAST(count(*) AS BIGINT) AS np FROM tb GROUP BY 1),
        |qt AS (SELECT CAST(sum(nq) AS BIGINT) AS qtot FROM q),
        |pt AS (SELECT CAST(sum(np) AS BIGINT) AS ptot FROM p),
        |lr AS (SELECT q.b,
        |    ln((CAST(coalesce(p.np, 0) AS DOUBLE) + 1.0)
        |       / (CAST(pt.ptot AS DOUBLE) + 256.0))
        |  - ln((CAST(q.nq AS DOUBLE) + 1.0)
        |       / (CAST(qt.qtot AS DOUBLE) + 256.0)) AS lr
        |  FROM q LEFT JOIN p USING (b) CROSS JOIN pt CROSS JOIN qt)
        |SELECT pb.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(avg(lr), 4) + 0.0 AS dsir_score
        |FROM pb JOIN lr USING (b)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("dup_by_source", (s, dir) =>
      // which ingest sources are duplicate-heavy: exact-hash distinct per
      // source rides Spark's two-level partial-distinct aggregate
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique"))
        .withColumn("dup_rate", round(
          lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 4))
        .orderBy("source"),
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
        |  round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |    / count(*), 4) AS dup_rate
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    Query("assoc_rules", (s, dir) =>
      // market-basket co-occurrence over each user's event-type set:
      // one basket-keyed exchange feeds both pair-join sides, totals
      // ride broadcasts; exact counts, single-division scores
      EventAnalytics.associationRules(t(s, dir, "events"),
        "user_id", "event_type"),
      // exact counts end-to-end; each score is one IEEE division (or
      // one product each side for lift) over exact integers
      """WITH it AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM it),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM it GROUP BY 1),
        |p AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM it a JOIN it b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.n_ab, ca.c AS n_a, cb.c AS n_b,
        |  round(CAST(p.n_ab AS DOUBLE)/CAST(n.nu AS DOUBLE), 9) AS support,
        |  round(CAST(p.n_ab AS DOUBLE)/CAST(ca.c AS DOUBLE), 9) AS conf_ab,
        |  round(CAST(p.n_ab AS DOUBLE)/CAST(cb.c AS DOUBLE), 9) AS conf_ba,
        |  round((CAST(p.n_ab AS DOUBLE)*CAST(n.nu AS DOUBLE)) /
        |    (CAST(ca.c AS DOUBLE)*CAST(cb.c AS DOUBLE)), 9) AS lift
        |FROM p JOIN c ca ON p.item_a = ca.event_type
        |  JOIN c cb ON p.item_b = cb.event_type CROSS JOIN n
        |ORDER BY item_a, item_b""".stripMargin),
    Query("psi_drift", (s, dir) =>
      // scalar-feature drift (PSI) of the doc-length distribution
      // between two ingest feeds — one mergeable (bin-counted) pass
      // over the rows, Laplace-smoothed, per-bin contributions visible
      Stats.psiDrift(t(s, dir, "documents"), "source", "n_chars",
        binWidth = 100L, groupA = "src0", groupB = "src1"),
      // same Laplace-smoothed cells; ln over one exact-rational ratio
      """WITH cells AS (SELECT n_chars // 100 AS bin,
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_a,
        |    CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_b
        |  FROM documents WHERE source IN ('src0', 'src1') GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS na,
        |    CAST(sum(c_b) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS bins FROM cells)
        |SELECT bin, c_a, c_b,
        |  round(CAST(c_a + 1 AS DOUBLE)/CAST(na + bins AS DOUBLE), 9) AS p_a,
        |  round(CAST(c_b + 1 AS DOUBLE)/CAST(nb + bins AS DOUBLE), 9) AS p_b,
        |  round((CAST(c_b + 1 AS DOUBLE)/CAST(nb + bins AS DOUBLE)
        |       - CAST(c_a + 1 AS DOUBLE)/CAST(na + bins AS DOUBLE))
        |    * ln((CAST(c_b + 1 AS DOUBLE)/CAST(nb + bins AS DOUBLE))
        |       / (CAST(c_a + 1 AS DOUBLE)/CAST(na + bins AS DOUBLE))), 9)
        |    AS psi
        |FROM cells CROSS JOIN tot ORDER BY bin""".stripMargin),
    Query("mad_outliers", (s, dir) =>
      // robust (median/MAD) outlier gate — the heavy-tail-safe twin of
      // the z-score `outliers`; flagged set is engine-deterministic
      // (nearest |z| sits 0.0035 from the 3.5 cut at sf0.01, five
      // orders beyond any float ulp)
      Quantiles.madOutliers(t(s, dir, "events"), Seq("event_type"),
        "value", k = 3.5)
        .select(col("event_id"), col("event_type"), col("value"),
          col("robust_z"))
        .orderBy("event_id"),
      // medians are quantile_cont on both engines; everything after is
      // single IEEE ops, so the flagged SET matches, not just scores
      """WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_id, e.event_type, e.value,
        |    e.value - med.m AS d, abs(e.value - med.m) AS ad
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS md
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_id, dev.event_type, dev.value,
        |  round(0.6745 * dev.d / mad.md, 6) AS robust_z
        |FROM dev JOIN mad USING (event_type)
        |WHERE mad.md > 0
        |  AND abs(round(0.6745 * dev.d / mad.md, 6)) > 3.5
        |ORDER BY event_id""".stripMargin),
    Query("source_drift", (s, dir) =>
      // ingest-feed health: KL(source ‖ corpus) over the vocab head +
      // head-coverage companion — feed drift shows here before any
      // per-document gate fires
      TextAnalysis.sourceDrift(t(s, dir, "documents"), "source", "text",
        vocabSize = 50)
        .orderBy("source"),
      """WITH tk AS (SELECT source, unnest(list_filter(
        |  regexp_split_to_array(text, ' +'), t -> t <> '')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
        |      FROM tk GROUP BY 1, 2),
        |corpus AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct
        |           FROM c GROUP BY 1),
        |head AS (SELECT token, ct FROM
        |  (SELECT token, ct, row_number() OVER (ORDER BY ct DESC, token)
        |     AS rk FROM corpus) WHERE rk <= 50),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS ctot,
        |               CAST(count(*) AS DOUBLE) AS hsize FROM head),
        |salltot AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs_all
        |            FROM c GROUP BY 1),
        |grid AS (SELECT s.source, h.token, h.ct, coalesce(c.c, 0) AS c
        |         FROM (SELECT DISTINCT source FROM c) s
        |         CROSS JOIN head h
        |         LEFT JOIN c ON c.source = s.source AND c.token = h.token),
        |per AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs
        |        FROM grid GROUP BY 1)
        |SELECT g.source,
        |  round(sum(((g.c + 1.0) / (p.cs + t.hsize)) *
        |    ln(((g.c + 1.0) / (p.cs + t.hsize)) /
        |       ((g.ct + 1.0) / (t.ctot + t.hsize)))), 6) AS kl,
        |  round(CAST(p.cs AS DOUBLE) / a.cs_all, 4) AS head_coverage
        |FROM grid g
        |JOIN per p ON p.source = g.source
        |CROSS JOIN tot t
        |JOIN salltot a ON a.source = g.source
        |GROUP BY g.source, p.cs, t.ctot, t.hsize, a.cs_all
        |ORDER BY g.source""".stripMargin),
    Query("zipf_fit", (s, dir) =>
      // corpus-health diagnostic: OLS of ln(count) on ln(rank) over the
      // vocab head (natural text ~ slope -1)
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", vocabSize = 100),
      """WITH tk AS (SELECT unnest(list_filter(
        |  regexp_split_to_array(text, ' +'), t -> t <> '')) AS token
        |  FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
        |      FROM tk GROUP BY 1),
        |head AS (SELECT token, n, rk FROM
        |  (SELECT token, n, row_number() OVER (ORDER BY n DESC, token)
        |     AS rk FROM c) WHERE rk <= 100),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS nt,
        |        sum(ln(CAST(rk AS DOUBLE))) AS sx,
        |        sum(ln(CAST(n AS DOUBLE))) AS sy,
        |        sum(ln(CAST(rk AS DOUBLE)) * ln(CAST(n AS DOUBLE))) AS sxy,
        |        sum(ln(CAST(rk AS DOUBLE)) * ln(CAST(rk AS DOUBLE))) AS sxx
        |      FROM head)
        |SELECT CAST(nt AS BIGINT) AS n_tokens,
        |  round((nt * sxy - sx * sy) / (nt * sxx - sx * sx), 4)
        |    AS zipf_slope,
        |  round((sy - ((nt * sxy - sx * sy) / (nt * sxx - sx * sx)) * sx)
        |    / nt, 4) AS intercept
        |FROM m""".stripMargin),
    Query("ngram_novelty", (s, dir) =>
      // incremental-content audit: what fraction of each doc's shingles
      // first appear IN that doc — novelty ~0 flags re-crawls/boilerplate
      Dedup.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      s"""WITH $toksCte, $shinglesCte,
         |d AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |f AS (SELECT s, min(doc_id) AS fd FROM d GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN f.fd = d.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  round(CAST(sum(CASE WHEN f.fd = d.doc_id THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 4) AS novelty
         |FROM d JOIN f ON d.s = f.s
         |GROUP BY d.doc_id ORDER BY doc_id""".stripMargin),
    Query("token_pmi", (s, dir) =>
      TextAnalysis.tokenPmi(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 20, minPairCount = 5L)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(30),
      s"""WITH $toksCte,
         |dt AS (SELECT DISTINCT doc_id, unnest(toks) AS token FROM toks),
         |vocab AS (SELECT token FROM dt GROUP BY token
         |          ORDER BY count(*) DESC, token LIMIT 20),
         |dv AS (SELECT dt.doc_id, dt.token FROM dt
         |       JOIN vocab v ON dt.token = v.token),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |dfq AS (SELECT token, CAST(count(*) AS DOUBLE) AS df
         |        FROM dv GROUP BY token),
         |pairs AS (SELECT a.token AS w1, b.token AS w2,
         |            CAST(count(*) AS BIGINT) AS n_ab
         |          FROM dv a JOIN dv b
         |            ON a.doc_id = b.doc_id AND a.token < b.token
         |          GROUP BY 1, 2 HAVING count(*) >= 5)
         |SELECT w1, w2, n_ab,
         |  round(log2(CAST(n_ab AS DOUBLE) * nd.n / (fa.df * fb.df)), 4)
         |    AS pmi
         |FROM pairs
         |JOIN dfq fa ON pairs.w1 = fa.token
         |JOIN dfq fb ON pairs.w2 = fb.token
         |CROSS JOIN nd
         |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin),
    Query("incr_dedup", (s, dir) => {
      // ingest-shaped dedup: src0 is the incoming batch, everything else
      // the existing corpus; anti join keeps both sides distributed
      val d = t(s, dir, "documents")
      Dedup.incrementalDedup(
        d.filter(col("source") === "src0"),
        d.filter(col("source") =!= "src0"), "doc_id", "text")
        .orderBy("keep_id")
    },
      """WITH b AS (SELECT doc_id, md5(text) AS content_hash
        |           FROM documents WHERE source = 'src0'),
        |c AS (SELECT md5(text) AS content_hash
        |      FROM documents WHERE source <> 'src0')
        |SELECT content_hash, min(doc_id) AS keep_id,
        |  CAST(count(*) AS BIGINT) AS batch_dups
        |FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM c
        |                  WHERE c.content_hash = b.content_hash)
        |GROUP BY content_hash ORDER BY keep_id""".stripMargin),
    Query("incr_neardup", (s, dir) => {
      // the NEAR-dup ingest loop: the batch probes the corpus's PERSISTED
      // MinHash signature table through band buckets; the banded probe is
      // pigeonhole-exhaustive at threshold 0.75 (≥6/8 equal components ⇒
      // ≤2 unequal < 4 bands), so the oracle — an UNCAPPED batch×corpus
      // threshold join on the same md5 signature family — hashing green
      // proves the bucketed path drops no qualifying pair
      val d = t(s, dir, "documents")
      val stored = Dedup.minhashSignatures(
        d.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      Dedup.incrementalNearDedup(
        d.filter(col("doc_id") % 3 === 0), stored, "doc_id", "text")
        .status.orderBy("doc_id")
    },
      // UNCAPPED threshold join (no banding): est ≥ 0.75 over 8
      // components ⟺ ≥ 6 equal. Green hash = the engine's banded probe
      // has zero false negatives at the threshold.
      s"""WITH $toksCte, $shinglesCte, $sigsCte,
         |b AS (SELECT * FROM sigs WHERE doc_id % 3 = 0),
         |c AS (SELECT * FROM sigs WHERE doc_id % 3 <> 0),
         |bc AS (SELECT DISTINCT b1.doc_id FROM b b1 JOIN c ON
         |  len(list_filter(range(1, 9), i -> b1.sig[i] = c.sig[i])) >= 6),
         |bb AS (SELECT DISTINCT b2.doc_id FROM b b1 JOIN b b2
         |  ON b1.doc_id < b2.doc_id
         |  AND len(list_filter(range(1, 9), i -> b1.sig[i] = b2.sig[i])) >= 6)
         |SELECT s.doc_id,
         |  s.doc_id IN (SELECT doc_id FROM bc) AS dup_of_corpus,
         |  s.doc_id IN (SELECT doc_id FROM bb) AS dup_in_batch,
         |  NOT (s.doc_id IN (SELECT doc_id FROM bc)
         |       OR s.doc_id IN (SELECT doc_id FROM bb)) AS survives
         |FROM b s ORDER BY doc_id""".stripMargin),
    Query("len_strata", (s, dir) =>
      Quantiles.valueStrata(t(s, dir, "documents"), "n_chars", buckets = 10)
        .orderBy("bucket"),
      """WITH h AS (SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1),
        |cw AS (SELECT v, c,
        |  coalesce(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
        |  sum(c) OVER () AS n FROM h)
        |SELECT CAST((10 * cb) // n AS BIGINT) AS bucket,
        |  CAST(sum(c) AS BIGINT) AS n_rows,
        |  min(v) AS min_val, max(v) AS max_val
        |FROM cw GROUP BY 1 ORDER BY bucket""".stripMargin),
    Query("label_spread", (s, dir) =>
      Similarity.labelSpread(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
        .orderBy("label"),
      """WITH e AS (SELECT label, vec_id, u.pos AS pos,
        |             CAST(u.x AS DOUBLE) AS x
        |           FROM (SELECT label, vec_id,
        |                   unnest(list_transform(embedding,
        |                     (x, i) -> {'pos': i, 'x': x})) AS u
        |                 FROM embeddings)),
        |c AS (SELECT label, pos, round(avg(x), 6) AS c FROM e GROUP BY 1, 2),
        |cn AS (SELECT label, sqrt(sum(c * c)) AS cn FROM c GROUP BY 1),
        |per AS (SELECT e.label, e.vec_id, sum(e.x * c.c) AS dot,
        |          sqrt(sum(e.x * e.x)) AS nx
        |        FROM e JOIN c ON e.label = c.label AND e.pos = c.pos
        |        GROUP BY 1, 2)
        |SELECT per.label AS label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(avg(dot / (nx * cn.cn)), 4) AS mean_cos
        |FROM per JOIN cn ON per.label = cn.label
        |GROUP BY per.label ORDER BY per.label""".stripMargin),
    // --- round-7 additions: release audits, linkage, exact statistics ------
    Query("k_anon", (s, dir) =>
      // k-anonymity release gate: quasi-identifier combinations shared by
      // fewer than k customers re-identify their members — one mergeable
      // groupBy-count, output bounded by violations
      DataTests.kAnonymity(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 12L),
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 12
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Query("gini_conc", (s, dir) => {
      // revenue-concentration audit: exact Gini of order totals.
      // G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over the value-sorted
      // ranks — ranks come from Ranking.globalRank (range-partition +
      // prefix offsets, the TeraSort composition; a global row_number
      // window would sort 100 TB on one reducer), sums stay exact
      // DECIMAL(38,0) cents, ONE IEEE division at the end. Tie order
      // cannot change G (a run of equal values has a fixed rank-sum),
      // the unique tiebreaker just makes ranks deterministic.
      val v = t(s, dir, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("c"),
          col("o_orderkey"))
      Ranking.globalRank(v, "c", "o_orderkey")
        .agg(count(lit(1)).as("n"),
          sum(col("c")).cast("decimal(38,0)").as("__t"),
          sum(col("rank").cast("decimal(38,0)") * col("c")).as("__s"))
        .select(col("n"),
          ((lit(2).cast("decimal(38,0)") * col("__s") -
            (col("n") + 1).cast("decimal(38,0)") * col("__t"))
             .cast("double") /
           (col("n").cast("decimal(38,0)") * col("__t")).cast("double"))
            .as("gini"))
    },
      // exact integer cents/ranks to HUGEINT, identical one-division
      // closed form; tie order can't change the rank-sum of equal runs
      """WITH v AS (SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |    AS c, o_orderkey
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |r AS (SELECT c,
        |    row_number() OVER (ORDER BY c, o_orderkey) AS rk FROM v),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS t,
        |    CAST(sum(CAST(rk AS HUGEINT) * CAST(c AS HUGEINT)) AS HUGEINT)
        |      AS s FROM r)
        |SELECT n,
        |  CAST(2 * s - (CAST(n AS HUGEINT) + 1) * t AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * t AS DOUBLE) AS gini
        |FROM a""".stripMargin),
    Query("benford_audit", (s, dir) =>
      // Benford first-digit screen on order totals (0.9k-550k spans
      // three magnitudes): digit via exact integer/string ops, shares
      // as one division, expected log10(1+1/d) rounded to 8 for
      // bitwise engine agreement
      DataTests.benfordAudit(t(s, dir, "orders"), "o_totalprice"),
      """WITH c AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS digit,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT digit, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 8) AS benford_p,
        |  round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
        |    - round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 8), 8)
        |    AS dev
        |FROM c CROSS JOIN t ORDER BY digit""".stripMargin),
    Query("fs_linkage", (s, dir) => {
      // Fellegi–Sunter probabilistic linkage over RANK-BUCKET blocks
      // (nation, (rank-1) div 16 under the (nation, balance, custkey)
      // total order): the bucket count is ceil(n/16) — it GROWS WITH n,
      // so blocked-pair work is <= n*15/2, linear by construction (the
      // round-9 $100-value-bucket key had constant B and ~n^2/2B pairs,
      // measured 3.4x pair growth at 10x data; this shape's is ~1.0x).
      // Rank comes from Ranking.globalRank (distributed, splitter-
      // bucketed — never a single-reducer window); per-field u from the
      // data's collision probability, integer-microbel weights, exact
      // pair scores, rolled up per nation. Nation stays a block column,
      // so buckets straddling a nation boundary split — pairs never
      // cross nations and the rollup is exact.
      fsScoredPairs(s, dir)
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("score_micro") >= 6000000L, 1L).otherwise(0L))
            .as("n_match"),
          sum(col("score_micro")).as("sum_score_micro"))
        .orderBy("c_nationkey")
    },
      // identical u estimation (exact Σn²/n² then one division),
      // identical (1.0 - m) spelled as the expression so both engines
      // fold the same double, identical microbel rounding; the rank-
      // bucket block key is row_number under the same (nation, cents,
      // custkey) total order globalRank uses, cut into 16-row buckets
      """WITH c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    right(c_name, 2) AS name2,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
        |    CAST((row_number() OVER (ORDER BY
        |        CAST(c_nationkey AS BIGINT) * 100000000
        |          + CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000000,
        |        c_custkey) - 1) // 16 AS BIGINT) AS blk
        |  FROM customer),
        |hs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c
        |       GROUP BY c_mktsegment),
        |us AS (SELECT CAST(sum(n*n) AS DOUBLE)
        |         / CAST(sum(n)*sum(n) AS DOUBLE) AS u FROM hs),
        |hn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c
        |       GROUP BY name2),
        |un AS (SELECT CAST(sum(n*n) AS DOUBLE)
        |         / CAST(sum(n)*sum(n) AS DOUBLE) AS u FROM hn),
        |hc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c
        |       GROUP BY cents),
        |uc AS (SELECT CAST(sum(n*n) AS DOUBLE)
        |         / CAST(sum(n)*sum(n) AS DOUBLE) AS u FROM hc),
        |w AS (SELECT
        |    CAST(round(log2(0.9 / us.u) * 1000000, 0) AS BIGINT) AS w1a,
        |    CAST(round(log2((1.0 - 0.9) / (1.0 - us.u)) * 1000000, 0)
        |      AS BIGINT) AS w1d,
        |    CAST(round(log2(0.9 / un.u) * 1000000, 0) AS BIGINT) AS w2a,
        |    CAST(round(log2((1.0 - 0.9) / (1.0 - un.u)) * 1000000, 0)
        |      AS BIGINT) AS w2d,
        |    CAST(round(log2(0.95 / uc.u) * 1000000, 0) AS BIGINT) AS w3a,
        |    CAST(round(log2((1.0 - 0.95) / (1.0 - uc.u)) * 1000000, 0)
        |      AS BIGINT) AS w3d
        |  FROM us, un, uc),
        |p AS (SELECT a.c_nationkey,
        |    (CASE WHEN a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
        |       THEN w.w1a ELSE w.w1d END
        |   + CASE WHEN a.name2 IS NOT DISTINCT FROM b.name2
        |       THEN w.w2a ELSE w.w2d END
        |   + CASE WHEN a.cents IS NOT DISTINCT FROM b.cents
        |       THEN w.w3a ELSE w.w3d END) AS s
        |  FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
        |    AND a.blk = b.blk AND a.c_custkey < b.c_custkey
        |  CROSS JOIN w)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN s >= 6000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_match,
        |  CAST(sum(s) AS BIGINT) AS sum_score_micro
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("fs_clusters", (s, dir) =>
      // entity resolution END-TO-END: the FS match pairs (>= 3.5 bels —
      // reachable by segment+name-suffix double agreement, so clusters
      // form at every SF, not just where exact-cents collisions occur)
      // become an undirected identity graph; transitive closure
      // (Dedup.components — checkpointed min-label propagation, the
      // same machinery as near-dup clustering) resolves each connected
      // set of records to ONE canonical entity (min custkey). Output:
      // one row per multi-record entity with its member count — the
      // golden-record rollup a master-data pipeline materializes. Every
      // stage is the linear-blocked/banded shape: pairs O(n·occ),
      // closure rounds = cluster diameter.
      Dedup.components(
          fsScoredPairs(s, dir).filter(col("score_micro") >= 3500000L),
          "a_key", "b_key")
        .groupBy("comp")
        .agg(count(lit(1)).as("n_members"))
        .select(col("comp").as("entity"), col("n_members"))
        .orderBy("entity"),
      // same pair generation as fs_linkage, then transitive closure by
      // recursive min-label walk (the dedup_clusters pattern) and a
      // per-entity member count
      """WITH RECURSIVE c AS (SELECT c_custkey, c_nationkey, c_mktsegment,
        |    right(c_name, 2) AS name2,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents,
        |    CAST((row_number() OVER (ORDER BY
        |        CAST(c_nationkey AS BIGINT) * 100000000
        |          + CAST(round(c_acctbal * 100, 0) AS BIGINT) + 1000000,
        |        c_custkey) - 1) // 16 AS BIGINT) AS blk
        |  FROM customer),
        |hs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c
        |       GROUP BY c_mktsegment),
        |us AS (SELECT CAST(sum(n*n) AS DOUBLE)
        |         / CAST(sum(n)*sum(n) AS DOUBLE) AS u FROM hs),
        |hn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c
        |       GROUP BY name2),
        |un AS (SELECT CAST(sum(n*n) AS DOUBLE)
        |         / CAST(sum(n)*sum(n) AS DOUBLE) AS u FROM hn),
        |hc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c
        |       GROUP BY cents),
        |uc AS (SELECT CAST(sum(n*n) AS DOUBLE)
        |         / CAST(sum(n)*sum(n) AS DOUBLE) AS u FROM hc),
        |w AS (SELECT
        |    CAST(round(log2(0.9 / us.u) * 1000000, 0) AS BIGINT) AS w1a,
        |    CAST(round(log2((1.0 - 0.9) / (1.0 - us.u)) * 1000000, 0)
        |      AS BIGINT) AS w1d,
        |    CAST(round(log2(0.9 / un.u) * 1000000, 0) AS BIGINT) AS w2a,
        |    CAST(round(log2((1.0 - 0.9) / (1.0 - un.u)) * 1000000, 0)
        |      AS BIGINT) AS w2d,
        |    CAST(round(log2(0.95 / uc.u) * 1000000, 0) AS BIGINT) AS w3a,
        |    CAST(round(log2((1.0 - 0.95) / (1.0 - uc.u)) * 1000000, 0)
        |      AS BIGINT) AS w3d
        |  FROM us, un, uc),
        |p AS (SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
        |    (CASE WHEN a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
        |       THEN w.w1a ELSE w.w1d END
        |   + CASE WHEN a.name2 IS NOT DISTINCT FROM b.name2
        |       THEN w.w2a ELSE w.w2d END
        |   + CASE WHEN a.cents IS NOT DISTINCT FROM b.cents
        |       THEN w.w3a ELSE w.w3d END) AS s
        |  FROM c a JOIN c b ON a.c_nationkey = b.c_nationkey
        |    AND a.blk = b.blk AND a.c_custkey < b.c_custkey
        |  CROSS JOIN w),
        |good AS (SELECT a_key, b_key FROM p WHERE s >= 3500000),
        |edges AS (SELECT a_key AS es, b_key AS ed FROM good
        |  UNION SELECT b_key, a_key FROM good),
        |walk AS (
        |  SELECT es AS id, es AS comp FROM edges
        |  UNION
        |  SELECT e.ed, wk.comp FROM walk wk JOIN edges e ON e.es = wk.id
        |),
        |lab AS (SELECT id, min(comp) AS comp FROM walk GROUP BY 1)
        |SELECT CAST(comp AS BIGINT) AS entity,
        |  CAST(count(*) AS BIGINT) AS n_members
        |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin),
    Query("expectations", (s, dir) =>
      // dbt/Deequ-style declarative quality suite: six rules over
      // orders, ALL compiled into ONE aggregate over ONE scan (row
      // rules are conditional counts, uniqueness rides the same
      // aggregate as n - count(distinct)) — #rules never multiplies
      // the scan count
      Expectations.check(t(s, dir, "orders"), Seq(
        Expectations.NotNull("o_custkey"),
        Expectations.AcceptedValues("o_orderstatus", Seq("F", "O", "P")),
        Expectations.InRange("o_totalprice", 1.0, 500000.0),
        Expectations.MatchesRegex("o_orderpriority", "^[1-5]-"),
        Expectations.Unique("o_orderkey"),
        Expectations.Unique("o_custkey"))),
      // same one-aggregate evaluation; unique-with-nulls counts the null
      // group as one more distinct key (n > count(col) detects any null)
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v0,
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL
        |    OR o_orderstatus NOT IN ('F', 'O', 'P') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v1,
        |  CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice < 1.0
        |    OR o_totalprice > 500000.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v2,
        |  CAST(sum(CASE WHEN o_orderpriority IS NULL
        |    OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(count(*) - count(DISTINCT o_orderkey)
        |    - (CASE WHEN count(*) > count(o_orderkey) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v4,
        |  CAST(count(*) - count(DISTINCT o_custkey)
        |    - (CASE WHEN count(*) > count(o_custkey) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v5
        |  FROM orders)
        |SELECT rule, column_name, n AS n_rows, v AS n_violations,
        |  v = 0 AS pass
        |FROM (
        |  SELECT 'not_null' AS rule, 'o_custkey' AS column_name,
        |    n, v0 AS v FROM a
        |  UNION ALL SELECT 'accepted_values', 'o_orderstatus', n, v1 FROM a
        |  UNION ALL SELECT 'in_range', 'o_totalprice', n, v2 FROM a
        |  UNION ALL SELECT 'matches_regex', 'o_orderpriority', n, v3 FROM a
        |  UNION ALL SELECT 'unique', 'o_orderkey', n, v4 FROM a
        |  UNION ALL SELECT 'unique', 'o_custkey', n, v5 FROM a)
        |ORDER BY rule, column_name""".stripMargin),
    Query("expectations_drift", (s, dir) => {
      // cross-snapshot drift gate (Deequ metric-anomaly / dbt
      // source-freshness): the PRIOR snapshot participates only as its
      // 1-row stats aggregate (the stored-stats pattern — at 100 TB you
      // persist that row, not the snapshot), the CURRENT side is ONE
      // scan whatever the rule count. Mean drift runs on exact long
      // cents so pass/fail can't flap with summation order.
      import graft.ops.Expectations._
      val rules = Seq(
        RowCountWithin(0.25),
        FreshnessAdvances("o_orderdate"),
        NullRateWithin("o_custkey", 0.01),
        MeanWithin("tp_cents", 0.02))
      def cents(df: DataFrame): DataFrame = df.withColumn("tp_cents",
        round(col("o_totalprice") * 100, 0).cast("long"))
      driftCheck(cents(ordersNew(s, dir)),
        snapshotStats(cents(ordersOld(s, dir)), rules), rules)
    },
      // each snapshot reduced to ONE stats row; every emitted value is
      // a ratio of exact integer stats, so the doubles agree bitwise
      """WITH o AS (SELECT o_custkey, o_orderdate,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS tp_cents
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT o_custkey, o_orderdate,
        |    CAST(round((CASE WHEN o_orderkey % 3 = 0
        |      THEN o_totalprice + 10 ELSE o_totalprice END) * 100, 0)
        |      AS BIGINT) AS tp_cents
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |ps AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    epoch_ms(CAST(max(o_orderdate) AS TIMESTAMP)) AS mx,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn,
        |    CAST(sum(tp_cents) AS BIGINT) AS s FROM o),
        |cs AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    epoch_ms(CAST(max(o_orderdate) AS TIMESTAMP)) AS mx,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nn,
        |    CAST(sum(tp_cents) AS BIGINT) AS s FROM n)
        |SELECT * FROM (
        |  SELECT 'row_count_drift' AS rule, '*' AS column_name,
        |    CAST(ps.n AS DOUBLE) AS prior_value,
        |    CAST(cs.n AS DOUBLE) AS current_value,
        |    abs(CAST(cs.n AS DOUBLE) / CAST(ps.n AS DOUBLE) - 1.0)
        |      <= 0.25 AS pass
        |  FROM ps, cs
        |  UNION ALL SELECT 'freshness', 'o_orderdate',
        |    CAST(ps.mx AS DOUBLE), CAST(cs.mx AS DOUBLE),
        |    cs.mx >= ps.mx FROM ps, cs
        |  UNION ALL SELECT 'null_rate_drift', 'o_custkey',
        |    CAST(ps.nn AS DOUBLE) / CAST(ps.n AS DOUBLE),
        |    CAST(cs.nn AS DOUBLE) / CAST(cs.n AS DOUBLE),
        |    abs(CAST(cs.nn AS DOUBLE) / CAST(cs.n AS DOUBLE)
        |      - CAST(ps.nn AS DOUBLE) / CAST(ps.n AS DOUBLE)) <= 0.01
        |  FROM ps, cs
        |  UNION ALL SELECT 'mean_drift', 'tp_cents',
        |    CAST(ps.s AS DOUBLE) / CAST(ps.n AS DOUBLE),
        |    CAST(cs.s AS DOUBLE) / CAST(cs.n AS DOUBLE),
        |    abs(CAST(cs.s AS DOUBLE) / CAST(cs.n AS DOUBLE)
        |      - CAST(ps.s AS DOUBLE) / CAST(ps.n AS DOUBLE))
        |      <= abs(CAST(ps.s AS DOUBLE) / CAST(ps.n AS DOUBLE)) * 0.02
        |  FROM ps, cs)
        |ORDER BY rule, column_name""".stripMargin),
    Query("l_diversity", (s, dir) =>
      // l-diversity release gate (the homogeneity-attack check k-anonymity
      // misses): every quasi-identifier class must carry >= l distinct
      // sensitive values — here the account-balance kilobucket. One
      // two-phase partial-distinct aggregate, output bounded by classes.
      DataTests.lDiversity(
        t(s, dir, "customer").withColumn("bal_bucket",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "c_mktsegment"), "bal_bucket", l = 10L),
      // sensitive attribute = account-balance kilobucket; floor() keeps
      // the negative-balance bucket at -1 on both engines
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |    AS BIGINT) AS n_sensitive
        |FROM customer GROUP BY 1, 2
        |HAVING count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 10
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),
    Query("corr_matrix", (s, dir) =>
      // Pearson correlations from EXACT decimal sums (2-decimal fixed
      // point ×100): bit-reproducible across engines/retries, unlike
      // corr()'s order-dependent co-moment accumulation
      Stats.corrMatrix(t(s, dir, "lineitem"),
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax"))
        .orderBy("col_a", "col_b"),
      // exact HUGEINT sums of the x100-scaled fixed-point values; float
      // enters only in the final scalar formula (scale factor cancels)
      """WITH s AS (SELECT
        |    CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(round(l_discount*100) AS HUGEINT)) AS sd,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)) AS sp,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)) AS sq,
        |    sum(CAST(round(l_tax*100) AS HUGEINT)) AS st,
        |    sum(CAST(round(l_discount*100) AS HUGEINT)
        |      * CAST(round(l_discount*100) AS HUGEINT)) AS pdd,
        |    sum(CAST(round(l_discount*100) AS HUGEINT)
        |      * CAST(round(l_extendedprice*100) AS HUGEINT)) AS pdp,
        |    sum(CAST(round(l_discount*100) AS HUGEINT)
        |      * CAST(round(l_quantity*100) AS HUGEINT)) AS pdq,
        |    sum(CAST(round(l_discount*100) AS HUGEINT)
        |      * CAST(round(l_tax*100) AS HUGEINT)) AS pdt,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)
        |      * CAST(round(l_extendedprice*100) AS HUGEINT)) AS ppp,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)
        |      * CAST(round(l_quantity*100) AS HUGEINT)) AS ppq,
        |    sum(CAST(round(l_extendedprice*100) AS HUGEINT)
        |      * CAST(round(l_tax*100) AS HUGEINT)) AS ppt,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)
        |      * CAST(round(l_quantity*100) AS HUGEINT)) AS pqq,
        |    sum(CAST(round(l_quantity*100) AS HUGEINT)
        |      * CAST(round(l_tax*100) AS HUGEINT)) AS pqt,
        |    sum(CAST(round(l_tax*100) AS HUGEINT)
        |      * CAST(round(l_tax*100) AS HUGEINT)) AS ptt
        |  FROM lineitem),
        |p AS (
        |  SELECT 'l_discount' AS col_a, 'l_extendedprice' AS col_b,
        |    sd AS sa, sp AS sb, pdp AS sab, pdd AS saa, ppp AS sbb, n FROM s
        |  UNION ALL SELECT 'l_discount', 'l_quantity',
        |    sd, sq, pdq, pdd, pqq, n FROM s
        |  UNION ALL SELECT 'l_discount', 'l_tax',
        |    sd, st, pdt, pdd, ptt, n FROM s
        |  UNION ALL SELECT 'l_extendedprice', 'l_quantity',
        |    sp, sq, ppq, ppp, pqq, n FROM s
        |  UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |    sp, st, ppt, ppp, ptt, n FROM s
        |  UNION ALL SELECT 'l_quantity', 'l_tax',
        |    sq, st, pqt, pqq, ptt, n FROM s)
        |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
        |  round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 9) AS corr
        |FROM p ORDER BY col_a, col_b""".stripMargin),
    Query("chi2_indep", (s, dir) =>
      // source × language independence: does language mix vary by ingest
      // feed — the stratification warning for sampling plans
      Stats.chi2Independence(t(s, dir, "documents"), "source", "lang"),
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS observed
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, CAST(sum(observed) AS BIGINT) AS rt
        |  FROM c GROUP BY 1),
        |k AS (SELECT lang, CAST(sum(observed) AS BIGINT) AS ct
        |  FROM c GROUP BY 1),
        |g AS (SELECT CAST(sum(observed) AS BIGINT) AS gt FROM c)
        |SELECT c.source, c.lang, c.observed,
        |  round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |    / CAST(gt AS DOUBLE), 6) AS expected,
        |  round((CAST(observed AS DOUBLE) - CAST(rt AS DOUBLE)
        |      * CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE))
        |    * (CAST(observed AS DOUBLE) - CAST(rt AS DOUBLE)
        |      * CAST(ct AS DOUBLE) / CAST(gt AS DOUBLE))
        |    / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |      / CAST(gt AS DOUBLE)), 6) AS contrib
        |FROM c JOIN r ON c.source = r.source JOIN k ON c.lang = k.lang, g
        |ORDER BY c.source, c.lang""".stripMargin)
  )
}
