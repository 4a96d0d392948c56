package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{graft => bridge}

import graft.functions.{MinHashSignature, SimHash16, SimHash64, WordShingles}

/** Deduplication operators for a training-data pipeline: exact
  * (hash-groupBy), MinHash + LSH banding, SimHash, and n-gram Jaccard.
  *
  * The reference's only dedup-adjacent behavior is the multiset venn
  * (`/root/reference/src/index.js:65-116`) and the key-uniqueness test
  * (`src/dataTest.js:4-25`); these operators are the extended-scope
  * complement for near-duplicate detection at corpus scale.
  *
  * Scale design, operator by operator:
  *  - exact dedup: one hash-partitioned groupBy on a 128-bit content hash
  *    — the canonical 100 TB dedup plan (map-side partial agg, no skew:
  *    md5 keys are uniform).
  *  - MinHash signatures: a pure projection (`transform` + `array_min`
  *    over the shingle array) — ZERO shuffles; signatures stream out of
  *    the scan at map speed.
  *  - LSH candidate pairs: explode to (band, bandHash) and self-join on
  *    the band bucket — the shuffle key is the band hash, so work is
  *    proportional to Σ bucket² (near-dups only), never the n² cartesian.
  *  - SimHash: again a pure projection to a 16-bit integer; near-dup =
  *    equal (or Hamming-close via banding the nibbles).
  *  - n-gram Jaccard: shingle-explode + join on shingle — shuffle on the
  *    shingle string. A frequent-shingle cap (`maxShingleFreq`) bounds the
  *    worst bucket (a shingle shared by k docs costs k² pairs), the
  *    standard stop-shingle guard that keeps the join skew-safe at scale.
  */
object Dedup {

  /** Exact dedup groups: md5 content fingerprint → representative id +
    * multiplicity. `groupBy` gives map-side combine; at 100 TB this is one
    * uniform shuffle of (16-byte hash, id) pairs, not of documents.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Incremental exact dedup of a new batch against an existing corpus:
    * drop batch docs whose content hash already exists in the corpus
    * (anti join — both sides stay distributed; no broadcast assumption,
    * since at 100 TB the corpus hash set dwarfs executor memory), then
    * collapse in-batch duplicates to the min-id survivor. This is the
    * per-ingest shape of a crawl pipeline: the corpus side reduces to a
    * distinct-hash projection, which a real deployment materializes once
    * and bucket-joins against each batch.
    */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val bh = batch.select(col(idCol), md5(col(textCol)).as("content_hash"))
    val ch = corpus.select(md5(col(textCol)).as("content_hash"))
    bh.join(ch, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("batch_dups"))
  }

  /** Distinct word shingles of width `n` (short docs collapse to one
    * whole-doc shingle so every document has a non-empty set). Planned as
    * the native [[WordShingles]] node; `wordShinglesHof` is the equivalent
    * expression-level formula (kept for differential tests).
    */
  def wordShingles(text: Column, n: Int): Column =
    bridge.column(WordShingles(
      bridge.expression(TextAnalysis.tokens(text)), n))

  def wordShinglesHof(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * shingles whose FIRST corpus occurrence (minimum id) is this document
    * — "how much genuinely new content does each doc add", the
    * incremental-curation signal for ordering and pruning crawl
    * snapshots (novelty ≈ 0 ⇒ re-crawled/boilerplate content the corpus
    * already holds; the complement of the pairwise near-dup view).
    *
    * Every pass is a MERGEABLE aggregate — no `partitionBy(shingle)`
    * window (whose hot partition cannot be split and has no map-side
    * partials: the hazard the spanDedup rewrite removed) and no
    * shingle-keyed join of a data-sized relation. One (id, shingle)
    * count aggregate (map-side combined; the key includes the doc id,
    * so a hot boilerplate shingle spreads across its documents), one
    * per-shingle aggregate taking `min(id)` AND — via `min_by` — that
    * first owner's own occurrence count, then two doc-sized roll-ups
    * joined on id. Counts are exact integers; the final ratio divides
    * two exact longs (IEEE-exact on any engine) and rounds once.
    *
    * Output: (idCol, n_shingles, n_novel, novelty).
    */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = df.select(col(idCol),
      explode(wordShingles(col(textCol), n)).as("__s"))
    val pairs = sh.groupBy(col(idCol), col("__s"))
      .agg(count(lit(1)).as("__c"))
    // per distinct shingle: the first owner and the first owner's count
    val firsts = pairs.groupBy("__s")
      .agg(min(col(idCol)).as("__first"),
        min_by(col("__c"), col(idCol)).as("__fc"))
    val novel = firsts.groupBy(col("__first").as(idCol))
      .agg(sum(col("__fc")).as("n_novel"))
    val totals = pairs.groupBy(idCol)
      .agg(sum(col("__c")).as("n_shingles"))
    totals.join(novel, Seq(idCol), "left")
      .select(col(idCol), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** MinHash signature of width `numHashes` over word `shingleWidth`-grams.
    *
    * Hash family: h_j(s) = md5(j || '|' || s) compared lexicographically —
    * md5 output is uniform, so the min over a set is a valid MinHash
    * permutation per seed j, and it is reproducible on any engine with an
    * md5 function (the DuckDB oracle uses the identical family).
    *
    * Entirely expression-level (`transform` / `array_min`): no UDF, no
    * shuffle, stays inside whole-stage codegen.
    */
  def minhashSignature(text: Column, numHashes: Int, shingleWidth: Int): Column =
    bridge.column(MinHashSignature(
      bridge.expression(wordShingles(text, shingleWidth)), numHashes))

  /** The expression-level formula [[MinHashSignature]] replaces — kept for
    * differential testing of the native node.
    */
  def minhashSignatureHof(text: Column, numHashes: Int, shingleWidth: Int): Column = {
    val sh = wordShingles(text, shingleWidth)
    transform(sequence(lit(0), lit(numHashes - 1)),
      j => array_min(transform(sh, s => md5(concat(j.cast("string"), lit("|"), s)))))
  }

  /** Per-document signatures: (id, sig array<string>). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, shingleWidth: Int = 3): DataFrame =
    df.select(col(idCol), minhashSignature(col(textCol), numHashes, shingleWidth).as("sig"))

  /** Group-level MinHash sketch: the signature of a SET of documents is
    * the elementwise minimum of their signatures — MinHash's defining
    * mergeability, which is what makes sketches work at 100 TB (partial
    * sketches combine associatively across partitions, map-side first,
    * exactly like a sum). Expressed as k plain `min` aggregates over
    * `element_at`, so it rides the standard partial/final HashAggregate.
    */
  def groupSketch(sigs: DataFrame, groupCols: Seq[String],
      numHashes: Int = 8): DataFrame = {
    val mins = (0 until numHashes).map(j =>
      min(element_at(col("sig"), j + 1)).as(s"h$j"))
    sigs.groupBy(groupCols.map(col): _*)
      .agg(mins.head, mins.tail: _*)
      .select((groupCols.map(col) :+
        concat_ws(",", (0 until numHashes).map(j => col(s"h$j")): _*).as("sketch")): _*)
  }

  /** Explode a signature df into its (band, bandHash) buckets.
    *
    * The repartition is a materialization barrier: without it Catalyst's
    * CollapseProject inlines the (expensive, interpreter-evaluated)
    * signature expression into every consumer — each band hash, each
    * join side, the jaccard estimate — recomputing the full MinHash per
    * reference. The shuffle is tiny (one row per doc: id + k hashes) and
    * ReuseExchange then computes it exactly once for every consumer.
    */
  private def bandedSigs(sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    sigs.repartition(col(idCol)).select(
      col(idCol), col("sig"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b => struct(
        b.as("band"),
        md5(concat_ws(",", slice(col("sig"), b * lit(rowsPerBand) + lit(1),
          lit(rowsPerBand)))).as("bh")))).as("bucket"))
      .select(col(idCol), col("sig"), col("bucket.band"), col("bucket.bh"))

  /** Fraction of equal signature components between `a_sig`/`b_sig` —
    * the signature estimate of Jaccard similarity.
    */
  private def estJaccard: Column = round(
    size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
      m => m)).cast("double") / size(col("a_sig")).cast("double"), 4)

  /** LSH banding over a signature df: explode each signature into
    * `bands` buckets of `rowsPerBand` components, hash each band, and
    * self-join on (band, bandHash) to produce candidate pairs with
    * band-collision counts and the signature-estimated Jaccard
    * (fraction of equal signature components).
    */
  def lshCandidates(sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int, numHashes: Int = 8): DataFrame = {
    // Guard against banding past the signature: an out-of-range slice()
    // yields [], every document's band hash becomes md5("") and the
    // self-join silently degenerates to the full n² cross product.
    require(bands * rowsPerBand <= numHashes,
      s"bands ($bands) × rowsPerBand ($rowsPerBand) exceeds signature width $numHashes")
    val banded = bandedSigs(sigs, idCol, bands, rowsPerBand)
    val a = banded.select(col(idCol).as("a_id"), col("sig").as("a_sig"),
      col("band"), col("bh"))
    val b = banded.select(col(idCol).as("b_id"), col("sig").as("b_sig"),
      col("band"), col("bh"))
    // The jaccard estimate is identical for every banded copy of a pair
    // (it only reads the two signatures), so aggregate the signatures
    // through `first` — a plain codegen'd column move — and evaluate the
    // (interpreter-bound HOF) estimate once per OUTPUT PAIR. The previous
    // shape, first(round(zip_with…)), re-ran the HOF inside both the
    // partial and final aggregate for every joined row (up to `bands` ×
    // per pair, and 2× for partial+final).
    a.join(b, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_bands"),
        first(col("a_sig")).as("a_sig"), first(col("b_sig")).as("b_sig"))
      .select(col("a_id"), col("b_id"), col("n_bands"),
        estJaccard.as("est_jaccard"))
  }

  /** Result of one incremental near-dup ingest batch: per-doc `status`
    * flags, the surviving batch rows, and the updated signature table
    * (stored ∪ survivor signatures) to persist for the next batch.
    */
  final case class IncrNearDedup(status: DataFrame, survivors: DataFrame,
      signatures: DataFrame)

  /** Incremental NEAR-dup dedup of a new batch against a PERSISTED
    * MinHash signature table — the near-dup complement of
    * [[incrementalDedup]], and the operation a daily ingest loop runs at
    * 100 TB: near-dups of every prior crawl are caught WITHOUT
    * re-pairing the stored corpus, because the corpus participates only
    * through its (id, sig) table (numHashes strings per doc, ~1000×
    * smaller than documents) and only stored buckets that collide with a
    * BATCH band hash are ever touched.
    *
    * Semantics (greedy min-id keeper, matching the exact-dedup
    * convention): a batch doc is dropped iff its signature-estimated
    * Jaccard reaches `threshold` against ANY stored doc
    * (`dup_of_corpus`) or against a SMALLER-id batch doc
    * (`dup_in_batch` — pairwise, not transitive; feed the pair list to
    * [[dedupClusters]] when transitive resolution is wanted). Survivor
    * signatures are appended to the table, so a near-dup of a batch-N
    * survivor is caught in batch N+1.
    *
    * The banded probe is EXACT at the threshold, not probabilistic: a
    * pair at est ≥ t disagrees on at most numHashes − ⌈t·numHashes⌉
    * signature components, so requiring MORE bands than that pigeonholes
    * at least one fully-equal band — every qualifying pair collides
    * somewhere, which is what lets a plain uncapped threshold join serve
    * as the oracle. The require below enforces that precondition
    * loudly.
    *
    * Scale shape: both sides stay distributed (no broadcast of the
    * stored table); shuffle key = (band, bandHash); probe cost is
    * Σ |batch bucket|·|stored bucket| over COLLIDING buckets only. The
    * est-jaccard is evaluated once per candidate pair (`first`-aggregate
    * trick, see [[lshCandidates]]).
    */
  def incrementalNearDedup(batch: DataFrame, storedSigs: DataFrame,
      idCol: String, textCol: String,
      numHashes: Int = 8, shingleWidth: Int = 3,
      bands: Int = 4, rowsPerBand: Int = 2,
      threshold: Double = 0.75): IncrNearDedup = {
    require(bands * rowsPerBand <= numHashes,
      s"bands ($bands) × rowsPerBand ($rowsPerBand) exceeds signature width $numHashes")
    val maxUnequal = numHashes - math.ceil(threshold * numHashes).toInt
    require(bands > maxUnequal,
      s"banded probe is not exhaustive at threshold $threshold: a " +
        s"qualifying pair may disagree on $maxUnequal components but " +
        s"only $bands bands exist — raise bands or the threshold")
    val batchSigs = minhashSignatures(batch, idCol, textCol,
      numHashes, shingleWidth)
    val bb = bandedSigs(batchSigs, idCol, bands, rowsPerBand)
    val a = bb.select(col(idCol).as("a_id"), col("sig").as("a_sig"),
      col("band"), col("bh"))
    // batch → stored probe: every qualifying (batch, stored) pair
    // collides in ≥1 band (pigeonhole above)
    val sb = bandedSigs(storedSigs, idCol, bands, rowsPerBand)
      .select(col(idCol).as("b_id"), col("sig").as("b_sig"),
        col("band"), col("bh"))
    val corpusDup = a.join(sb, Seq("band", "bh"))
      .groupBy("a_id", "b_id")
      .agg(first(col("a_sig")).as("a_sig"), first(col("b_sig")).as("b_sig"))
      .filter(estJaccard >= threshold)
      .select(col("a_id").as(idCol)).distinct()
      .withColumn("__corpus_dup", lit(true))
    // in-batch pairs at the same threshold; drop the larger id of each
    val batchDup = lshCandidates(batchSigs, idCol, bands, rowsPerBand,
        numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("b_id").as(idCol)).distinct()
      .withColumn("__batch_dup", lit(true))
    val status = batchSigs.select(col(idCol))
      .join(corpusDup, Seq(idCol), "left")
      .join(batchDup, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__corpus_dup"), lit(false)).as("dup_of_corpus"),
        coalesce(col("__batch_dup"), lit(false)).as("dup_in_batch"))
      .withColumn("survives",
        !col("dup_of_corpus") && !col("dup_in_batch"))
    val keep = status.filter(col("survives")).select(idCol)
    IncrNearDedup(
      status,
      batch.join(keep, Seq(idCol)),
      storedSigs.unionByName(batchSigs.join(keep, Seq(idCol))))
  }

  /** 16-bit SimHash from token md5s: bit j is set iff the majority of
    * tokens have the high bit of hex nibble j set (`substr(md5, j+1, 1)
    * >= '8'`), weighting each token occurrence ±1. A pure projection —
    * no shuffle; near-dup detection is then an exact groupBy on the
    * 16-bit value (or on nibble bands for Hamming-distance ≤ k).
    */
  def simhash16(text: Column): Column =
    bridge.column(SimHash16(bridge.expression(TextAnalysis.tokens(text))))

  /** The expression-level formula [[SimHash16]] replaces (differential
    * tests only — it digests every token once per bit).
    */
  def simhash16Hof(text: Column): Column = {
    val hs = transform(TextAnalysis.tokens(text), t => md5(t))
    aggregate(
      transform(sequence(lit(0), lit(15)), j =>
        when(aggregate(hs, lit(0L), (acc, h) =>
          acc + when(h.substr(j + lit(1), lit(1)) >= "8", 1L).otherwise(-1L)) > 0,
          pow(lit(2.0), j).cast("long")).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** SimHash near-duplicate candidate pairs via banding: the 16-bit
    * simhash splits into `bands` equal-width bands; by pigeonhole, any
    * pair with Hamming distance ≤ bands−1 agrees on at least one full
    * band, so a band-bucket self-join (shuffle key = (band, bandValue),
    * never a cartesian) is a lossless candidate generator for
    * `maxHamming` ≤ bands−1. Candidates are then filtered to true
    * Hamming ≤ `maxHamming`.
    *
    * Band width is the recall/cost dial: narrower bands (more of them)
    * cover larger Hamming radii but shrink the bucket-key space and
    * quadratically inflate candidates — 4-bit bands give only 64 bucket
    * keys, which at 5k docs already meant ~6M candidate pairs. Default
    * 2×8-bit bands (256 keys each) covers Hamming ≤ 1. A production
    * corpus would use a 64-bit simhash, 4×16-bit bands, Hamming ≤ 3 —
    * identical plan shape, wider hash.
    *
    * Default `maxHamming = 0` (identical sketches): 16 bits saturate on a
    * small-vocabulary corpus, where even unrelated documents sit at
    * Hamming 2–4.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 0, bands: Int = 2): DataFrame = {
    require(16 % bands == 0, s"bands must divide 16, got $bands")
    require(maxHamming <= bands - 1,
      s"banding with $bands bands only guarantees recall for Hamming <= ${bands - 1}")
    val width = 16 / bands
    if (maxHamming == 0) {
      // Hamming 0 = identical sketches: banding degenerates to an exact
      // self-join on the FULL hash. One shuffle key (sh) instead of
      // bands× exploded (band, v) buckets, and no pair dedup aggregate —
      // each pair appears exactly once. The repartition(sh) barrier is
      // the join key itself, so both join sides reuse one exchange and
      // the join needs no further shuffle. (Measured 2.6s -> sub-second
      // at sf0.1: the 8-bit band buckets of a saturating 16-bit sketch
      // are collision-heavy, the full 16-bit key is not.)
      val sh = df.select(col(idCol).as("id"), simhash16(col(textCol)).as("sh"))
        .repartition(col("sh"))
      return sh.select(col("id").as("a_id"), col("sh"))
        .join(sh.select(col("id").as("b_id"), col("sh")), Seq("sh"))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), lit(0).cast("int").as("hamming"))
    }
    // barrier: simhash is computed once below the exchange, not per band
    // and per join side (same CollapseProject hazard as lshCandidates)
    val sh = df.select(col(idCol).as("id"), simhash16(col(textCol)).as("sh"))
      .repartition(col("id"))
    val bandStructs = (0 until bands).map(b => struct(
      lit(b).as("band"),
      shiftright(col("sh"), b * width)
        .bitwiseAND(lit((1L << width) - 1L)).as("v")))
    val banded = sh.select(col("id"), col("sh"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.band"), col("bk.v"))
    val a = banded.select(col("id").as("a_id"), col("sh").as("a_sh"),
      col("band"), col("v"))
    val b = banded.select(col("id").as("b_id"), col("sh").as("b_sh"),
      col("band"), col("v"))
    a.join(b, Seq("band", "v")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(min(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
        .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** 64-bit SimHash — the production-width sketch (see
    * [[graft.functions.SimHash64]]); 16 bits saturate on small
    * vocabularies, 64 bits separate everything but true near-dups.
    */
  def simhash64(text: Column): Column =
    bridge.column(SimHash64(bridge.expression(TextAnalysis.tokens(text))))

  /** SimHash near-dup pairs over the 64-bit sketch: 4×16-bit bands give
    * lossless candidate recall for Hamming ≤ 3 (pigeonhole — same
    * argument as [[simhashPairs]], wider hash). 16-bit band values keep
    * 65536 bucket keys per band, so bucket sizes — and the Σ bucket² join
    * cost — stay tiny even on corpora where the 16-bit sketch collapses
    * to a handful of saturated buckets.
    */
  def simhash64Pairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hamming64Pairs(
      df.select(col(idCol), simhash64(col(textCol)).as("__sh64")),
      idCol, "__sh64", maxHamming)

  /** Banded Hamming-≤k candidate pairs over an ALREADY-COMPUTED 64-bit
    * sketch column — [[simhash64Pairs]]' band machinery factored out so
    * every 64-bit content sketch (simhash, perceptual image dHash —
    * [[Multimodal.dhash64]]) reuses the identical lossless-recall plan:
    * 4×16-bit bands guarantee recall for Hamming ≤ 3 by pigeonhole, the
    * shuffle key is (band, bandValue) — band buckets, never all-pairs.
    */
  def hamming64Pairs(sketches: DataFrame, idCol: String, shCol: String,
      maxHamming: Int = 3): DataFrame = {
    val bands = 4
    require(maxHamming <= bands - 1,
      s"4x16-bit banding only guarantees recall for Hamming <= ${bands - 1}")
    // same CollapseProject barrier as simhashPairs: one sketch evaluation
    // below the exchange, reused by both join sides
    val sh = sketches.select(col(idCol).as("id"), col(shCol).as("sh"))
      .repartition(col("id"))
    val bandStructs = (0 until bands).map(b => struct(
      lit(b).as("band"),
      shiftright(col("sh"), b * 16).bitwiseAND(lit(0xffffL)).as("v")))
    val banded = sh.select(col("id"), col("sh"),
      explode(array(bandStructs: _*)).as("bk"))
      .select(col("id"), col("sh"), col("bk.band"), col("bk.v"))
    val a = banded.select(col("id").as("a_id"), col("sh").as("a_sh"),
      col("band"), col("v"))
    val b = banded.select(col("id").as("b_id"), col("sh").as("b_sh"),
      col("band"), col("v"))
    a.join(b, Seq("band", "v")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(min(bit_count(col("a_sh").bitwiseXOR(col("b_sh"))))
        .cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** End-to-end corpus cleaning — the composition these operators exist
    * for: quality gate → exact dedup (keep lowest id per fingerprint) →
    * near-dup removal (drop the higher id of every LSH candidate pair at
    * or above `minEstJaccard`). Returns the surviving documents.
    *
    * Every stage is one of the scale-shaped primitives above: a
    * projection filter, one uniform hash groupBy, one band bucket-join —
    * the whole pipeline is 3 shuffles regardless of corpus size.
    */
  def cleanCorpus(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, minEstJaccard: Double = 0.75): DataFrame = {
    val quality = df.filter(size(TextAnalysis.tokens(col(textCol))) >= minTokens)
    val keepExact = exactGroups(quality, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val exactKept = quality.join(keepExact, idCol)
    val nearDupLosers = lshCandidates(
      minhashSignatures(exactKept, idCol, textCol), idCol, bands = 4, rowsPerBand = 2)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("b_id").as(idCol)).distinct()
    exactKept.join(nearDupLosers, Seq(idCol), "left_anti")
  }

  /** Contrastive training triplets from the near-dup structure: each LSH
    * candidate pair at or above `minEstJaccard` yields (anchor, positive);
    * the negative is a deterministic pseudo-random pick — `(anchor·7919 +
    * 13) mod (maxId+1)`, stepping forward up to twice to dodge collisions
    * with the anchor or positive (3 candidates, 2 exclusions: one always
    * survives) and inner-joined back to the corpus so only real ids ship.
    * Hash-derived rather than rand() for the usual reason: triplets are
    * reproducible across retries, repartitions and engines, which is what
    * makes a contrastive-pairs dataset versionable.
    *
    * Scale: pairs come from the banded bucket join (never all-pairs); the
    * negative assignment is a map-side expression plus one join on the
    * (unique) id — nothing new shuffles at corpus size.
    */
  def contrastiveTriplets(df: DataFrame, idCol: String, textCol: String,
      minEstJaccard: Double = 0.5): DataFrame = {
    val pairs = lshCandidates(
      minhashSignatures(df, idCol, textCol), idCol, bands = 4, rowsPerBand = 2)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("a_id").as("anchor"), col("b_id").as("positive"))
    val mx = df.agg(max(col(idCol)).as("__m"))
    val n = col("__m") + 1L
    def cand(step: Int): Column = (col("anchor") * 7919L + lit(13L + step)) % n
    val neg = when(cand(0) =!= col("anchor") && cand(0) =!= col("positive"), cand(0))
      .otherwise(when(cand(1) =!= col("anchor") && cand(1) =!= col("positive"), cand(1))
        .otherwise(cand(2)))
    pairs.crossJoin(broadcast(mx))
      .select(col("anchor"), col("positive"), neg.as("negative"))
      .join(df.select(col(idCol).as("negative")), Seq("negative"))
      .select("anchor", "positive", "negative")
  }

  /** Local-overlap candidate pairs over winnowed fingerprints: explode
    * each document's winnowing set ([[TextAnalysis.winnow]]), equi-join
    * on the fingerprint, keep pairs sharing at least `minShared` — the
    * plagiarism-style shared-substring detector. Identical plan shape to
    * [[ngramJaccardPairs]] (one exchange on the fingerprint, reused by
    * the frequency filter and both join sides) at winnowed density
    * (~2/(w+1) of the gram hashes), and the same stop-fingerprint
    * frequency cap bounds the worst bucket: a boilerplate fingerprint in
    * `maxFpFreq`+1 docs would otherwise cost freq² join rows.
    */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Long = 10L,
      maxFpFreq: Long = 10L): DataFrame = {
    val fp = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(TextAnalysis.winnow(col(textCol), k, w)).as("f"))
      .repartition(col("f"))
    val rare = fp.groupBy("f").agg(count(col("id")).as("cnt"))
      .filter(col("cnt") <= maxFpFreq).select("f")
    val pruned = fp.join(rare, "f")
    pruned.select(col("id").as("a_id"), col("f"))
      .join(pruned.select(col("id").as("b_id"), col("f")), "f")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Connected components over a candidate-pair edge list: every node
    * gets the MINIMUM id in its component — the transitive closure of
    * pairwise near-duplicate links, which is what picking one
    * representative per duplicate CLUSTER (not per pair) requires. A
    * chain a–b, b–c labels all three `a` even though (a,c) was never a
    * candidate pair.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * LOGARITHMIC-round DataFrame-native connected components. Each round
    * rewires the edge set toward a star forest rooted at each
    * component's minimum id:
    *   - large-star: at every node `u`, connect each LARGER neighbor
    *     `v > u` to `m = min(Γ(u) ∪ {u})` — one groupBy-min + one join;
    *   - small-star: edges are oriented large→small, so at every node
    *     `u`, connect `u` and all its smaller neighbors to their common
    *     minimum — one groupBy-min + one join.
    * Both steps preserve connectivity and never raise a node's minimum
    * reachable id, and the alternation converges in O(log d) rounds on a
    * diameter-`d` graph — vs d rounds for the one-hop min-label
    * propagation this replaced (the round-14 measured scale-killer: a
    * 100 TB near-dup graph's chain length grows with corpus size, so an
    * O(d)-round closure's wall clock grows superlinearly while this one
    * grows as log d; ComponentsSpec pins the round count on generated
    * chains). Convergence is an explicit star-forest test (every source
    * node has exactly one target and no target is itself a source), two
    * `limit(1)` probe jobs per round over the shrinking edge set.
    *
    * Lineage is truncated each round — without that the plan doubles
    * per iteration and Catalyst analysis time, not the data, becomes the
    * bottleneck. The context's checkpoint dir picks the truncation
    * mechanism: unset ⇒ `localCheckpoint` (fast, but blocks live on
    * executors — an executor loss mid-iteration kills the job, acceptable
    * only on local/test runs); set ⇒ reliable `checkpoint` to that
    * directory (HDFS/object store on a cluster), which survives executor
    * loss and is the production arrangement. The deployment sets the dir
    * (e.g. `spark.checkpoint.dir`); this operator never does.
    *
    * Output: (`idCol`, `comp`) for every node that appears in some pair;
    * docs in no pair are their own singleton component by definition and
    * are omitted (join back with a coalesce default when needed). The
    * labeling (minimum id per component) is IDENTICAL to the previous
    * min-label-propagation form, so every oracle built on it stays valid.
    */
  def components(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame =
    componentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[components]] plus the round count it took — exposed for the
    * logarithmic-convergence spec (ComponentsSpec pins rounds ≤
    * ⌈log₂ diameter⌉ + c on generated chain graphs).
    */
  private[graft] def componentsWithRounds(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 20): (DataFrame, Int) = {
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint()
    // Materialize the PAIR LIST once: the caller's upstream (an LSH
    // band join, an FS scoring pass, …) is the expensive part, and both
    // `nodes` and `edges` below consume it — two separate checkpoints
    // re-ran that whole upstream twice (measured 2× ~1.7 s of a 5.3 s
    // closure at sf0.1; guide §1.2 "don't compute things twice").
    val fwd = truncate(pairs.select(col(aCol).as("src"), col(bCol).as("dst")))
    // Every endpoint, kept aside so self-pairs / nodes whose edges all
    // collapse still appear in the output labeled as themselves. Derived
    // from the materialized pair list — cheap to recompute at the final
    // label join, so no checkpoint of its own.
    val nodes =
      fwd.select(col("src")).union(fwd.select(col("dst").as("src"))).distinct()
    // Oriented distinct edges hi→lo; self-loops carry no connectivity.
    var edges = truncate(
      fwd.filter(col("src") =!= col("dst"))
        .select(greatest(col("src"), col("dst")).as("hi"),
          least(col("src"), col("dst")).as("lo"))
        .distinct())
    // Star forest ⇔ converged: every hi maps to exactly one lo, and no
    // lo is itself a hi (every edge points straight at a component root).
    // ONE aggregate job over the (tiny, checkpointed) edge set — the
    // two-probe spelling (groupBy-count probe + semi-join probe) paid
    // two job round-trips per round for the same answer.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("hi").as("n"), lit(1L).as("h"), lit(0L).as("l"))
        .union(e.select(col("lo").as("n"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy("n").agg(sum(col("h")).as("nh"), sum(col("l")).as("nl"))
        .filter(col("nh") > 1L || (col("nh") >= 1L && col("nl") >= 1L))
        .limit(1).isEmpty
    var converged = isStarForest(edges)
    var i = 0
    while (!converged && i < maxIter) {
      // large-star: for each node u, attach larger neighbors to
      // m = min(Γ(u) ∪ {u}). Emitted (v, m) always has v > u ≥ m, so the
      // hi→lo orientation is preserved and no self-loops appear.
      val und = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val lsMin = und.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = und.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // small-star: attach each node and all its smaller neighbors to
      // their common minimum (edges already point large→small).
      val ssMin = ls.groupBy("hi").agg(min("lo").as("m"))
      val ss = ls.join(ssMin, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(ssMin.select(col("hi"), col("m").as("lo")))
        .distinct()
      edges = truncate(ss)
      i += 1
      converged = isStarForest(edges)
    }
    require(converged, s"components did not converge in $maxIter rounds " +
      "(star-forest fixpoint not reached; rounds grow as log(diameter), " +
      "so raise maxIter only for a genuinely pathological graph)")
    val labels = nodes
      .join(edges.withColumnRenamed("hi", "src"), Seq("src"), "left")
      .select(col("src").as(aCol), coalesce(col("lo"), col("src")).as("comp"))
    (labels, i)
  }

  /** [[cleanCorpus]] with TRANSITIVE near-dup removal: one survivor per
    * connected component of the candidate-pair graph, not per pair. The
    * pairwise rule keeps every local minimum — a V-shaped cluster
    * (2–10, 3–10) keeps both 2 and 3 even though they are transitively
    * linked through 10; the component rule keeps only the component
    * minimum. Costs the extra [[components]] iteration rounds over the
    * (tiny) pair list; everything up to the pair list is identical.
    */
  def cleanCorpusTransitive(df: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 20, minEstJaccard: Double = 0.75): DataFrame = {
    val quality = df.filter(size(TextAnalysis.tokens(col(textCol))) >= minTokens)
    val keepExact = exactGroups(quality, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val exactKept = quality.join(keepExact, idCol)
    val pairs = lshCandidates(
      minhashSignatures(exactKept, idCol, textCol), idCol, bands = 4, rowsPerBand = 2)
      .filter(col("est_jaccard") >= minEstJaccard)
    val losers = components(pairs, "a_id", "b_id")
      .filter(col("a_id") =!= col("comp"))
      .select(col("a_id").as(idCol))
    exactKept.join(losers, Seq(idCol), "left_anti")
  }

  /** Sorted-neighborhood blocking (SNM, Hernández–Stolfo): sort every
    * record by a blocking key and emit each record paired with its
    * `w−1` successors in the GLOBAL sort order — the third classic
    * candidate-generation family next to hash buckets (LSH) and prefix
    * filtering, and the right one when near-duplicates share a common
    * PREFIX of a normalized key (typo'd titles, re-crawled URLs,
    * copy-edited leads).
    *
    * The single-sort spelling (`row_number() OVER (ORDER BY key)` —
    * what the oracle runs) funnels the whole table through ONE
    * partition. Here the total order is distributed (TeraSort posture):
    *   1. P−1 range splitters from a bounded md5-ordered sample
    *      (deterministic draw, P·20 keys of driver metadata, never
    *      data);
    *   2. bucket id = splitter fold (map-only literal-array scan);
    *      equal keys always share a bucket, so in-bucket order by
    *      (key, id) concatenated across buckets IS the global order;
    *   3. per-bucket sliding windows emit in-bucket pairs; each
    *      bucket's last `w−1` rows are duplicated into the next bucket
    *      as GHOSTS, which sort before its real rows at exactly their
    *      global offsets — so cross-boundary pairs fall out of the
    *      same window. Ghost–ghost pairs are dropped (they replay the
    *      previous bucket's in-bucket pairs); ghost→real pairs are the
    *      boundary pairs; real rows never duplicate.
    * Window partitions are bucket-sized (≈ n/P by the splitter draw),
    * never whale-keyed; precondition is the natural one, w ≪ n/P.
    *
    * Output: (a_id, b_id) with `a` the earlier record, each global
    * w-window pair exactly once — verification (exact equality, edit
    * distance, Jaccard) composes downstream like any other candidate
    * relation.
    */
  def sortedNeighborPairs(df: DataFrame, idCol: String, sortKey: Column,
      w: Int = 5, parts: Int = 0): DataFrame = {
    require(w >= 2, s"window must pair each row with >=1 successor, got $w")
    val spark = df.sparkSession
    val p0 = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val keyed = df.select(col(idCol).as("id"), sortKey.as("key"))
      .filter(col("key").isNotNull)
    val sample = keyed
      .select(col("key"), md5(col("id").cast("string")).as("__h"))
      .orderBy("__h").limit(p0 * 20)
      .select("key").collect().map(_.getString(0)).sorted
    // Ghosts hop exactly ONE bucket, so correctness needs every interior
    // bucket to hold >= w-1 real rows. Two defenses (the round-5 advice:
    // the w << n/P precondition was documented but unenforced, failing
    // SILENTLY on small or skewed tables):
    //  1. when the sample came back uncapped it IS the table, so n is
    //     known exactly — clamp the bucket count so buckets average
    //     >= 4w rows (a small table degrades to fewer, fatter buckets
    //     and ultimately one — losing parallelism it couldn't use
    //     anyway, never pairs);
    //  2. a per-row assert_true below fails LOUDLY if a skewed splitter
    //     draw still produces a thin interior bucket.
    val p = if (sample.length < p0 * 20)
      math.max(1, math.min(p0, sample.length / (4 * w)))
    else p0
    val splitters: Seq[String] =
      if (sample.isEmpty) Nil
      else (1 until p).map(i => sample(i * sample.length / p)).distinct.sorted
    val bucket =
      if (splitters.isEmpty) lit(0)
      else aggregate(typedlit(splitters), lit(0),
        (acc, s) => acc + when(col("key") >= s, 1).otherwise(0))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("key", "id")
    val ranked = keyed.withColumn("bucket", bucket)
      .repartition(col("bucket"))
      .withColumn("__r", row_number().over(wB))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
    // Interior buckets only: bucket 0 has no predecessor to forward and
    // the last bucket no successor to reach, so a window can only skip
    // PAST a thin bucket strictly between them. Every splitter value is
    // a real key, so interior buckets are never empty — some row always
    // carries the assert for its bucket.
    val guarded =
      if (splitters.length <= 1) ranked
      else ranked.filter(assert_true(
        col("bucket") === 0 || col("bucket") === splitters.length ||
          col("__n") >= (w - 1),
        concat(lit("sortedNeighborPairs: interior bucket "), col("bucket"),
          lit(" holds "), col("__n"),
          lit(s" rows < w-1 = ${w - 1}; the one-bucket ghost patch would" +
            s" silently drop cross-boundary pairs — lower `parts` or" +
            s" reduce sortKey skew"))).isNull)
    val ghosts = guarded.filter(col("__r") > col("__n") - (w - 1))
      .select(col("id"), col("key"), (col("bucket") + 1).as("bucket"),
        lit(true).as("ghost"))
    val patched = guarded
      .select(col("id"), col("key"), col("bucket"), lit(false).as("ghost"))
      .unionByName(ghosts)
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("key", "id")
      .rowsBetween(1, w - 1)
    patched
      .withColumn("__succ",
        collect_list(struct(col("id"), col("ghost"))).over(wP))
      .select(col("id").as("a_id"), col("ghost").as("a_ghost"),
        explode(col("__succ")).as("__b"))
      .filter(!(col("a_ghost") && col("__b.ghost")))
      .select(col("a_id"), col("__b.id").as("b_id"))
  }

  /** EXACT Jaccard-threshold self-join via prefix filtering (the
    * PPJoin-family algorithm: Chaudhuri et al. ICDE'06 prefix filter,
    * Xiao et al. WWW'08): returns exactly the pairs with
    * `jaccard >= minJaccard` — no LSH false negatives, no stop-shingle
    * cap — while still never joining all pairs.
    *
    * The algorithmic contract: order every document's distinct shingle
    * fingerprints by one GLOBAL total order (document-frequency
    * ascending, then fingerprint — rarest first) and index only each
    * document's first
    * `|d| − ⌈t·|d|⌉ + 1` shingles (its "prefix"). Any pair with
    * `J ≥ t` shares `≥ ⌈t·|x|⌉` shingles, and two sets that overlap
    * that much MUST collide inside these prefixes (pigeonhole on the
    * shared order) — so joining prefixes alone loses nothing; a cheap
    * length filter (`t·max(|A|,|B|) ≤ min(|A|,|B|)`) prunes further,
    * then exact verification on the full shingle sets keeps only true
    * pairs.
    *
    * Why it scales where the naive shingle-join needs its cap: join
    * cost is Σ freq² over the JOIN KEY, and freq-ascending prefixes
    * are built from each document's RAREST shingles — corpus-wide
    * boilerplate sorts to the suffix and never enters the join. Skew
    * dissolves by construction instead of by dropping data. The
    * per-doc rank window partitions by doc id (bounded by document
    * length, never a whale key); verification joins touch only
    * candidate pairs.
    *
    * @param pinParallelism keep the operator's exchanges at the session
    *   shuffle parallelism (see the `parts` note below). True for
    *   corpus-scale callers; callers feeding a SMALL slice (the md5
    *   strat twins at low SF) pass false and let AQE size the stages —
    *   measured at sf0.1 the pins cost the 1/8-stratum run 0.78→1.64 s
    *   in pure empty-task dispatch while saving the full-corpus run
    *   ~0.8 s of 4-task serialization.
    */
  def ppjoinPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5,
      pinParallelism: Boolean = true): DataFrame = {
    // All float pruning bounds carry a 1e-9 slack on the PRUNING side:
    // a last-ulp rounding error may admit one extra candidate (exact
    // verification removes it) but must never drop a true pair.
    val eps = 1e-9
    // The whole algorithm runs on each document's set of 64-bit shingle
    // FINGERPRINTS (xxhash64), not the strings: 8 bytes per element
    // through every shuffle, and the prefix theorem applies verbatim to
    // fingerprint sets (frequency order + prefix + verification all see
    // the same universe). Fingerprinting is the only approximation vs
    // the string-set oracle — two distinct shingles of one compared
    // pair would have to collide in 64 bits to change any answer
    // (~2^32 shingles per document before that's likely).
    val docs = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), wordShingles(col(textCol), n).as("set"))
    val hsets = docs.select(col("id"),
      array_sort(array_distinct(transform(col("set"), s => xxhash64(s))))
        .as("hs"))
    // Every explicit repartition in this operator PINS the partition
    // count (the editJoin posture): the exchanges here carry few BYTES
    // (8-byte fingerprints) but feed CPU-heavy stages (rank window,
    // Σfreq² candidate join, array_intersect verification), and AQE —
    // which coalesces by input bytes — collapsed them to 4 partitions
    // at sf0.1/local[32], serializing ~4.6 s of stage CPU onto 4 tasks
    // (round-15 stage profile). The pinned count is the session
    // shuffle parallelism, so it scales with the cluster, not a local
    // constant.
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // The pinned exchanges exist ONLY for the corpus-scale caller: when
    // pinParallelism is false they are omitted entirely, restoring the
    // original plan shapes (ENSURE_REQUIREMENTS window exchange, runtime
    // broadcast prefix join, ENSURE dedup) that AQE sizes correctly for
    // a small slice.
    def rep(d: DataFrame, cols: Column*): DataFrame =
      if (pinParallelism) d.repartition(parts, cols: _*) else d
    // Fingerprint-keyed barrier, same posture as [[ngramJaccardPairs]]:
    // the exploded relation feeds the frequency count AND the prefix
    // join; one exchange hash-partitioned by `h` lets ReuseExchange
    // evaluate the shingling once and run the groupBy shuffle-free.
    // count(id) (not count(*)) keeps `id` referenced below the exchange
    // so both consumers' exchanges stay identical.
    // n_sh rides the explode as size(hs) — map-side, no second window
    // aggregate next to the rank.
    val sh0 = hsets.select(col("id"), size(col("hs")).as("n_sh"),
        explode(col("hs")).as("h"))
    // the h-barrier itself predates the pinning and must stay in both
    // modes (it is what lets ReuseExchange evaluate the shingling once);
    // only its COUNT is mode-dependent
    val sh = if (pinParallelism) sh0.repartition(parts, col("h"))
      else sh0.repartition(col("h"))
    // The `when` is vacuous (n_sh is a non-null size ≥ 0) but keeps BOTH
    // non-key columns referenced in this consumer, so its pruned schema
    // — and therefore its exchange — matches the prefix join's and
    // ReuseExchange unifies them.
    val freq = sh.groupBy("h")
      .agg(count(when(col("n_sh") >= 0, col("id"))).as("f"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy("id")
    // The pinned id-repartition satisfies the window's required
    // distribution at full parallelism (its ENSURE_REQUIREMENTS
    // exchange was one of the two AQE-coalesced 4-task stages); the
    // pinned h-repartition after the prefix filter gives the candidate
    // self-join ONE reused, full-width exchange for both sides instead
    // of a runtime broadcast of the whole prefix relation probed on 4
    // tasks.
    val prefix = rep(rep(sh.join(freq, "h"), col("id"))
      .select(col("id"), col("h"), col("n_sh").cast("long").as("n_sh"),
        row_number().over(byDoc.orderBy(col("f"), col("h"))).as("p"))
      .filter(col("p") <=
        col("n_sh") - ceil(col("n_sh") * lit(minJaccard) - eps).cast("long") + 1L),
      col("h"))
    // Candidate join with BOTH classic prunes applied per collision row:
    //   - length filter: J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|);
    //   - positional filter: a collision at ranks (pa, pb) bounds the
    //     intersection by min(pa−1, pb−1) shared elements ordered before
    //     it plus min(|A|−pa+1, |B|−pb+1) from it on — if that upper
    //     bound can't reach ⌈t/(1+t)·(|A|+|B|)⌉ the row can't witness a
    //     qualifying pair. The bound dominates the true intersection, so
    //     every collision row of a TRUE pair survives (distinct() after
    //     the filter loses nothing).
    val oReq = ceil((col("a_n") + col("b_n")) *
      lit(minJaccard / (1 + minJaccard)) - eps)
    val posUb = least(col("pa") - 1L, col("pb") - 1L) +
      least(col("a_n") - col("pa") + 1L, col("b_n") - col("pb") + 1L)
    val cand = prefix.select(col("id").as("a_id"), col("h"),
        col("p").as("pa"), col("n_sh").as("a_n"))
      .join(prefix.select(col("id").as("b_id"), col("h"),
        col("p").as("pb"), col("n_sh").as("b_n")), "h")
      .filter(col("a_id") < col("b_id") &&
        least(col("a_n"), col("b_n")).cast("double") >=
          greatest(col("a_n"), col("b_n")) * lit(minJaccard) - eps &&
        posUb.cast("double") >= oReq)
      .select("a_id", "b_id")
      // pinned-count dedup (repartition + dropDuplicates, the editJoin
      // spelling): the downstream array_intersect verification rides
      // this exchange's parallelism, and AQE would coalesce the small
      // pair bytes onto a handful of tasks
      .transform(d => rep(d, col("a_id"), col("b_id"))).dropDuplicates()
    cand
      .join(hsets.select(col("id").as("a_id"), col("hs").as("a_hs")), "a_id")
      .join(hsets.select(col("id").as("b_id"), col("hs").as("b_hs")), "b_id")
      .withColumn("shared",
        size(array_intersect(col("a_hs"), col("b_hs"))).cast("long"))
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (size(col("a_hs")) + size(col("b_hs")) - col("shared")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** n-gram Jaccard similarity pairs via shingle-join: explode distinct
    * shingles, join on the shingle, count shared per pair, and compute
    * |A∩B| / (|A| + |B| − |A∩B|). Pairs below `minJaccard` are dropped.
    *
    * `maxShingleFreq` drops shingles shared by more than that many docs
    * before the join (stop-shingle guard): the join cost is Σ freq² per
    * shingle, so one corpus-wide boilerplate line would otherwise create
    * a quadratic hot bucket. Applied identically in the oracle.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Double = 0.5,
      maxShingleFreq: Long = 1000L): DataFrame = {
    // Barrier + alignment: the exploded-shingle relation is consumed four
    // times (frequency filter, both join sides, per-doc sizes); without a
    // materialization boundary each consumer re-evaluates the shingling
    // expression. Hash-partitioning BY THE SHINGLE also pre-aligns the
    // frequency groupBy and the pair join, so they run shuffle-free on
    // the reused exchange.
    // The explicit isNotNull matches the constraint the pair join infers
    // on its branches; without it the frequency branch's subtree (no join,
    // so nothing inferred) canonicalizes differently from the join
    // branches' and ReuseExchange can't unify them.
    val sh = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(wordShingles(col(textCol), n)).as("s"))
      .repartition(col("s"))
    // count(id), not count(*): `id` is non-null so the value is identical,
    // but referencing it stops column pruning from dropping `id` below
    // THIS consumer's exchange — which would make the exchange
    // non-identical to the other three consumers' and defeat ReuseExchange
    // (the shingling would then run twice).
    val rare = sh.groupBy("s").agg(count(col("id")).as("f"))
      .filter(col("f") <= maxShingleFreq).select("s")
    val pruned = sh.join(rare, "s")
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val shared = pruned.select(col("id").as("a_id"), col("s"))
      .join(pruned.select(col("id").as("b_id"), col("s")), "s")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("id").as("a_id"), col("n_sh").as("a_n")), "a_id")
      .join(sizes.select(col("id").as("b_id"), col("n_sh").as("b_n")), "b_id")
      .withColumn("jaccard", round(
        col("shared").cast("double") /
          (col("a_n") + col("b_n") - col("shared")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact duplicated-SPAN removal — the sub-document complement of every
    * doc-level dedup family above (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022): any `spanLen`-token span
    * that occurs more than once in the corpus keeps only its FIRST
    * occurrence (minimum (doc, position)); every other occurrence's token
    * positions are scrubbed and the survivors re-joined. Doc-level dedup
    * cannot catch a boilerplate paragraph pasted into a thousand otherwise
    * distinct pages — span dedup removes exactly that paragraph and keeps
    * the pages.
    *
    * Plan shape (scale posture): one span explode (n_tokens rows, each a
    * fixed-width hash-sized key — the span string; at production scale
    * substitute xxhash64 of the span for the key with identical
    * semantics), first ownership as a MERGEABLE `groupBy(span).agg(min)`
    * — map-side combined, so a hot boilerplate span collapses to one row
    * per map task before the shuffle (a window `min` would instead drag
    * every occurrence of the hot span to a single task, and hot spans are
    * exactly the operator's target data) — joined back against only the
    * spans with cnt > 1, one id-keyed aggregate collects each doc's
    * removed positions (bounded by the doc's own token count — documents
    * are chunk-bounded upstream), and one id-keyed join back rebuilds the
    * text via `array_except` (hash-set membership, O(n_tokens + n_cov))
    * rather than a per-token `array_contains` scan (O(n·k), quadratic for
    * heavily duplicated long docs).
    *
    * Overlap semantics: a position is removed iff it falls inside ANY
    * non-first occurrence's [i, i+spanLen) interval. A doc repeating its
    * own span keeps only the first occurrence; overlapping duplicate
    * spans union their intervals. Counts are exact integers.
    *
    * Output: (idCol, n_tokens, n_removed, clean_text), one row per input
    * doc (docs shorter than `spanLen` pass through untouched).
    */
  /** The non-first occurrences of every corpus-duplicated `spanLen`-token
    * span: (idCol, __i) rows where the span starting at token __i also
    * occurs at some lexicographically smaller (doc, position). Shared by
    * [[spanDedup]] (which scrubs them) and [[maximalDupSpans]] (which
    * reports them); plan shape documented on [[spanDedup]].
    */
  private def nonFirstSpanOccurrences(base: DataFrame, idCol: String,
      spanLen: Int): DataFrame = {
    // Span-keyed barrier (the ngramJaccardPairs posture): the exploded
    // span stream is consumed TWICE — first-ownership aggregate and the
    // join back — both keyed by `__span`; without a boundary each
    // consumer re-ran the tokenize + explode + concat_ws pipeline (2
    // Generate subtrees in the round-15 final plan, 0 ReusedExchange).
    // One hash exchange on the span makes the groupBy shuffle-free and
    // lets both join sides reuse it. The join already shuffled raw
    // occurrences by span, so this adds NO new skew surface — it only
    // moves the aggregate onto the exchange the join pays for anyway
    // (a hot boilerplate span's rows were always co-located at the
    // join; the mergeable-aggregate note below still holds for the
    // post-exchange partial+final fold).
    val spans = base
      .where(size(col("__toks")) >= spanLen)
      .select(col(idCol),
        explode(sequence(lit(0), size(col("__toks")) - spanLen)).as("__i"),
        col("__toks"))
      .select(col(idCol), col("__i"),
        concat_ws(" ", slice(col("__toks"), col("__i") + 1, lit(spanLen)))
          .as("__span"))
      .repartition(col("__span"))
    val firsts = spans.groupBy("__span")
      .agg(min(struct(col(idCol), col("__i"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") > 1)
      .select("__span", "__first")
    spans.join(firsts, "__span")
      .where(struct(col(idCol), col("__i")) =!= col("__first"))
  }

  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 8): DataFrame = {
    val base = df.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val dups = nonFirstSpanOccurrences(base, idCol, spanLen)
    val covered = dups
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + (spanLen - 1))).as("__p"))
      .groupBy(idCol).agg(collect_set(col("__p")).as("__cov"))
    val allPos = when(size(col("__toks")) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), size(col("__toks")) - 1))
    base.join(covered, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        concat_ws(" ", transform(
          array_except(allPos, coalesce(col("__cov"),
            array().cast("array<int>"))),
          p => element_at(col("__toks"), p + 1))).as("clean_text"))
  }

  /** MAXIMAL duplicated-span report — the audit twin of [[spanDedup]]
    * and the report ExactSubstr produces in Lee et al. ACL 2022: instead
    * of rewriting documents, emit each document's maximal contiguous
    * runs of tokens covered by non-first duplicated spans, so a human
    * (or a downstream cutter with its own policy) sees WHERE the
    * boilerplate lives and how long it really is — overlapping
    * fixed-width span hits merge into one interval, recovering the
    * true duplicated-substring extent the fixed width fragments.
    *
    * The interval merge is the gaps-and-islands construction: per doc,
    * sort the covered positions and group by `pos − row_number()` —
    * consecutive positions share the key. The window partitions by doc
    * and is bounded by the doc's own token count (documents are
    * chunk-bounded upstream), never by corpus size; everything before
    * it is the same mergeable-aggregate pipeline as [[spanDedup]].
    *
    * Output: (idCol, start_tok, end_tok, n_tokens) per maximal interval,
    * 0-based inclusive token positions, ordered.
    */
  def maximalDupSpans(df: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 8): DataFrame = {
    val base = df.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("__toks"))
    val dups = nonFirstSpanOccurrences(base, idCol, spanLen)
    val covered = dups
      .select(col(idCol),
        explode(sequence(col("__i"), col("__i") + (spanLen - 1))).as("__p"))
      .distinct()
    val w = Window.partitionBy(col(idCol)).orderBy(col("__p"))
    covered
      .withColumn("__g", col("__p") - row_number().over(w))
      .groupBy(col(idCol), col("__g"))
      .agg(min(col("__p")).cast("long").as("start_tok"),
        max(col("__p")).cast("long").as("end_tok"),
        count(lit(1)).as("n_tokens"))
      .select(col(idCol), col("start_tok"), col("end_tok"), col("n_tokens"))
      .orderBy(idCol, "start_tok")
  }
}
