package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{AsOfJoin, Dedup, Relevance, Similarity, Skew, TextAnalysis}

/** Unit tests for the training-data-pipeline operators (dedup family,
  * text analysis, similarity search) on tiny in-memory data — the sf0.01
  * DuckDB oracle (tools/check.py) is the integration gate; these pin the
  * semantic corners.
  */
class PipelineOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts and keeps the min id") {
    val df = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val out = Dedup.exactGroups(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("keep_id") == 1L)
    assert(out(0).getAs[Long]("group_size") == 2L)
    assert(out(1).getAs[Long]("group_size") == 1L)
  }

  test("minhash: identical docs get identical signatures; sigs have k entries") {
    val df = docs(1L -> "w1 w2 w3 w4 w5", 2L -> "w1 w2 w3 w4 w5", 3L -> "q r s t u")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", numHashes = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs.values.forall(_.length == 8))
  }

  test("minhash estimated jaccard ≈ true jaccard for overlapping docs") {
    // 12-token docs sharing a 9-token run: true 3-shingle jaccard = 7/13.
    val base = (1 to 12).map("w" + _)
    val a = base.mkString(" ")
    val b = (base.take(9) ++ Seq("x1", "x2", "x3")).mkString(" ")
    val df = docs(1L -> a, 2L -> b)
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", numHashes = 64)
    val pairs = Dedup.lshCandidates(sigs, "doc_id", bands = 32, rowsPerBand = 2,
      numHashes = 64).collect()
    assert(pairs.length == 1)
    val est = pairs(0).getAs[Double]("est_jaccard")
    assert(math.abs(est - 7.0 / 13.0) < 0.2, s"est=$est true=${7.0 / 13.0}")
  }

  test("lsh candidates: disjoint docs don't collide, dup docs collide in all bands") {
    val df = docs(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "t u v w x y")
    val pairs = Dedup.lshCandidates(
      Dedup.minhashSignatures(df, "doc_id", "text"), "doc_id", 4, 2).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("a_id") == 1L && pairs(0).getAs[Long]("b_id") == 2L)
    assert(pairs(0).getAs[Long]("n_bands") == 4L)
    assert(pairs(0).getAs[Double]("est_jaccard") == 1.0)
  }

  test("simhash16 is stable, bounded, and equal for equal docs") {
    val df = docs(1L -> "a b c d", 2L -> "a b c d", 3L -> "completely different words here")
    val out = df.select(col("doc_id"), Dedup.simhash16(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(out.values.forall(v => v >= 0 && v < (1 << 16)))
  }

  test("simhashPairs finds identical-sketch pairs via band join, no false drops") {
    val df = docs(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "alpha beta gamma delta epsilon zeta", // identical → hamming 0
      3L -> "totally unrelated words over here now")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text").collect()
    assert(pairs.exists(r =>
      r.getAs[Long]("a_id") == 1L && r.getAs[Long]("b_id") == 2L &&
        r.getAs[Int]("hamming") == 0))
    assert(pairs.forall(_.getAs[Int]("hamming") == 0))
  }

  test("simhashPairs: Hamming-0 fast path and Hamming-1 band path both match brute force") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = docsDf.select(col("doc_id"), Dedup.simhash16(col("text")).as("sh"))
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    def truth(maxH: Int) = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxH)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // maxHamming=0 takes the exact-join fast path (no banding)
    val fast = Dedup.simhashPairs(docsDf, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fast == truth(0))
    // maxHamming=1 exercises the 2x8-bit band join (pigeonhole recall)
    val banded = Dedup.simhashPairs(docsDf, "doc_id", "text", maxHamming = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == truth(1))
  }

  test("simhash64Pairs: lossless pigeonhole recall for Hamming <= 3 (vs brute force)") {
    val docsDf = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sh = docsDf.select(col("doc_id"), Dedup.simhash64(col("text")).as("sh"))
    // brute-force truth: every pair at Hamming <= 3
    val a = sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
    val truth = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sh").bitwiseXOR(col("b_sh"))).cast("int").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhash64Pairs(docsDf, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // 4x16 banding guarantees every Hamming<=3 pair shares a full band —
    // the banded join must return EXACTLY the brute-force set
    assert(banded == truth, s"banded=${banded.size} truth=${truth.size}")
    assert(truth.nonEmpty, "fixture should contain at least one near-dup pair")
  }

  test("cleanCorpusTransitive keeps one survivor per component (V-shaped cluster)") {
    import spark.implicits._
    // docs 2 and 3 are both near-dups of 10 but not of each other at the
    // 0.75 signature threshold: a V-shaped cluster. The pairwise rule
    // keeps both local minima (2 and 3); the transitive rule keeps only
    // the component min. Construct via targeted token edits on a long
    // base text so the MinHash estimate lands where needed.
    val base = (1 to 60).map("w" + _)
    def doc(edits: Map[Int, String]) =
      base.zipWithIndex.map { case (w, i) => edits.getOrElse(i, w) }.mkString(" ")
    // Edit positions found by replaying the md5 minhash family offline:
    // est(2,10)=0.875, est(3,10)=0.75 (both candidates at >= 0.75),
    // est(2,3)=0.625 (below threshold) — a V with no 2-3 edge.
    val d2 = doc(Map.empty)
    val d10 = doc(Map(3 -> "XX"))
    val d3 = doc(Map(3 -> "XX", 9 -> "YY"))
    val df = Seq((2L, d2), (10L, d10), (3L, d3)).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidates(
      Dedup.minhashSignatures(df, "doc_id", "text"), "doc_id",
      bands = 4, rowsPerBand = 2)
      .filter(col("est_jaccard") >= 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((2L, 10L), (3L, 10L)), s"expected V shape, got $pairs")
    val pairwise = Dedup.cleanCorpus(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val transitive = Dedup.cleanCorpusTransitive(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pairwise == Set(2L, 3L)) // both local minima survive
    assert(transitive == Set(2L))   // one survivor per component
  }

  test("components: transitive chains collapse to the min id, disjoint stay apart") {
    import spark.implicits._
    // chain 1-2-3-4 (no direct 1-3, 1-4, 2-4 edges), pair 10-11, and a
    // chain 20-21-22 given in "reversed" orientation
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (21L, 20L), (22L, 21L)).toDF("a_id", "b_id")
    val got = graft.ops.Dedup.components(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("components: reliable-checkpoint path (checkpointDir set) matches localCheckpoint path") {
    import spark.implicits._
    // Same graph as above plus the textrank star graph, first with the
    // default localCheckpoint truncation, then with a checkpoint dir on the
    // context — the cluster arrangement, where truncated blocks must
    // survive executor loss. Answers must match and each operator must
    // really write reliable checkpoints under the dir.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (21L, 20L), (22L, 21L)).toDF("a_id", "b_id")
    val text = docs(1L -> "hub x hub y hub z hub", 2L -> "hub x hub y hub z hub")
    def comps() = graft.ops.Dedup.components(pairs, "a_id", "b_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ranks() = graft.ops.TextRank.keywords(text, "text", topK = 10).collect().toSeq
    val (localComps, localRanks) = (comps(), ranks())
    assert(localComps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    def written() = dir.listFiles().flatMap(_.listFiles()).count(_.getName.startsWith("rdd-"))
    org.apache.spark.graft.CheckpointDirs.withDir(spark.sparkContext, dir.toString) {
      assert(comps() == localComps)
      val byComps = written()
      assert(byComps > 0, s"components wrote no checkpoint under $dir")
      assert(ranks() == localRanks)
      assert(written() > byComps, s"textrank wrote no checkpoint under $dir")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "checkpoint dir left on the context")
  }

  test("KLL sketch columns: store-by-part, merge, estimate within rank error of exact") {
    import spark.implicits._
    // values 1..10000 uniform: p50 exact = 5000.5; KLL at k=400 has
    // ~0.87% two-sided rank error -> estimate within ~±100 of exact.
    val df = spark.range(1, 10001).select(
      (col("id") % 4).as("part"), col("id").cast("double").as("v"))
    val parts = graft.ops.Quantiles.sketch(df, Seq("part"), "v")
    assert(parts.count() == 4)
    val est = graft.ops.Quantiles.mergeSketches(parts, Seq.empty,
      Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)).collect().head
    def close(got: Double, want: Double): Boolean =
      math.abs(got - want) <= 10000 * 0.02 // 2% of the value RANGE
    assert(close(est.getAs[Double]("p25"), 2500.0), s"p25=${est.get(0)}")
    assert(close(est.getAs[Double]("p50"), 5000.0), s"p50=${est.get(1)}")
    assert(close(est.getAs[Double]("p90"), 9000.0), s"p90=${est.get(2)}")
    // SQL surface: the sketch and merge aggregates work from SQL too
    graft.functions.Registry.install(spark)
    df.createOrReplaceTempView("kll_in")
    val viaSql = spark.sql(
      """SELECT graft_kll_merge(s, 400) FROM
        |  (SELECT part, graft_kll_sketch(v, 400) AS s
        |   FROM kll_in GROUP BY part)""".stripMargin).collect().head
    assert(viaSql.getAs[Array[Byte]](0).nonEmpty)
  }

  test("sourceDrift: a source identical to the corpus has zero KL; a divergent feed spikes") {
    import spark.implicits._
    // single source == corpus -> p == q -> KL exactly 0, full head coverage
    val one = Seq((1L, "a b c a b a", "s0")).toDF("doc_id", "text", "source")
    val solo = graft.ops.TextAnalysis.sourceDrift(one, "source", "text")
      .collect().head
    assert(solo.getAs[Double]("kl") == 0.0)
    assert(solo.getAs[Double]("head_coverage") == 1.0)
    // s1 repeats the corpus mix, s2 floods one alien token: s2 must
    // diverge more than s1
    val two = Seq(
      (1L, "a b c a b a", "s1"), (2L, "a b c a b a", "s1"),
      (3L, "z z z z z z", "s2")).toDF("doc_id", "text", "source")
    val kl = graft.ops.TextAnalysis.sourceDrift(two, "source", "text")
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("kl"))
      .toMap
    assert(kl("s2") > kl("s1"), s"divergent feed must spike: $kl")
  }

  test("zipfFit: an exact power-law head fits slope -1") {
    import spark.implicits._
    // counts 12, 6, 4, 3 at ranks 1..4 = 12/r exactly -> ln n = ln 12 -
    // ln r, an exact linear relation: OLS slope -1, intercept ln 12
    val text = (Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")).mkString(" ")
    val got = graft.ops.TextAnalysis.zipfFit(
      Seq((1L, text)).toDF("doc_id", "text"), "text").collect().head
    assert(got.getAs[Long]("n_tokens") == 4L)
    assert(got.getAs[Double]("zipf_slope") == -1.0)
    assert(got.getAs[Double]("intercept") == math.round(math.log(12.0) * 1e4) / 1e4)
  }

  test("ngramNovelty: first owner of a shingle is novel, later docs are not") {
    // doc 1 introduces both its shingles; doc 2 shares "a b c" (owned by
    // doc 1) and introduces "b c x" -> novelty 0.5; doc 3 is a pure
    // re-crawl of doc 1 -> novelty 0.
    val df = docs(1L -> "a b c d", 2L -> "a b c x", 3L -> "a b c d")
    val got = Dedup.ngramNovelty(df, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty"))))
      .toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((2L, 0L, 0.0)))
  }

  test("ngram jaccard: self-similar pair scores 1.0, threshold filters the rest") {
    val df = docs(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "v w x y z")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", minJaccard = 0.5)
      .collect()
    assert(out.length == 1)
    assert(out(0).getAs[Double]("jaccard") == 1.0)
  }

  test("ppjoinPairs == uncapped exact shingle join, incl. boilerplate-heavy corpus") {
    // docs 1/2 are near-dups; 3/4 share only the corpus-wide boilerplate
    // tail (every doc carries it) — the shape where the capped join drops
    // shingles but the prefix filter must stay exact; 5 is unrelated
    val boiler = "all rights reserved by the site"
    val df = docs(
      1L -> s"alpha beta gamma delta epsilon $boiler",
      2L -> s"alpha beta gamma delta zeta $boiler",
      3L -> s"one two three four five six seven $boiler",
      4L -> s"red orange yellow green blue indigo $boiler",
      5L -> "completely different text with nothing shared")
    // reference: all-pairs exact jaccard with NO pruning
    val sh = df.select(col("doc_id"),
      Dedup.wordShingles(col("text"), 3).as("set"))
    val ref = sh.select(col("doc_id").as("a_id"), col("set").as("a_set"))
      .crossJoin(sh.select(col("doc_id").as("b_id"), col("set").as("b_set")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("shared", size(array_intersect(col("a_set"), col("b_set"))))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (size(col("a_set")) + size(col("b_set")) - col("shared")).cast("double"), 4))
      .filter(col("jaccard") >= 0.5)
      .select("a_id", "b_id", "jaccard")
    val got = Dedup.ppjoinPairs(df, "doc_id", "text", minJaccard = 0.5)
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    // repartition invariance (row_number window + joins must not depend
    // on physical layout)
    val again = Dedup.ppjoinPairs(df.repartition(7), "doc_id", "text",
      minJaccard = 0.5)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("sortedNeighborPairs == single-sort window spelling across bucket boundaries") {
    import spark.implicits._
    // 300 rows, many duplicate keys, forced through MANY tiny buckets
    // (parts=16 on 300 rows) so cross-boundary ghosts do real work
    val df = (1 to 300).map { i =>
      (i.toLong, f"key${(i * 7) % 40}%03d")
    }.toDF("id", "k")
    val got = Dedup.sortedNeighborPairs(df, "id", col("k"), w = 4, parts = 16)
    val wAll = org.apache.spark.sql.expressions.Window.orderBy("k", "id")
    val ref = df.withColumn("rk", row_number().over(wAll))
      .select(col("id"), col("rk"))
    val refPairs = ref.as("a").join(ref.as("b"),
        col("b.rk") > col("a.rk") && col("b.rk") <= col("a.rk") + 3)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    assert(got.exceptAll(refPairs).isEmpty && refPairs.exceptAll(got).isEmpty,
      s"got ${got.count()} pairs, want ${refPairs.count()}")
    // repartition invariance (splitter draw + windows are layout-free)
    val again = Dedup.sortedNeighborPairs(df.repartition(7), "id", col("k"),
      w = 4, parts = 16)
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("sortedNeighborPairs: small table + many parts clamps buckets, drops no pairs") {
    import spark.implicits._
    // 10 rows forced through parts=10: pre-guard each bucket held ~1 row
    // and every w=5 window spanned 2+ buckets, so cross-boundary pairs
    // silently vanished (the round-5 advice item). The known-n clamp now
    // collapses this to one bucket; the pair set must equal the
    // single-sort spelling exactly.
    val df = (1 to 10).map(i => (i.toLong, f"k$i%02d")).toDF("id", "k")
    val got = Dedup.sortedNeighborPairs(df, "id", col("k"), w = 5, parts = 10)
    val wAll = org.apache.spark.sql.expressions.Window.orderBy("k", "id")
    val ref = df.withColumn("rk", row_number().over(wAll))
      .select(col("id"), col("rk"))
    val refPairs = ref.as("a").join(ref.as("b"),
        col("b.rk") > col("a.rk") && col("b.rk") <= col("a.rk") + 4)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    assert(got.exceptAll(refPairs).isEmpty && refPairs.exceptAll(got).isEmpty,
      s"got ${got.count()} pairs, want ${refPairs.count()}")
  }

  test("sortedNeighborPairs: thin interior bucket fails loudly, never silently") {
    import spark.implicits._
    // 60 distinct keys at parts=3 sits exactly at the sample cap, so the
    // clamp cannot prove n; with w=25 the 20-row interior bucket is
    // thinner than the window and one-hop ghosts WOULD drop pairs like
    // (rank 20, rank 45). The in-plan assert must throw instead.
    val df = (1 to 60).map(i => (i.toLong, f"k$i%02d")).toDF("id", "k")
    val ex = intercept[Throwable] {
      Dedup.sortedNeighborPairs(df, "id", col("k"), w = 25, parts = 3)
        .collect()
    }
    val chain = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
    assert(chain.contains("sortedNeighborPairs"),
      s"expected the loud precondition failure, got: $chain")
  }

  test("normalizeText: case/punct/whitespace-insensitive, enables normalized dedup") {
    import spark.implicits._
    val df = Seq(
      (1L, "Hello,  World! "), (2L, "hello world"), (3L, "HELLO-WORLD"),
      (4L, "different text")).toDF("doc_id", "text")
    val norm = df.select(col("doc_id"),
      graft.ops.TextAnalysis.normalizeText(col("text")).as("n"))
    val vals = norm.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(vals(1L) == "hello world" && vals(2L) == "hello world")
    assert(vals(3L) == "helloworld") // dash stripped, no space inserted
    // normalization-aware exact dedup groups 1 and 2 together
    val groups = graft.ops.Dedup.exactGroups(
      norm.withColumnRenamed("n", "text"), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("group_size"))
      .toMap
    assert(groups(1L) == 2L)
  }

  test("langId picks the language with most marker hits, en-first on ties") {
    val df = docs(
      1L -> "the cat of the house is big and small",
      2L -> "el gato de la casa que es grande y",
      3L -> "der hund und die katze das ist",
      4L -> "zzz qqq www")
    val out = df.select(col("doc_id"),
      TextAnalysis.langId(TextAnalysis.tokens(col("text"))).as("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en")
    assert(out(2L) == "es")
    assert(out(3L) == "de")
    assert(out(4L) == "en") // all-zero tie → first in priority order
  }

  test("quality columns: punctuation-free stopword-rich text scores higher") {
    val df = docs(
      1L -> ("the quick fox is in the barn and on the hay " * 10).trim,
      2L -> "!!! ??? ### $$$ %%%")
    val rows = df.select(col("doc_id") +: TextAnalysis.qualityColumns(col("text")): _*)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("quality")).toMap
    assert(rows(1L) > rows(2L))
  }

  test("fingerprint: rolling_min invariant under suffix append (shared window wins)") {
    // Min-gram of the common prefix survives appending; exact md5 differs.
    val a = "abcdefghijklmnopqrstuvwxyz"
    val df = docs(1L -> a, 2L -> (a + " tail"))
    val out = df.select(col("doc_id") +: TextAnalysis.fingerprintColumns(col("text")): _*)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byId(1L)._1 != byId(2L)._1)
    // both minima are over grams of the shared prefix unless the tail hashes lower
    assert(byId(1L)._2.nonEmpty && byId(2L)._2.nonEmpty)
  }

  test("cosine: orthogonal → 0, identical → 1; topk ranks by similarity") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(1.0f, 0.1f, 0.0f)),
      (3L, Array(0.9f, 0.0f, 0.1f))).toDF("vec_id", "embedding")
    val topk = Similarity.bruteForceTopK(
      e.filter($"vec_id" === 0), e, "vec_id", "embedding", k = 3).collect()
    assert(topk.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 1L))
    val cos = topk.map(_.getAs[Double]("cos"))
    assert(cos(0) > 0.99 && math.abs(cos(2)) < 1e-9)
  }

  test("lsh bucket: equal vectors share a bucket; lshTopK finds the near-dup") {
    import spark.implicits._
    val e = Seq(
      (0L, Array.fill(8)(0.5f)),
      (1L, Array.fill(8)(0.5f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)))
      .toDF("vec_id", "embedding")
    val buckets = e.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) == buckets(1L))
    val hits = Similarity.lshTopK(
      e.filter($"vec_id" === 0), e, "vec_id", "embedding", k = 5, bits = 4)
      .collect().map(_.getAs[Long]("neighbor_id"))
    assert(hits.contains(1L))
  }

  test("native WordShingles ≡ HOF formula on real corpus text") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = df.select(Dedup.wordShingles(col("text"), 3).as("a"),
      Dedup.wordShinglesHof(col("text"), 3).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(n == 0)
  }

  test("native WinnowedFingerprints ≡ HOF formula on real corpus text") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = df.select(
      graft.ops.TextAnalysis.winnow(col("text"), 8, 4).as("a"),
      graft.ops.TextAnalysis.winnowHof(col("text"), 8, 4).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(n == 0)
    // short-text edge cases: below k → whole-text gram; grams below w
    import spark.implicits._
    val edge = Seq((1L, "tiny"), (2L, "exactly8!"), (3L, "")).toDF("doc_id", "text")
    val m = edge.select(
      graft.ops.TextAnalysis.winnow(col("text"), 8, 4).as("a"),
      graft.ops.TextAnalysis.winnowHof(col("text"), 8, 4).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(m == 0)
  }

  test("native MinHashSignature ≡ HOF formula on real corpus text") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = df.select(
      Dedup.minhashSignature(col("text"), 8, 3).as("a"),
      Dedup.minhashSignatureHof(col("text"), 8, 3).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(n == 0)
  }

  test("quantize8: max element hits ±127, quantized cosine within 2% of exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qz = Similarity.quantize8(col("embedding"))
    val q = e.select(col("vec_id"), col("embedding"),
      qz.getField("scale").as("scale"), qz.getField("q").as("qv"))
    // every vector's largest quantized magnitude is exactly 127
    val maxes = q.select(array_max(transform(col("qv"), x => abs(x))).as("m"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(maxes == Set(127L))
    // pair 100 vectors with their successor; compare exact vs quantized cos
    val a = q.filter(col("vec_id") < 100)
      .select(col("vec_id").as("k"), col("embedding").as("ea"),
        col("scale").as("sa"), col("qv").as("qa"))
    val b = q.filter(col("vec_id") >= 100 && col("vec_id") < 200)
      .select((col("vec_id") - 100).as("k"), col("embedding").as("eb"),
        col("scale").as("sb"), col("qv").as("qb"))
    val qdot = aggregate(zip_with(col("qa"), col("qb"),
      (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (acc, v) => acc + v)
    val pairs = a.join(b, "k").select(
      (Similarity.dot(col("ea"), col("eb")) /
        (Similarity.l2Norm(col("ea")) * Similarity.l2Norm(col("eb")))).as("exact"),
      (qdot * col("sa") * col("sb") /
        (Similarity.l2Norm(col("ea")) * Similarity.l2Norm(col("eb")))).as("approx"))
    val maxErr = pairs.select(max(abs(col("exact") - col("approx"))))
      .collect().head.getDouble(0)
    assert(maxErr < 0.02, s"int8 cosine error too large: $maxErr")
  }

  test("native DotProduct ≡ HOF formula on real embeddings") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = df.select(
      Similarity.dot(col("embedding"), col("embedding")).as("a"),
      Similarity.dotHof(col("embedding"), col("embedding")).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(n == 0)
  }

  test("native SimHash16 ≡ HOF formula on real corpus text") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = df.select(Dedup.simhash16(col("text")).as("a"),
      Dedup.simhash16Hof(col("text")).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(n == 0)
  }

  test("native RollingMinHash ≡ HOF formula on real corpus text") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = df.select(
      TextAnalysis.fingerprintColumns(col("text")).last,
      TextAnalysis.rollingMinHof(col("text"), 8).as("b"))
      .filter(not(col("rolling_min") === col("b"))).count()
    assert(n == 0)
  }

  test("native RepetitionStats ≡ HOF formula on real corpus text") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = TextAnalysis.repetitionColumns(col("text"))
    val b = TextAnalysis.repetitionColumnsHof(col("text"))
    val n = df.select(
      a.head.as("a1"), a.last.as("a2"), b.head.as("b1"), b.last.as("b2"))
      .filter(not(col("a1") === col("b1") && col("a2") === col("b2"))).count()
    assert(n == 0)
  }

  test("RepetitionStats edge cases: empty, single token, null tokens") {
    import spark.implicits._
    val df = Seq("", "word", "a a a a", "x y x y").toDF("text")
    val rows = df.select(TextAnalysis.repetitionColumns(col("text")): _*)
      .collect()
    // "" -> 0 tokens: both ratios 1 - 0/1 = 1.0
    assert(rows(0).getDouble(0) == 1.0 && rows(0).getDouble(1) == 1.0)
    // "word" -> 1 token, 0 bigrams: token ratio 0, bigram ratio 1.0
    assert(rows(1).getDouble(0) == 0.0 && rows(1).getDouble(1) == 1.0)
    // "a a a a" -> 4 tokens 1 distinct; 3 bigrams 1 distinct
    assert(rows(2).getDouble(0) == 0.75 &&
      math.abs(rows(2).getDouble(1) - 0.6667) < 1e-9)
    // "x y x y" -> 4 tokens 2 distinct; bigrams (x y, y x, x y) -> 3/2
    assert(rows(3).getDouble(0) == 0.5 &&
      math.abs(rows(3).getDouble(1) - 0.3333) < 1e-9)
  }

  test("native LshBucket ≡ HOF formula on real embeddings") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = df.select(Similarity.lshBucket(col("embedding"), 4).as("a"),
      Similarity.lshBucketHof(col("embedding"), 4).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(n == 0)
  }

  test("native TokenEntropy ≡ sorted-fold HOF twin and SQL path on real docs") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // rounded to the oracle's 4 decimals: summation order differs (hash
    // vs sorted), and the measured boundary margin is ~4 orders above it
    val n = df.select(TextAnalysis.tokenEntropy(col("text")).as("a"),
      round(TextAnalysis.tokenEntropyHof(col("text")), 4).as("b"))
      .filter(not(col("a") <=> col("b"))).count()
    assert(n == 0)
    graft.functions.Registry.install(spark)
    df.createOrReplaceTempView("docs_ent")
    val viaSql = spark.sql(
      """SELECT doc_id, round(graft_entropy(
        |  filter(split(text, ' +'), t -> t != '')), 4) AS e
        |FROM docs_ent ORDER BY doc_id""".stripMargin).collect()
    val viaCol = df.select(col("doc_id"),
      TextAnalysis.tokenEntropy(col("text")).as("e"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      viaCol.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("Registry exposes the native expressions to SQL") {
    graft.functions.Registry.install(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .createOrReplaceTempView("docs_sql")
    val viaSql = spark.sql(
      """SELECT doc_id,
        |  graft_minhash(graft_shingles(
        |    filter(split(text, ' +'), t -> t != ''), 3), 8) AS sig,
        |  graft_simhash16(filter(split(text, ' +'), t -> t != '')) AS sh,
        |  graft_rolling_min(text, 8) AS rm,
        |  graft_marker_counts(concat(' ', text, ' '), ' the | of ') AS mc
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    val viaCols = spark.table("docs_sql").select(
      col("doc_id"),
      Dedup.minhashSignature(col("text"), 8, 3).as("sig"),
      Dedup.simhash16(col("text")).as("sh"),
      TextAnalysis.fingerprintColumns(col("text")).last,
      org.apache.spark.sql.graft.column(graft.functions.MarkerCounts(
        org.apache.spark.sql.graft.expression(
          concat(lit(" "), col("text"), lit(" "))),
        Seq(" the ", " of "))).as("mc"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2),
      r.getString(3), r.getSeq[Long](4))).toSeq ==
      viaCols.map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2),
        r.getString(3), r.getSeq[Long](4))).toSeq)
    // round-4 additions: tokenizer, adjacent pairs, token-set count
    val viaSql2 = spark.sql(
      """SELECT doc_id, graft_tokens(text) AS t,
        |  graft_pairs(graft_tokens(text)) AS p,
        |  graft_token_set_count(graft_tokens(text), 'the|of|and') AS c
        |FROM docs_sql ORDER BY doc_id""".stripMargin).collect()
    val viaCols2 = spark.table("docs_sql").select(
      col("doc_id"),
      TextAnalysis.tokens(col("text")).as("t"),
      TextAnalysis.mergePairs(col("text")).as("p"),
      bridgeCount(col("text"), Seq("the", "of", "and")).as("c"))
      .orderBy("doc_id").collect()
    assert(viaSql2.map(r => (r.getLong(0), r.getSeq[String](1),
      r.getSeq[String](2), r.getLong(3))).toSeq ==
      viaCols2.map(r => (r.getLong(0), r.getSeq[String](1),
        r.getSeq[String](2), r.getLong(3))).toSeq)
  }

  test("GraftExtensions injects the SQL functions at session BUILD (spark.sql.extensions path)") {
    import org.apache.spark.sql.SparkSession
    // a session built WITH the extension (no Registry.install call) must
    // see the functions; the suite's plain session must keep its own
    // registry — extensions are per-session, the deployment-grade hook
    // for sessions the app does not construct (spark-submit --conf
    // spark.sql.extensions=graft.GraftExtensions)
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate() // reuses the JVM's SparkContext, new session + registry
    try {
      assert(ext ne prev)
      val d = ext.sql(
        """SELECT graft_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
          |                 CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d"""
          .stripMargin).collect().head.getDouble(0)
      assert(d == 11.0)
      val sh = ext.sql(
        "SELECT graft_simhash64(array('a', 'b', 'a')) AS sh")
        .collect().head.getLong(0)
      val viaCol = prev.range(1)
        .select(graft.ops.Dedup.simhash64(lit("a b a")).as("sh"))
        .collect().head.getLong(0)
      assert(sh == viaCol, s"extension-injected simhash $sh != column API $viaCol")
    } finally {
      // do NOT stop ext: it shares the suite's SparkContext; just restore
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("saltedJoin == plain inner join (including hot-key duplicates)") {
    import spark.implicits._
    // one hot key (k=1 appears 500×) plus normal keys
    val large = ((1 to 500).map(i => (1L, s"p$i")) ++
      Seq((2L, "x"), (3L, "y"))).toDF("k", "payload")
    val small = Seq((1L, "dim1"), (2L, "dim2"), (4L, "dim4")).toDF("k", "name")
    val plain = large.join(small, Seq("k"), "inner")
      .orderBy("k", "payload").collect()
    val salted = Skew.saltedJoin(large, small, Seq("k"), saltFactor = 8)
      .orderBy("k", "payload").collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)
  }

  test("heavy hitters: exact when distinct ≤ k; heavy item survives skew") {
    import spark.implicits._
    // exact regime: 3 distinct items, k = 10
    val uniform = Seq.fill(40)("a") ++ Seq.fill(25)("b") ++ Seq.fill(10)("c")
    val exact = uniform.toDF("w")
      .agg(TextAnalysis.heavyHitters(col("w"), 10).as("hh"))
      .collect().head.getMap[String, Long](0)
    assert(exact == Map("a" -> 40L, "b" -> 25L, "c" -> 10L))

    // SQL path agrees with the Column path
    graft.functions.Registry.install(spark)
    uniform.toDF("w").createOrReplaceTempView("hh_words")
    val viaSql = spark.sql("SELECT graft_heavy_hitters(w, 10) FROM hh_words")
      .collect().head.getMap[String, Long](0)
    assert(viaSql == exact)

    // skewed regime: 1 item is 60% of n across many rare items, k = 4;
    // MG guarantees any item with freq > n/(k+1) is present, count
    // undercounts by at most n/(k+1)
    val n = 1000
    val skewed = (Seq.fill((n * 6) / 10)("hot") ++
      (1 to (n * 4) / 10).map(i => s"rare$i")).toDF("w").repartition(8)
    val hh = skewed.agg(TextAnalysis.heavyHitters(col("w"), 4).as("hh"))
      .collect().head.getMap[String, Long](0)
    assert(hh.contains("hot"), s"heavy item missing from $hh")
    assert(hh("hot") >= (n * 6) / 10 - n / 5, s"undercount too large: $hh")
    assert(hh.size <= 4)
  }

  test("cleanCorpus invariants: subset of input, no surviving near-dup pair") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cleaned = Dedup.cleanCorpus(docs, "doc_id", "text")
    val inIds = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    val outIds = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(outIds.subsetOf(inIds))
    assert(outIds.nonEmpty)
    // re-running LSH on the CLEANED corpus finds no pair at/above the
    // removal threshold — the dedup actually deduplicated
    val residual = Dedup.lshCandidates(
      Dedup.minhashSignatures(cleaned, "doc_id", "text"), "doc_id", 4, 2)
      .filter(col("est_jaccard") >= 0.75).count()
    assert(residual == 0, s"$residual near-dup pairs survived cleaning")
  }

  test("map-typed columns: venn and diff are canonical under map entry order") {
    import spark.implicits._
    val a = Seq((1L, Map("x" -> 1, "y" -> 2))).toDF("id", "m")
    val b = Seq((1L, Map("y" -> 2, "x" -> 1))).toDF("id", "m")
    // same logical map, different entry order → must compare equal
    assert(graft.ops.VennDiff.removed(a, b).isEmpty)
    assert(graft.ops.VennDiff.intersection(a, b).count() == 1)
    val d = graft.ops.KeyDiff.diff(a, b, Seq("id"))
    assert(d.filter(col(graft.ops.KeyDiff.StatusCol) =!= "unchanged").isEmpty)
  }

  test("hash sampling: invariant under repartitioning, rates approximately honored") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val once = TextAnalysis.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0.3, "de" -> 0.9)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val reparted = TextAnalysis.stratifiedSample(df.repartition(13), "doc_id",
      "lang", Map("en" -> 0.3, "de" -> 0.9)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(once == reparted) // the membership IS the dataset version
    val enRate = once.count(_ % 2 == 0) / 1000.0
    val deRate = once.count(_ % 2 == 1) / 1000.0
    assert(math.abs(enRate - 0.3) < 0.06, s"en rate $enRate")
    assert(math.abs(deRate - 0.9) < 0.06, s"de rate $deRate")

    // splits are disjoint, exhaustive, and stable
    val splits = df.select(col("doc_id"),
      TextAnalysis.assignSplit(col("doc_id"), 0.8, 0.1).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum == 2000L)
    assert(math.abs(splits("train") / 2000.0 - 0.8) < 0.05)
  }

  test("chunking: overlap carried between chunks, short docs = one chunk") {
    import spark.implicits._
    val df = Seq((1L, (1 to 10).map("t" + _).mkString(" ")), (2L, "a b"),
      (3L, (1 to 9).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val chunks = graft.ops.Chunking.chunk(df, "doc_id", "text",
      chunkTokens = 4, overlap = 2).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    // doc 1: 10 tokens, stride 2 → starts 0,2,4,6 (start 8 would re-cover
    // tokens 9-10 already in chunk 3 — the duplicated-tail case) → 4 chunks
    val d1 = chunks(1L).sortBy(_.getAs[Int]("chunk_idx"))
    assert(d1.length == 4)
    assert(d1(0).getAs[String]("chunk_text") == "t1 t2 t3 t4")
    assert(d1(1).getAs[String]("chunk_text") == "t3 t4 t5 t6") // 2-token overlap
    assert(d1.last.getAs[String]("chunk_text") == "t7 t8 t9 t10") // full tail
    assert(chunks(2L).length == 1)
    assert(chunks(2L).head.getAs[String]("chunk_text") == "a b")
    // doc 3: 9 tokens → starts 0,2,4,6; genuine partial tail t7 t8 t9 kept
    val d3 = chunks(3L).sortBy(_.getAs[Int]("chunk_idx"))
    assert(d3.length == 4)
    assert(d3.last.getAs[String]("chunk_text") == "t7 t8 t9")
    assert(d3.last.getAs[Int]("chunk_n_tokens") == 3)
  }

  test("chunking: every chunk contributes tokens no earlier chunk covered") {
    import spark.implicits._
    // sweep lengths around the stride grid, incl. the n=56/32/8 case from
    // the round-1 advisory (start 48 lies within overlap of the end)
    val docs = (50 to 60).map(n => (n.toLong, (1 to n).map("w" + _).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    val rows = graft.ops.Chunking.chunk(df, "doc_id", "text",
      chunkTokens = 32, overlap = 8).collect()
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (n, cs) =>
      val sorted = cs.sortBy(_.getAs[Int]("chunk_idx"))
      var covered = 0 // tokens 1..covered already emitted
      sorted.foreach { r =>
        val toks = r.getAs[String]("chunk_text").split(" ")
        val last = toks.last.drop(1).toInt
        assert(last > covered,
          s"doc $n chunk ${r.getAs[Int]("chunk_idx")} adds no new tokens")
        covered = last
      }
      assert(covered == n.toInt, s"doc $n: tokens ${covered + 1}..$n never emitted")
    }
  }

  test("packing: next-fit bins by running token count, deterministic order") {
    import spark.implicits._
    // four docs of 6 tokens each, budget 10: cum-n = 0,6,12,18 → bins 0,0,1,1
    val df = (1 to 4).map(i => (i.toLong, Seq.fill(6)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val bins = graft.ops.Chunking.pack(df, "doc_id", "text", budgetTokens = 10L)
      .orderBy("doc_id").collect().map(_.getAs[Long]("bin")).toSeq
    assert(bins == Seq(0L, 0L, 1L, 1L))
  }

  test("quantiles ignore nulls like SQL percentile") {
    import spark.implicits._
    val df = Seq(("g", Some(10.0)), ("g", None), ("g", Some(20.0)), ("g", Some(30.0)))
      .toDF("grp", "v")
    val out = graft.ops.Quantiles.exact(df, Seq("grp"), "v", Seq("p50" -> 0.5))
      .collect().head
    assert(out.getAs[Double]("p50") == 20.0) // median of {10,20,30}, null ignored
  }

  test("winsorize clips to per-group exact quantile bounds, preserves rows") {
    import spark.implicits._
    // 11 values 0..100: p10 = 10, p90 = 90 under quantile_cont
    val df = (0 to 10).map(i => ("g", i * 10.0)).toDF("grp", "v")
    val out = graft.ops.Quantiles.winsorize(df, Seq("grp"), "v",
      pLo = 0.1, pHi = 0.9)
    assert(out.count() == 11L, "winsorize must keep every row")
    val w = out.select("v_w").collect().map(_.getDouble(0)).sorted.toSeq
    assert(w.head == 10.0 && w.last == 90.0, s"clip bounds wrong: $w")
    assert(w.count(_ == 10.0) == 2 && w.count(_ == 90.0) == 2,
      "tail values must clip to the bound, interior values untouched")
    assert(w.contains(50.0))
  }

  test("linReg recovers a known line exactly; degenerate x yields nulls") {
    import spark.implicits._
    // y = 2x + 5 exactly, 2-decimal values: slope/intercept/r2 exact
    val df = (1 to 50).map(i => ("g", i * 0.25, 2 * (i * 0.25) + 5.0))
      .toDF("grp", "x", "y")
    val r = graft.ops.Stats.linReg(df, "grp", "x", "y").collect().head
    assert(r.getAs[Long]("n") == 50L)
    assert(r.getAs[Double]("slope") == 2.0, s"slope ${r.getAs[Double]("slope")}")
    assert(r.getAs[Double]("intercept") == 5.0)
    assert(r.getAs[Double]("r2") == 1.0)
    // constant x: varX = 0 → null slope/intercept/r2, never Inf/NaN
    val const = Seq(("c", 3.0, 1.0), ("c", 3.0, 2.0), ("c", 3.0, 9.0))
      .toDF("grp", "x", "y")
    val c = graft.ops.Stats.linReg(const, "grp", "x", "y").collect().head
    assert(c.isNullAt(c.fieldIndex("slope")) &&
      c.isNullAt(c.fieldIndex("intercept")) && c.isNullAt(c.fieldIndex("r2")))
  }

  test("linReg moments: parquet-roundtripped rollup refit == direct fit, bit-identical") {
    import spark.implicits._
    val df = (1 to 120).map { i =>
      (s"g${i % 2}", s"d${i % 5}", (i % 37) * 0.25, (i % 23) * 0.75 + i)
    }.toDF("grp", "day", "x", "y")
    val direct = graft.ops.Stats.linReg(df, "grp", "x", "y")
      .collect().map(_.toSeq).toSeq
    val store = java.nio.file.Files
      .createTempDirectory("graft-moments-spec").toString
    graft.ops.Stats.linRegMoments(df, Seq("grp", "day"), "x", "y")
      .write.mode("overwrite").parquet(store)
    val refit = graft.ops.Stats
      .linRegFit(spark.read.parquet(store), Seq("grp"))
      .collect().map(_.toSeq).toSeq
    assert(refit == direct,
      s"stored-moment refit must be bit-identical:\n$refit\nvs\n$direct")
  }

  test("linReg guard fails loudly past the exact long-multiply bound") {
    import spark.implicits._
    val big = Seq(("g", 4.0e7, 1.0), ("g", 5.0e7, 2.0)).toDF("grp", "x", "y")
    val e = intercept[Exception] {
      graft.ops.Stats.linReg(big, "grp", "x", "y").collect()
    }
    assert(e.getMessage != null)
  }

  test("percentileNormalize matches percent_rank incl. ties and 1-row group") {
    import spark.implicits._
    val df = Seq(("a", 10L), ("a", 20L), ("a", 20L), ("a", 30L),
      ("b", 7L)).zipWithIndex
      .map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("doc_id", "src", "v")
    val out = graft.ops.Quantiles.percentileNormalize(df, "src", "v")
    val expected = df.select(col("doc_id"),
      percent_rank().over(org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("v")).as("pct"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = out.select(col("doc_id"), col("v_pct"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected, s"got $got want $expected")
    assert(got(4L) == 0.0, "single-row group must normalize to 0.0")
    assert(out.count() == 5L, "row-preserving")
  }

  test("percentileNormalize: null group/value rows are preserved (null-safe join)") {
    import spark.implicits._
    val df = Seq((0L, Some("a"), Some(10L)), (1L, Some("a"), None),
      (2L, None, Some(5L)), (3L, Some("a"), Some(20L)))
      .toDF("doc_id", "src", "v")
    val out = graft.ops.Quantiles.percentileNormalize(df, "src", "v")
    assert(out.count() == 4L,
      "null-valued and null-group rows must survive the rank join back")
  }

  test("exactSelect == exact: grouped distributed selection, bit-equal quantiles") {
    import spark.implicits._
    // ties, skewed group sizes, a 1-row group, negative values — the
    // shapes where positional selection vs window arithmetic could
    // diverge; bit-equality required (same IEEE interpolation)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map { i =>
      val g = if (i == 0) "solo" else s"g${i % 3}"
      val v = if (i % 7 == 0) 42.0 else rnd.nextDouble() * 200 - 100
      (g, v)
    } :+ (("gnull", Double.NaN))
    val df = rows.toDF("grp", "v")
      .withColumn("v", when(col("grp") === "gnull", lit(null)).otherwise(col("v")))
    val ps = Seq("p10" -> 0.1, "p50" -> 0.5, "p99" -> 0.99)
    val a = graft.ops.Quantiles.exact(df, Seq("grp"), "v", ps)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val b = graft.ops.Quantiles.exactSelect(df, Seq("grp"), "v", ps)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(a.keySet == b.keySet, s"group sets differ: ${a.keySet} vs ${b.keySet}")
    a.foreach { case (g, q) =>
      assert(b(g) == q, s"group $g: exactSelect ${b(g)} != exact $q")
    }
  }

  test("percentileNormalizeBinned: mostly-distinct continuous scores, bounded histogram") {
    import spark.implicits._
    // 500 mostly-distinct doubles in [0, 1) — the continuous shape where
    // the UNBINNED histogram is row-sized (the degenerate case the
    // scaladoc warns about); at 2 digits the histogram is <= 101 cells
    val rnd = new scala.util.Random(42)
    val df = (0 until 500).map(i =>
        (i.toLong, if (i % 2 == 0) "a" else "b", rnd.nextDouble()))
      .toDF("doc_id", "src", "score")
    val out = graft.ops.Quantiles
      .percentileNormalizeBinned(df, "src", "score", digits = 2)
    // oracle (same engine, so rounding semantics agree by construction):
    // percent_rank over the ROUNDED value — binned ties share min rank
    val expected = df.select(col("doc_id"),
      percent_rank().over(org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy(round(col("score"), 2))).as("pct"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = out.select(col("doc_id"), col("score_pct"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected)
    assert(out.columns.contains("score") && out.count() == 500L,
      "rows keep their exact original score; only the rank is binned")
  }

  test("associationRules: hand-checked support/confidence/lift on tiny baskets") {
    import spark.implicits._
    // baskets: 1:{a,b} 2:{a,b} 3:{a,c} 4:{b} — n(a)=3 n(b)=3 n(c)=1,
    // n(ab)=2, n(ac)=1, N=4; duplicate (1,a) row must not inflate counts
    val df = Seq((1L, "a"), (1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "b")).toDF("bk", "item")
    val out = graft.ops.EventAnalytics.associationRules(df, "bk", "item")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("a", "b"), ("a", "c")))
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("n_ab") == 2L && ab.getAs[Long]("n_a") == 3L &&
      ab.getAs[Long]("n_b") == 3L)
    assert(ab.getAs[Double]("support") == 0.5)
    assert(math.abs(ab.getAs[Double]("conf_ab") - 2.0 / 3) < 1e-8)
    assert(math.abs(ab.getAs[Double]("lift") - 2.0 * 4 / (3 * 3)) < 1e-8)
    val ac = out(("a", "c"))
    assert(ac.getAs[Long]("n_ab") == 1L &&
      math.abs(ac.getAs[Double]("lift") - 4.0 / 3) < 1e-8) // 1·4/(3·1)
  }

  test("psiDrift: identical distributions score exactly 0; a shifted bin is positive") {
    import spark.implicits._
    val same = (1 to 50).flatMap(i =>
      Seq(("A", i.toLong % 5 * 100), ("B", i.toLong % 5 * 100)))
      .toDF("grp", "v")
    val zero = graft.ops.Stats.psiDrift(same, "grp", "v", 100L, "A", "B")
    assert(zero.filter(col("psi") =!= 0d).isEmpty,
      "equal counts + equal totals must give psi == 0 per bin (exact)")
    val shifted = ((1 to 50).map(_ => ("A", 0L)) ++
      (1 to 50).map(_ => ("B", 500L))).toDF("grp", "v")
    val ps = graft.ops.Stats.psiDrift(shifted, "grp", "v", 100L, "A", "B")
      .collect()
    assert(ps.forall(_.getAs[Double]("psi") > 0d),
      "fully separated distributions must contribute positive psi per bin")
  }

  test("madOutliers flags the planted spike; MAD=0 group emits nothing") {
    import spark.implicits._
    val df = ((1 to 20).map(i => ("g", i.toDouble)) :+ ("g", 1000.0))
      .toDF("grp", "v") // median 11, MAD 5, spike z ≈ 133
      .union(Seq.fill(10)(("const", 7.0)).toDF("grp", "v")) // MAD = 0
    val out = graft.ops.Quantiles.madOutliers(df, Seq("grp"), "v")
      .collect()
    assert(out.length == 1 && out.head.getAs[Double]("v") == 1000.0,
      s"expected only the spike, got ${out.mkString(";")}")
    assert(out.head.getAs[Double]("robust_z") > 100d)
  }

  test("approx_percentile (t-digest scale path) lands within 1% of exact") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    val exact = graft.ops.Quantiles.exact(li, Seq("l_returnflag"),
      "l_extendedprice", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = li.groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    exact.foreach { case (g, v) =>
      assert(math.abs(approx(g) - v) / v < 0.01,
        s"group $g: approx ${approx(g)} vs exact $v")
    }
  }

  test("distributed-selection quantiles == window quantiles, ties and tiny inputs included") {
    import spark.implicits._
    val ps = Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9, "p100" -> 1.0)
    // duplicate-heavy + more partitions than distinct values (forces
    // empty range partitions and cross-partition ties)
    val dupes = (Seq.fill(40)(5.0) ++ Seq.fill(40)(1.0) ++ Seq(9.0))
      .toDF("v").withColumn("g", lit("x"))
    def fromWindow(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Quantiles.exact(d, Seq("g"), "v", ps)
        .drop("g").collect().head.toSeq
    def fromSelection(d: org.apache.spark.sql.DataFrame, parts: Int) =
      graft.ops.Quantiles.exactDistributed(d, "v", ps, parts)
        .collect().head.toSeq
    assert(fromSelection(dupes, 16) == fromWindow(dupes))
    assert(fromSelection(dupes, 1) == fromWindow(dupes), "P=1 degenerate")
    // continuous column at a real SF
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .withColumn("g", lit("x")).withColumnRenamed("l_extendedprice", "v")
    assert(fromSelection(li, 8) == fromWindow(li))
  }

  test("histogram quantiles == row quantiles, including duplicate-heavy groups") {
    import spark.implicits._
    // duplicates make the occupancy ranges span >1 rank, and a p falls
    // inside one (lo and hi both covered) as well as between two values
    val rows = Seq.tabulate(101)(i => ("a", (i % 5).toDouble)) ++
      Seq.tabulate(7)(i => ("b", i.toDouble)) ++ Seq(("c", 42.0))
    val df = rows.toDF("grp", "v")
    val ps = Seq("p10" -> 0.1, "p50" -> 0.5, "p77" -> 0.77, "p100" -> 1.0)
    def fetch(r: DataFrame) = r.orderBy("grp").collect()
      .map(x => (x.getString(0), x.getDouble(1), x.getDouble(2),
        x.getDouble(3), x.getDouble(4))).toSeq
    assert(fetch(graft.ops.Quantiles.exactHistogram(df, Seq("grp"), "v", ps)) ==
      fetch(graft.ops.Quantiles.exact(df, Seq("grp"), "v", ps)))
  }

  test("keyDuplicates accepts dotted nested key paths like KeyDiff.diff") {
    import spark.implicits._
    val df = Seq((1L, ("a", 1)), (2L, ("a", 2)), (3L, ("b", 3)))
      .toDF("id", "sub")
      .select(col("id"), struct(col("sub._1").as("k"), col("sub._2").as("v")).as("sub"))
    val dups = graft.ops.DataTests.keyDuplicates(df, Seq("sub.k")).collect()
    assert(dups.length == 1)
    assert(dups.head.getString(0) == "a" && dups.head.getLong(1) == 2L)
  }

  test("data profile: null and distinct counts per column in one pass") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("a")))
      .toDF("id", "s")
    val p = graft.ops.DataTests.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(p("id") == ((3L, 0L, 3L)))
    assert(p("s") == ((3L, 1L, 1L)))
  }

  test("asof join: latest right ≤ left.ts per key, inclusive, inner drops unmatched") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 100L, ts("2024-01-01 10:00:00")),
      (2L, 100L, ts("2024-01-01 10:30:00")),
      (3L, 100L, ts("2024-01-01 09:00:00")), // before any right row
      (4L, 200L, ts("2024-01-01 10:00:00"))) // key with no right rows
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, ts("2024-01-01 09:30:00"), 1.0),
      (100L, ts("2024-01-01 10:00:00"), 2.0), // equal ts → inclusive match
      (100L, ts("2024-01-01 10:15:00"), 3.0))
      .toDF("user_id", "ts", "value")
    val inner = AsOfJoin.asof(left, right, Seq("user_id"), "ts", "ts")
      .orderBy("event_id").collect()
    assert(inner.map(_.getAs[Long]("event_id")).toSeq == Seq(1L, 2L))
    assert(inner.map(_.getAs[Double]("r_value")).toSeq == Seq(2.0, 3.0))
    val outer = AsOfJoin.asof(left, right, Seq("user_id"), "ts", "ts",
      inner = false).orderBy("event_id").collect()
    assert(outer.length == 4)
    assert(outer.count(_.isNullAt(outer.head.fieldIndex("r_value"))) == 2)
  }

  test("bucketed range join == naive range join (window edges inclusive)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 7L, ts("2024-01-01 10:00:00")),
      (2L, 7L, ts("2024-01-01 11:00:00")),
      (3L, 8L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, 7L, ts("2024-01-01 10:00:00"), 1.0), // == lower edge of e1
      (11L, 7L, ts("2024-01-01 10:10:00"), 2.0), // == upper edge of e1
      (12L, 7L, ts("2024-01-01 10:10:01"), 3.0), // just outside e1
      (13L, 9L, ts("2024-01-01 10:05:00"), 4.0)) // wrong user
      .toDF("event_id", "user_id", "ts", "value")
    val bucketed = graft.ops.RangeJoin.timeRangeJoin(
      left, right, Seq("user_id"), "ts", "ts", 0L, 600000L)
      .select("event_id", "r_event_id").orderBy("event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bucketed == Seq((1L, 10L), (1L, 11L)))
    val naive = left.as("a").join(right.as("b"),
      col("a.user_id") === col("b.user_id") &&
        unix_millis(col("b.ts")) >= unix_millis(col("a.ts")) &&
        unix_millis(col("b.ts")) <= unix_millis(col("a.ts")) + 600000L)
      .select(col("a.event_id"), col("b.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(bucketed == naive)
  }

  test("multi-probe LSH recall dominates single-bucket recall") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = hits(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    val probe0 = hits(Similarity.lshTopK(q, e, "vec_id", "embedding", 5, 4))
    val probe4 = hits(Similarity.lshTopK(q, e, "vec_id", "embedding", 5, 4,
      probes = 4))
    def recall(got: Set[(Long, Long)]) =
      (got & exact).size.toDouble / exact.size
    assert(recall(probe4) >= recall(probe0),
      s"probe4=${recall(probe4)} probe0=${recall(probe0)}")
    // probing strictly widens the candidate set
    assert(probe0.subsetOf(probe4) || recall(probe4) >= recall(probe0))
  }

  test("IVF ANN: probing more cells raises recall; full probe = exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = hits(Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    val probe2 = hits(Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 2))
    val probeAll = hits(Similarity.ivfTopK(q, e, "vec_id", "embedding", 5,
      nCells = 8, nProbe = 8))
    def recall(got: Set[(Long, Long)]) = (got & exact).size.toDouble / exact.size
    assert(probeAll == exact, "probing every cell must equal brute force")
    assert(recall(probe2) <= 1.0 && recall(probe2) >= 0.2,
      s"probe2 recall=${recall(probe2)}")
  }

  test("kmeansFit: recovers separated blobs, SSE non-increasing, repartition-invariant") {
    import spark.implicits._
    // two tight blobs far apart: Lloyd's must land a centroid on each
    // blob mean and SSE must collapse after the first re-fit
    val rows = (1 to 40).map { i =>
      val base = if (i % 2 == 0) 100.0f else -100.0f
      (i.toLong, Seq(base + (i % 5) * 0.1f, base - (i % 3) * 0.1f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val fit = ops.Clustering.kmeansFit(df, "vec_id", "embedding", k = 2, iters = 3)
    // SSE history is non-increasing
    val sses = fit.history.map(_._2)
    assert(sses.zip(sses.tail).forall { case (a, b) => b <= a * (1 + 1e-9) },
      s"sse history not monotone: $sses")
    // every iteration assigned every row
    assert(fit.history.forall(_._3 == 40L))
    // final centroids sit on the two blob means (one positive, one negative)
    val xs = fit.centroids.map(_(0)).sorted
    assert(xs(0) < -99 && xs(1) > 99, s"centroids off-blob: ${xs.toSeq}")
    // assignment splits the blobs cleanly and cell ids are 0/1
    val cells = ops.Clustering.kmeansAssign(df, "embedding", fit)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.values.toSet == Set(0L, 1L))
    assert((1 to 40).forall { i =>
      cells(i.toLong) == cells(if (i % 2 == 0) 2L else 1L)
    })
    // deterministic across physical layout
    val fit2 = ops.Clustering.kmeansFit(df.repartition(7), "vec_id",
      "embedding", k = 2, iters = 3)
    assert(fit2.centroids.map(_.toSeq).toSeq == fit.centroids.map(_.toSeq).toSeq)
  }

  test("SRP projection: deterministic, shape, clustered-data shortlist recall") {
    import spark.implicits._
    // clustered fixture (SRP's operating regime — uniform-random vectors
    // have noise-level cosine gaps no 4x-smaller sketch can rank): 4
    // well-separated centers, 50 points each, deterministic jitter
    val dim = 64
    val rows = (0 until 200).map { i =>
      val c = i % 4
      val v = (0 until dim).map { d =>
        val base = if (d % 4 == c) 10.0f else 0.0f
        base + (((i * 131 + d * 17) % 7) - 3) * 0.1f
      }
      (i.toLong, v)
    }
    val e = rows.toDF("vec_id", "embedding")
    def proj(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"),
        ops.Similarity.srpProject(col("embedding"), dim, 16).as("embedding"))
    // deterministic + 16-wide output
    val p1 = proj(e).collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val p2 = proj(e.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(p1 == p2, "projection must be engine/layout deterministic")
    assert(p1.values.forall(_.length == 16))
    // shortlist recall: projected top-30 must contain nearly all of the
    // exact top-10 (same-cluster points dominate both spaces)
    val q = e.filter(col("vec_id") < 8)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = hits(ops.Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 10))
    val short = hits(ops.Similarity.bruteForceTopK(proj(q), proj(e),
      "vec_id", "embedding", 30))
    val recall = (short & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered shortlist recall $recall < 0.9")
  }

  test("PQ: determinism, 32x shape, decode fidelity, recall over random order") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m1 = ops.ProductQuant.train(e, "vec_id", "embedding")
    val m2 = ops.ProductQuant.train(e, "vec_id", "embedding")
    assert(m1.codebook.sameElements(m2.codebook), "training must be deterministic")
    assert(m1.m * m1.dsub == 64 && m1.codebook.length == m1.m * m1.k * m1.dsub)
    // encode → decode must reconstruct something closer than an arbitrary
    // other vector: mean cosine(v, decode(encode(v))) well above cross-pair
    import org.apache.spark.sql.functions.{avg, col}
    val fid = e.select(ops.Similarity.cosine(col("embedding"),
      ops.ProductQuant.decode(
        ops.ProductQuant.encode(col("embedding"), m1), m1)).as("c"))
      .agg(avg("c")).head().getDouble(0)
    // synthetic embeddings are near-random (no cluster structure for the
    // codebooks to exploit), so reconstruction fidelity is bounded by the
    // m·log2(k)=32-bit budget — the meaningful floor is "far above the
    // ~0.0 cosine of unrelated random vectors", not "near 1"
    assert(fid > 0.5, s"mean reconstruction cosine $fid too low")
    // PQ is a shortlist generator, not a final ranker: on near-random
    // vectors the true top-5 are separated by noise-level margins no
    // 32-bit code can rank. The operative metric is SHORTLIST recall —
    // the exact top-5 caught in the PQ top-20 for full-precision rerank.
    val q = e.filter(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = hits(ops.Similarity.bruteForceTopK(q, e, "vec_id", "embedding", 5))
    val short16 = hits(ops.ProductQuant.pqTopK(q, e, "vec_id", "embedding", 20, m1))
    val m64 = ops.ProductQuant.train(e, "vec_id", "embedding", k = 64)
    val short64 = hits(ops.ProductQuant.pqTopK(q, e, "vec_id", "embedding", 20, m64))
    // ADC (lookup-table) scoring must reproduce the reconstruct-then-dot
    // results exactly at the rounded-ranking level
    val adc64 = hits(ops.ProductQuant.pqTopKAdc(q, e, "vec_id", "embedding", 20, m64))
    assert(adc64 == short64, "ADC and decode-path rankings must agree")
    def recall(s: Set[(Long, Long)]) = (s & exact).size.toDouble / exact.size
    info(s"shortlist recall@20: k=16 ${recall(short16)}, k=64 ${recall(short64)}")
    assert(recall(short16) >= 0.3, s"k=16 shortlist recall ${recall(short16)}")
    assert(recall(short64) >= 0.6,
      s"k=64 shortlist recall ${recall(short64)} — larger codebook must rank better")
  }

  test("embedding near-dup pairs respect the threshold") {
    import spark.implicits._
    val e = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.999f, 0.01f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.95).collect()
    assert(pairs.length == 1)
    assert((pairs(0).getAs[Long]("a_id"), pairs(0).getAs[Long]("b_id")) == (0L, 1L))
  }

  test("bloom prefilter keeps every matching key and the composed join is exact") {
    import spark.implicits._
    val probe = (1L to 2000L).map(i => (i, s"p$i")).toDF("k", "pv")
    val build = (1L to 2000L by 20).map(i => (i, s"b$i")).toDF("bk", "bv")
    val pre = ops.BloomJoin.prefilter(probe, build, "k", "bk",
      expectedKeys = 100L, fpp = 0.05)
    val preKeys = pre.collect().map(_.getAs[Long]("k")).toSet
    val buildKeys = build.collect().map(_.getAs[Long]("bk")).toSet
    assert(buildKeys.subsetOf(preKeys), "bloom filters must never drop a match")
    assert(preKeys.size < 2000, "a disjoint-majority probe must actually shrink")
    val composed = ops.BloomJoin.join(probe, build, "k", "bk", expectedKeys = 100L)
      .select("k", "pv", "bk", "bv").collect().toSet
    val plain = probe.join(build, col("k") === col("bk"))
      .select("k", "pv", "bk", "bv").collect().toSet
    assert(composed == plain, "false positives must not survive the join")
  }

  test("decontam: report flags exactly the docs removeContaminated drops") {
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon",   // shares a 3-gram with eval
      2L -> "one two three four five",          // clean
      3L -> "zz alpha beta gamma yy")           // shares the same 3-gram
    val eval = docs(100L -> "alpha beta gamma something else")
    val report = ops.Decontam.overlapReport(corpus, eval, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles_hit"), r.getAs[Long]("n_eval_docs"))).toMap
    assert(report.keySet == Set(1L, 3L))
    assert(report(1L) == (1L, 1L) && report(3L) == (1L, 1L))
    val kept = ops.Decontam.removeContaminated(corpus, eval, "doc_id", "text")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(2L), "clean corpus = corpus minus reported docs")
  }

  test("removeContaminated is idempotent and quota sampling survives repartition") {
    val corpus = docs(
      1L -> "alpha beta gamma delta epsilon", 2L -> "one two three four five",
      3L -> "zz alpha beta gamma yy", 4L -> "six seven eight nine ten")
    val eval = docs(100L -> "alpha beta gamma something else")
    val once = ops.Decontam.removeContaminated(corpus, eval, "doc_id", "text")
    val twice = ops.Decontam.removeContaminated(once, eval, "doc_id", "text")
    assert(once.collect().map(_.getLong(0)).toSet ==
      twice.collect().map(_.getLong(0)).toSet,
      "cleaning an already-clean corpus must change nothing")

    // membership is a pure function of (id, stratum totals) — physical
    // layout must not matter (the property seeded rand() lacks)
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, "w x y z", if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    def kept(d: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.ops.TextAnalysis.tokenQuotaSample(d, "doc_id", "text", "source", 200L)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept(df) == kept(df.repartition(7, col("doc_id"))))
  }

  test("bm25: repeated query term outranks single occurrence; rare term outranks common") {
    val df = docs(
      1L -> "spark spark spark filler filler filler",
      2L -> "spark filler filler filler filler filler",
      3L -> "filler common common filler filler filler",
      4L -> "common filler filler filler filler filler",
      5L -> "common nothing here at all present")
    val scores = ops.Relevance.bm25(df, "doc_id", "text", Seq("spark"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(scores.keySet == Set(1L, 2L))
    assert(scores(1L) > scores(2L), "higher tf must score higher at equal dl")
    // df(spark)=2 < df(common)=3 ⇒ idf(spark) > idf(common); same tf/dl
    val both = ops.Relevance.bm25(df, "doc_id", "text", Seq("spark", "common"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("bm25")).toMap
    assert(both(2L) > both(4L), "rarer term must carry higher idf at equal tf/dl")
  }

  test("redactPii scrubs every pattern it counts") {
    val df = docs(
      1L -> "mail me at a.b+c@x-corp.io or https://x.io/path?q=1 from 192.168.0.1",
      2L -> "no pii in this row at all")
    val red = df.select(col("doc_id"),
      TextAnalysis.redactPii(col("text")).as("red"))
    // counts on the REDACTED text must be zero for every class
    val residue = red.select(
      TextAnalysis.piiCounts(col("red")).reduce(_ + _).as("n")).collect()
    assert(residue.forall(_.getAs[Long]("n") == 0L))
    val r1 = red.filter(col("doc_id") === 1L).head().getAs[String]("red")
    assert(r1.contains("<EMAIL>") && r1.contains("<URL>") && r1.contains("<IP>"))
    val r2 = red.filter(col("doc_id") === 2L).head().getAs[String]("red")
    assert(r2 == "no pii in this row at all", "pii-free text passes unchanged")
  }

  test("HLL sketches: union-of-parts == sketch-of-whole, estimate near exact") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i % 700, if (i % 2 == 0) "a" else "b", i % 5))
      .toDF("user_id", "typ", "day")
    // union of per-day sketches must give the SAME estimate as one
    // whole-data sketch: HLL union is register-wise max, so the split
    // loses nothing
    val daily = graft.ops.DistinctSketch.sketch(df, Seq("typ", "day"), "user_id")
    val merged = graft.ops.DistinctSketch.estimate(daily, Seq("typ"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val whole = graft.ops.DistinctSketch.estimate(
      graft.ops.DistinctSketch.sketch(df, Seq("typ"), "user_id"), Seq("typ"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == whole, s"merged=$merged whole=$whole")
    val exact = df.groupBy("typ").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      assert(math.abs(merged(t) - n).toDouble / n < 0.05,
        s"estimate ${merged(t)} vs exact $n for $t")
    }
  }

  test("tokenQuotaSample: quota growth is monotone and full quota keeps everything") {
    import spark.implicits._
    val df = (1L to 200L).map(i =>
      (i, ("w " * (i % 10 + 1).toInt).trim, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
    def kept(quota: Long): Set[Long] =
      graft.ops.TextAnalysis.tokenQuotaSample(df, "doc_id", "text", "source", quota)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    val small = kept(100L)
    val big = kept(300L)
    assert(small.subsetOf(big),
      "raising the quota must only ADD docs (fixed hash draw)")
    assert(small.nonEmpty && small.size < big.size)
    assert(kept(100000L).size == 200, "quota above total keeps every doc")
  }

  test("dsirScores ranks target-domain docs above off-domain; layout-invariant; skips <2-token docs") {
    import spark.implicits._
    // two disjoint vocabularies: "code" domain vs "prose" domain
    val code = Seq("def foo return baz import bar", "import bar def foo return baz",
      "return baz import bar def foo", "def foo import bar return baz")
    val prose = Seq("the cat sat on the mat", "a dog ran in the park",
      "rain fell on the green hill", "the sun rose over the sea")
    val raw = (code ++ prose).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .union(Seq((100L, "solo")).toDF("doc_id", "text")) // 1 token: no bigram
    // repeated 100x so the target counts dominate the add-one smoothing
    // mass (m = 4096 pseudo-counts): p_seen/p_unseen ~ 100, log-ratio ~4.6
    val target = Seq.fill(100)(
      Seq("def foo return baz", "import bar def foo")).flatten.toDF("text")
    val out = graft.ops.Dsir.dsirScores(raw, target, "doc_id", "text", m = 4096)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("dsir_score")).toMap
    assert(!out.contains(100L), "a doc without bigrams carries no evidence")
    val codeScores = (0 until 4).map(i => out(i.toLong))
    val proseScores = (4 until 8).map(i => out(i.toLong))
    assert(codeScores.min > proseScores.max,
      s"every code doc must outrank every prose doc: $codeScores vs $proseScores")
    // deterministic in physical layout
    val again = graft.ops.Dsir
      .dsirScores(raw.repartition(7, col("doc_id")), target, "doc_id", "text", 4096)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("dsir_score")).toMap
    assert(out == again)
  }

  test("temperatureMixSample: budget-monotone, layout-invariant, tail share above proportional") {
    import spark.implicits._
    // head source ~9x the tail's token mass: 100 docs x 9 tokens vs 100 x 1
    val df = (1L to 200L).map { i =>
      val head = i <= 100
      (i, ("w " * (if (head) 9 else 1)).trim, if (head) "head" else "tail")
    }.toDF("doc_id", "text", "source")
    def kept(d: org.apache.spark.sql.DataFrame, budget: Long): Set[Long] =
      graft.ops.TextAnalysis.temperatureMixSample(d, "doc_id", "text", "source", budget)
        .collect().map(_.getAs[Long]("doc_id")).toSet
    val small = kept(df, 200L)
    val big = kept(df, 500L)
    assert(small.subsetOf(big), "raising the budget must only ADD docs")
    assert(small.nonEmpty && small.size < big.size)
    assert(kept(df, 100000L).size == 200, "budget above total keeps every doc")
    // membership is a pure function of (id, source totals), not layout
    assert(small == kept(df.repartition(7, col("doc_id")), 200L))
    // alpha = 1/2 flattens the mix: the tail's kept-token share must
    // exceed its proportional share (1/10). tail w=10, head w=30 =>
    // tail gets 1/4 of the budget instead of 1/10.
    val keptRows = graft.ops.TextAnalysis
      .temperatureMixSample(df, "doc_id", "text", "source", 400L)
      .groupBy("source").agg(sum("n_tok").as("t"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("t")).toMap
    val tailShare = keptRows.getOrElse("tail", 0L).toDouble /
      (keptRows.values.sum max 1L)
    assert(tailShare > 0.10, s"temperature mixing must lift the tail share, got $tailShare")
  }

  test("MarkerCounts kernel == regexp length-diff formula on the corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val diff = docs.select(
      TextAnalysis.langIdChar(padded).as("fast"),
      TextAnalysis.langIdCharHof(padded).as("hof"),
      TextAnalysis.langScoreChar(padded, Seq("the", "und")).as("s_fast"),
      TextAnalysis.langScoreCharHof(padded, Seq("the", "und")).as("s_hof"))
      .filter(col("fast") =!= col("hof") || col("s_fast") =!= col("s_hof"))
    assert(diff.count() == 0, "native kernel must equal the regexp formula")
  }

  test("langIdChar scores marker frequency, not distinct presence") {
    val df = docs(
      1L -> "der hund und die katze und das haus ist gross",
      2L -> "the the the the of and is a")
    val padded = concat(lit(" "), col("text"), lit(" "))
    val out = df.select(col("doc_id"),
      TextAnalysis.langIdChar(padded).as("pred"),
      TextAnalysis.langScoreChar(padded, Seq("the")).as("the_occ"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("pred"), r.getAs[Long]("the_occ"))).toMap
    assert(out(1L)._1 == "de")
    assert(out(2L)._1 == "en")
    // adjacent repeats share their separating space, so non-overlapping
    // left-to-right replace sees ' the ' at positions 0 and 8 only —
    // 2 hits, not 4. Both engines agree on this; the undercount on
    // adjacent runs is inherent to the length-diff occurrence trick.
    assert(out(2L)._2 == 2L)
  }

  test("oovRate: head tokens are in-vocab, tail tokens count as OOV") {
    // vocabSize=2 → vocab = {a, b} (a:4, b:3; c:2, d:1 are out).
    val df = docs(
      1L -> "a a b c",   // 1 OOV of 4
      2L -> "a b d",     // 1 OOV of 3
      3L -> "a b c")     // 1 OOV of 3
    val out = TextAnalysis.oovRate(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate"))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((3L, 1L, 0.3333)))
    assert(out(3L) == ((3L, 1L, 0.3333)))
  }

  test("oovRate vocab ties break on the token string, deterministically") {
    // b and c both occur twice; vocabSize=2 with head token a → vocab
    // {a, b} (tie b-vs-c broken lexicographically), so c is OOV.
    val df = docs(1L -> "a a a b c", 2L -> "b c")
    val out = TextAnalysis.oovRate(df, "doc_id", "text", vocabSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_oov"))
      .toMap
    assert(out(1L) == 1L && out(2L) == 1L)
  }

  test("gridDedup: same cell iff leading dims quantize together; min id kept") {
    import spark.implicits._
    val df = Seq(
      (10L, Seq(0.10f, 0.10f, 0.10f, 0.10f, 9.0f)),  // cell 0_0_0_0
      (7L,  Seq(0.20f, 0.05f, 0.24f, 0.01f, -9.0f)), // cell 0_0_0_0 (dim 5 ignored)
      (3L,  Seq(-0.10f, 0.10f, 0.10f, 0.10f, 0.0f))) // cell -1_0_0_0
      .toDF("vec_id", "embedding")
    val out = Similarity.gridDedup(df, "vec_id", "embedding",
      dims = 4, width = 0.25)
      .collect().map(r => r.getAs[String]("cell") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("keeper"))).toMap
    assert(out("0_0_0_0") == ((2L, 7L)))
    assert(out("-1_0_0_0") == ((1L, 3L)))
  }

  test("gridCell rejects a non-power-of-two width") {
    intercept[IllegalArgumentException] {
      Similarity.gridCell(col("embedding"), dims = 4, width = 0.1)
    }
  }

  test("round-4 ops degrade to empty output on empty input (no crash, no div-zero)") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noVecs = Seq.empty[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    val noSrc = noDocs.withColumn("source", lit("s"))
      .withColumn("n_chars", lit(0L)).filter(lit(false))
    assert(TextAnalysis.oovRate(noDocs, "doc_id", "text", 30).count() == 0)
    assert(TextAnalysis.tokenPmi(noDocs, "doc_id", "text", 20, 1L).count() == 0)
    assert(Similarity.gridDedup(noVecs, "vec_id", "embedding").count() == 0)
    assert(Similarity.labelSpread(noVecs, "vec_id", "embedding", "label").count() == 0)
    assert(graft.ops.Quantiles.valueStrata(noSrc, "n_chars", 10).count() == 0)
    assert(Dedup.incrementalDedup(noDocs, noDocs, "doc_id", "text").count() == 0)
    assert(graft.ops.Relevance.hybridSearch(noDocs, noVecs.drop("label"),
      "doc_id", "text", "vec_id", "embedding",
      terms = Seq("x"), queryVecId = 0L).count() == 0)
  }

  test("compactParquet: fragmented table → sized files, rows intact, stats-sorted") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val in = s"$dir/in"; val out = s"$dir/out"
    (1L to 2000L).map(i => (i, s"row $i")).toDF("id", "payload")
      .repartition(20).write.parquet(in)
    assert(graft.io.Maintenance.dataFiles(spark, in) == 20)
    val bytes = graft.io.Maintenance.dataBytes(spark, in)
    val compacted = graft.io.Maintenance.compactParquet(spark, in, out,
      targetFileBytes = bytes / 4, sortCols = Seq("id"))
    assert(compacted.count() == 2000L)
    // ceil(bytes / (bytes/4)) = 4-ish files (range partitioner may leave
    // a skew margin but never the original 20 fragments)
    val nOut = graft.io.Maintenance.dataFiles(spark, out)
    assert(nOut <= 6, s"expected ~4 compacted files, got $nOut")
    // sortCols makes parquet min/max selective: a point filter must prune
    // row groups — assert the data actually comes back ordered per file
    val perFile = spark.read.parquet(out)
      .select(col("id"), input_file_name().as("f"))
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect()
    val ranges = perFile.map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    // ranges are disjoint (range-partitioned), so min/max pruning works
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ => ()
    }
  }

  test("AdjacentPairs and TokenSetCount kernels == their HOF formulas") {
    import spark.implicits._
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val edge = Seq("", "solo", "a b", " a  b   c ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (df <- Seq(edge, corpus)) {
      val pairDiff = df.select(
        TextAnalysis.mergePairs(col("text")).as("k"),
        TextAnalysis.mergePairsHof(col("text")).as("h"))
        .filter(not(col("k") <=> col("h")))
      assert(pairDiff.count() == 0,
        s"pairs kernel != HOF on:\n${pairDiff.head(3).mkString("\n")}")
      val words = TextAnalysis.stopwords
      val stopDiff = df.select(
        bridgeCount(col("text"), words).as("k"),
        size(filter(TextAnalysis.tokensHof(col("text")),
          t => t.isin(words: _*))).cast("long").as("h"))
        .filter(col("k") =!= col("h"))
      assert(stopDiff.count() == 0)
    }
  }

  private def bridgeCount(text: org.apache.spark.sql.Column, words: Seq[String]) = {
    import org.apache.spark.sql.{graft => bridge}
    bridge.column(graft.functions.TokenSetCount(
      bridge.expression(TextAnalysis.tokens(text)), words))
  }

  test("zOrderParquet: per-file ranges narrow on BOTH dimensions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    val in = s"$dir/in"; val outA = s"$dir/a"; val outZ = s"$dir/z"
    // two independent uniform dimensions
    (0 until 20000).map(i => (i % 997, (i * 7919) % 997))
      .toDF("a", "b").repartition(8).write.parquet(in)
    val target = graft.io.Maintenance.dataBytes(spark, in) / 8
    graft.io.Maintenance.compactParquet(spark, in, outA, target, sortCols = Seq("a"))
    graft.io.Maintenance.zOrderParquet(spark, in, outZ, Seq("a", "b"), target)
    assert(spark.read.parquet(outZ).count() == 20000L)

    def avgFileRange(path: String, c: String): Double = {
      val r = spark.read.parquet(path)
        .select(col(c), input_file_name().as("f"))
        .groupBy("f").agg((max(col(c)) - min(col(c))).as("r"))
        .agg(avg(col("r"))).head().getDouble(0)
      r
    }
    // sorted-by-a layout: narrow on a but every file spans b's full range
    val sortedB = avgFileRange(outA, "b")
    assert(sortedB > 900.0, s"sort-by-a files should span b fully, got $sortedB")
    // z-order: BOTH dimensions substantially narrowed — the property that
    // makes parquet min/max pruning work for filters on either column
    val zA = avgFileRange(outZ, "a")
    val zB = avgFileRange(outZ, "b")
    assert(zA < 600.0, s"z-order a-range too wide: $zA")
    assert(zB < 600.0, s"z-order b-range too wide: $zB")
  }

  test("WsTokens kernel == filter(split) HOF formula, corpus + edges") {
    import spark.implicits._
    val edge = Seq("", " ", "  a", "a  ", "a b", "  a   b  c ", "solo",
      "tab\tkept", "aé b中")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (df <- Seq(edge, corpus)) {
      val diff = df.select(
        TextAnalysis.tokens(col("text")).as("k"),
        TextAnalysis.tokensHof(col("text")).as("h"))
        .filter(not(col("k") <=> col("h")))
      assert(diff.count() == 0, s"kernel != HOF on:\n${diff.head(3).mkString("\n")}")
    }
    // null text → null tokens on both paths
    val nulls = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
      .select(TextAnalysis.tokens(col("text")).as("k"),
        TextAnalysis.tokensHof(col("text")).as("h")).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("hybridSearch: dense score reorders the lexical shortlist") {
    import spark.implicits._
    // docs 1 and 2 both contain the query term once with equal length →
    // identical bm25; doc 2's embedding matches the query vector exactly,
    // doc 1's is orthogonal → blend must rank 2 first. doc 3 never enters
    // the shortlist (no term match) however perfect its embedding.
    val docs = Seq(
      (1L, "term filler filler"),
      (2L, "term filler filler"),
      (3L, "nothing relevant here")).toDF("doc_id", "text")
    val embeds = Seq(
      (0L, Seq(1.0f, 0.0f)), // query vector
      (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.ops.Relevance.hybridSearch(docs, embeds,
      "doc_id", "text", "vec_id", "embedding",
      terms = Seq("term"), queryVecId = 0L, shortlist = 10, topK = 10)
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 1L))
    val byId = out.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(2L).getAs[Double]("cos") == 1.0)
    assert(byId(1L).getAs[Double]("cos") == 0.0)
    // equal bm25 → normalized lexical component is 0.5 for both
    assert(byId(2L).getAs[Double]("blend") == 1.0)
    assert(byId(1L).getAs[Double]("blend") == 0.5)
  }

  test("contrastiveTriplets: negatives are real ids, never the anchor or positive") {
    val df = docs(
      0L -> "w1 w2 w3 w4 w5 w6",
      1L -> "w1 w2 w3 w4 w5 w6",  // near-dup of 0 → pair (0, 1)
      2L -> "a b c d e f",
      3L -> "a b c d e f",        // pair (2, 3)
      4L -> "completely different text here now")
    val out = Dedup.contrastiveTriplets(df, "doc_id", "text").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (a, p, n) = (r.getAs[Long]("anchor"),
        r.getAs[Long]("positive"), r.getAs[Long]("negative"))
      assert(n != a && n != p, s"negative $n collides in ($a, $p)")
      assert(n >= 0L && n <= 4L, s"negative $n is not a real doc id")
    }
    // determinism: same input → same triplets, any partitioning
    val again = Dedup.contrastiveTriplets(df.repartition(7), "doc_id", "text")
      .collect().map(_.toString).toSet
    assert(again == out.map(_.toString).toSet)
  }

  test("textrank: hub token of a star graph outranks the leaves") {
    // hub-leaf alternation ENDING on hub so every leaf carries the same
    // edge weight (a trailing leaf would miss its return edge): hub
    // co-occurs with every leaf, leaves only with hub → hub takes the
    // top rank, leaves tie and break alphabetically
    val df = docs(
      1L -> "hub x hub y hub z hub",
      2L -> "hub x hub y hub z hub")
    val out = graft.ops.TextRank.keywords(df, "text", topK = 10).collect()
    assert(out.head.getAs[String]("token") == "hub")
    val leaves = out.tail.map(_.getAs[String]("token")).toSeq
    assert(leaves == Seq("x", "y", "z"))
    val ranks = out.map(_.getAs[Double]("rank"))
    assert(ranks.head > ranks(1) && ranks(1) == ranks(2) && ranks(2) == ranks(3))
  }

  test("tokenPmi: counts and log2 formula on a known corpus") {
    // docs: {a,b} ×2, {c} → N=3, df(a)=2, df(b)=2, pair (a,b)=2.
    // PMI = log2(2·3 / (2·2)) = log2(1.5) = 0.585.
    val df = docs(1L -> "a b", 2L -> "b a a", 3L -> "c")
    val out = TextAnalysis.tokenPmi(df, "doc_id", "text",
      vocabSize = 10, minPairCount = 1L).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("w1") == "a" && r.getAs[String]("w2") == "b")
    assert(r.getAs[Long]("n_ab") == 2L)
    assert(r.getAs[Double]("pmi") == 0.585)
  }

  test("tokenPmi: co-occurrence is document-level distinct, not token count") {
    // repeated tokens inside one doc must not inflate n_ab
    val df = docs(1L -> "a a a b b", 2L -> "a b")
    val out = TextAnalysis.tokenPmi(df, "doc_id", "text",
      vocabSize = 10, minPairCount = 1L).collect()
    assert(out.head.getAs[Long]("n_ab") == 2L)
  }

  test("labelSpread: identical members → 1.0; orthogonal pair → cos to mean") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(1.0f, 0.0f), 1),  // label 1: (1,0) and (0,1)
      (4L, Seq(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelSpread(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("mean_cos"))).toMap
    assert(out(0) == ((2L, 1.0)))
    // centroid (0.5, 0.5), each member cos = 0.5/(1·√0.5) = 0.7071
    assert(out(1) == ((2L, 0.7071)))
  }

  test("incrementalDedup: corpus hits dropped, in-batch dups collapsed") {
    val batch = docs(10L -> "seen before", 11L -> "fresh", 12L -> "fresh",
      13L -> "also new")
    val corpus = docs(1L -> "seen before", 2L -> "other")
    val out = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id") ->
        r.getAs[Long]("batch_dups")).toMap
    assert(out == Map(11L -> 2L, 13L -> 1L))
  }

  test("incrementalNearDedup: two batches — near-dups of batch-1 survivors caught in batch 2") {
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val longANear = longA.replace("alpha15", "CHANGED") // genuine near-dup
    val freshT = (1 to 30).map(i => s"beta$i").mkString(" ")
    val corpus = docs(1L -> longA, 2L -> "totally unrelated corpus text")
    val stored0 = Dedup.minhashSignatures(corpus, "doc_id", "text")
    // batch 1: 10 = exact copy of corpus doc 1, 13 = NEAR copy of it,
    // 11 = fresh, 12 = in-batch copy of 11
    val b1 = docs(10L -> longA, 11L -> freshT, 12L -> freshT, 13L -> longANear)
    val out1 = Dedup.incrementalNearDedup(b1, stored0, "doc_id", "text")
    val st1 = out1.status.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Boolean]("dup_of_corpus"), r.getAs[Boolean]("dup_in_batch"),
        r.getAs[Boolean]("survives")))).toMap
    assert(st1(10L) == ((true, false, false)), s"exact corpus copy: ${st1(10L)}")
    assert(st1(11L) == ((false, false, true)))
    assert(st1(12L) == ((false, true, false)), "in-batch copy keeps min id")
    // the genuine near-dup's fate must equal the brute-force signature
    // comparison (no banding) — the exhaustiveness claim, differentially
    val sigOf = Dedup.minhashSignatures(
        docs(1L -> longA, 13L -> longANear), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](1)).toMap
    val nEq = sigOf(1L).zip(sigOf(13L)).count { case (x, y) => x == y }
    assert(st1(13L)._1 == (nEq >= 6),
      s"banded probe disagrees with brute force: eq=$nEq, got ${st1(13L)}")
    // batch 2: 20 = copy of batch-1 SURVIVOR 11 — must be caught via the
    // UPDATED signature table; 21 = fresh
    val b2 = docs(20L -> freshT,
      21L -> (1 to 30).map(i => s"gamma$i").mkString(" "))
    val out2 = Dedup.incrementalNearDedup(b2, out1.signatures,
      "doc_id", "text")
    val st2 = out2.status.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Boolean]("survives")).toMap
    assert(st2 == Map(20L -> false, 21L -> true),
      s"batch-2 near-dup of a batch-1 survivor must be caught: $st2")
    // dropped batch-1 docs never entered the signature table
    val sigIds = out2.signatures.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(sigIds == Set(1L, 2L, 11L, 21L) ++ (if (nEq >= 6) Set.empty[Long] else Set(13L)))
  }

  test("valueStrata: tie groups never split across buckets") {
    import spark.implicits._
    val df = Seq(1L, 1L, 1L, 2L).toDF("v")
    val out = graft.ops.Quantiles.valueStrata(df, "v", buckets = 2)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("min_val"),
          r.getAs[Long]("max_val"))).toMap
    // all three 1s stay in bucket 0 (cum_before=0); the 2 starts at rank 3
    // of 4 → bucket (2·3) div 4 = 1
    assert(out == Map(0L -> ((3L, 1L, 1L)), 1L -> ((1L, 2L, 2L))))
  }

  test("rrfFusion: docs in one shortlist only get a single rrf term and a null rank") {
    import spark.implicits._
    // doc 2 has no embedding (lexical-only); doc 3 has no query term
    // (dense-only); doc 1 appears in both shortlists and must win.
    val docs = Seq((1L, "alpha beta"), (2L, "alpha"), (3L, "zzz"))
      .toDF("doc_id", "text")
    val embeds = Seq(
      (0L, Array(1.0f, 0.0f)), // query vector
      (1L, Array(0.5f, 0.5f)),
      (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Relevance.rrfFusion(docs, embeds, "doc_id", "text",
        "vec_id", "embedding", terms = Seq("alpha"), queryVecId = 0L,
        shortlist = 10, topK = 10, rrfK = 60)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // lex ranks: doc 2 (shorter doc, higher bm25) = 1, doc 1 = 2
    // dense ranks: doc 3 (cos 1.0) = 1, doc 1 (cos ~0.707) = 2
    assert(out(1L)._2.contains(2L) && out(1L)._3.contains(2L))
    assert(out(2L)._2.contains(1L) && out(2L)._3.isEmpty)
    assert(out(3L)._2.isEmpty && out(3L)._3.contains(1L))
    val eps = 1e-9
    assert(math.abs(out(1L)._1 - math.rint(2.0 / 62.0 * 1e6) / 1e6) < eps)
    assert(math.abs(out(2L)._1 - math.rint(1.0 / 61.0 * 1e6) / 1e6) < eps)
    assert(out(1L)._1 > out(2L)._1 && out(1L)._1 > out(3L)._1)
  }

  test("spanDedup: hot span pasted into thousands of docs — first occurrence survives, rest scrubbed") {
    import spark.implicits._
    // One viral boilerplate span shared by every doc — the window-based
    // first-occurrence pass used to drag all its occurrences to one task;
    // the mergeable groupBy must give the same answer.
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val df = (0 until 2000).map(i => (i.toLong, s"u$i x$i " + boiler))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", spanLen = 8).cache()
    try {
      // doc 0 owns the first occurrence (min (doc_id, pos)) and keeps it
      val first = out.filter($"doc_id" === 0).head
      assert(first.getAs[Long]("n_removed") == 0L)
      assert(first.getAs[String]("clean_text") == "u0 x0 " + boiler)
      // every other doc loses exactly the 8 boilerplate token positions
      val mm = out.filter($"doc_id" =!= 0)
        .agg(min("n_removed"), max("n_removed"), count(lit(1))).head
      assert(mm.getLong(0) == 8L && mm.getLong(1) == 8L && mm.getLong(2) == 1999L)
      assert(out.filter($"doc_id" === 5).head
        .getAs[String]("clean_text") == "u5 x5")
    } finally out.unpersist()
  }

  test("spanDedup: overlapping duplicate spans union their intervals; short docs pass through") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),   // owns first occurrences
      (2L, "z a b c d e f"), // spans (a..e) and (b..f) overlap: covers 1..6
      (3L, "tiny")           // shorter than spanLen: untouched
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", spanLen = 5)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_removed") == 0L)
    assert(out(1).getAs[Long]("n_removed") == 6L)
    assert(out(1).getAs[String]("clean_text") == "z")
    assert(out(2).getAs[Long]("n_removed") == 0L)
    assert(out(2).getAs[String]("clean_text") == "tiny")
  }

  test("maximalDupSpans: overlapping hits merge into maximal intervals; separated runs stay separate") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"), // owns everything
      // copies tokens a..l (12 tokens) at positions 1..12, plus a second
      // separated copy of o p q r s t? (6 < spanLen → not a dup span);
      // expect ONE maximal interval of 12 from the five overlapping
      // 8-token hits
      (2L, "z a b c d e f g h i j k l y1 y2 y3 y4 y5 y6 y7"),
      // two runs of 8 separated by unique tokens → two intervals
      (3L, "a b c d e f g h u1 u2 m n o p q r s t")
    ).toDF("doc_id", "text")
    val out = graft.ops.Dedup.maximalDupSpans(df, "doc_id", "text", spanLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (2L, 1L, 12L, 12L),
      (3L, 0L, 7L, 8L),
      (3L, 10L, 17L, 8L)))
  }

  test("valueStrata: equal-count deciles on distinct values") {
    import spark.implicits._
    val df = (1L to 100L).toDF("v")
    val out = graft.ops.Quantiles.valueStrata(df, "v", buckets = 10)
      .orderBy("bucket").collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("n_rows") == 10L))
    assert(out.head.getAs[Long]("min_val") == 1L)
    assert(out.last.getAs[Long]("max_val") == 100L)
  }

  test("QualityClf.score == the join-free expression spelling; <2-token docs unscored") {
    import graft.ops.{Dsir, QualityClf}
    val m = 64
    val df = docs(1L -> "a b a b", 2L -> "x", 3L -> "p q r", 4L -> "")
    val got = QualityClf.score(df, "doc_id", "text",
      QualityClf.hashWeights(spark, m), m)
    // ref: weight computed inline from the bucket id — no model table,
    // so a broken join/broadcast in score() can't hide
    val ref = df.select(col("doc_id"),
        explode(TextAnalysis.mergePairs(col("text"))).as("pair"))
      .withColumn("b", Dsir.featureBucket(col("pair"), m))
      .withColumn("w",
        conv(substring(md5(concat(lit("w:"), col("b").cast("string"))), 1, 8),
          16, 10).cast("long") % 201 - 100)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_feats"), sum("w").as("score"))
      .withColumn("label", when(col("score") > 0L, "keep").otherwise("drop"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty)
    val out = got.orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L),
      "docs with <2 tokens carry no bigram evidence and are not scored")
    assert(out(0).getAs[Long]("n_feats") == 3L) // "a b","b a","a b" — bag, with multiplicity
    // the margin is an exact integer: label flips exactly at 0
    out.foreach { r =>
      assert((r.getAs[Long]("score") > 0L) == (r.getAs[String]("label") == "keep"))
    }
  }

  test("exactRankSelect == row_number rank pick on a composite order") {
    import spark.implicits._
    // group sizes 1, 2, and 197 with heavy value ties (v = i % 7) so the
    // doc-id tie-break does real work; parts=16 forces cross-partition runs
    val df = ((1 to 197).map(i => ("big", (i % 7).toDouble, i.toLong)) ++
      Seq(("one", 0.0, 900L), ("two", 1.0, 901L), ("two", 1.0, 902L)))
      .toDF("g", "v", "id")
    val got = graft.ops.Quantiles.exactRankSelect(df.repartition(5),
      Seq("g"), Seq("v", "id"),
      n => Seq(("r1", n / 3), ("r2", 2 * n / 3), ("last", n),
        ("over", n + 1)), // out-of-range rank must be skipped, not thrown
      partitions = 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("v"), col("id"))
    val ranked = df.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("g")))
    val ref = Seq("r1" -> ((rn: Column, n: Column) => rn === floor(n / 3)),
      "r2" -> ((rn: Column, n: Column) => rn === floor(n * 2 / 3)),
      "last" -> ((rn: Column, n: Column) => rn === n))
      .map { case (name, pred) =>
        ranked.filter(pred(col("rn"), col("cnt")) && col("rn") >= 1)
          .select(col("g"), lit(name).as("rank_name"), col("v"), col("id"))
      }.reduce(_.unionAll(_))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      s"got:\n${got.orderBy("g", "rank_name").collect().mkString("\n")}\n" +
        s"ref:\n${ref.orderBy("g", "rank_name").collect().mkString("\n")}")
  }

  test("ccnet_bucket: cut-point + map-side classify == row_number tercile spelling") {
    // the registry form (exactRankSelect cut points, broadcast classify)
    // must be BIT-IDENTICAL to the round-11 per-lang row_number window
    // rule it replaced — rebuilt here verbatim over the same bigram-LM
    // cross-entropy — at the driver's sf0.001 fixture
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("ccnet_bucket")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
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
    val ce = pairs.join(broadcast(prob), "pair")
      .groupBy("doc_id")
      .agg(round(-avg(log2(col("prob"))), 4).as("cross_entropy"))
      .join(docs.select("doc_id", "lang"), "doc_id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("cross_entropy"), col("doc_id"))
    val ref = ce.withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      .withColumn("bucket",
        when(col("rn") * 3 <= col("cnt"), "head")
          .when(col("rn") * 3 <= col("cnt") * 2, "middle")
          .otherwise("tail"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("cross_entropy").as("min_ce"),
        max("cross_entropy").as("max_ce"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      s"registry form diverges from the window spelling:\n" +
        s"got:\n${got.collect().mkString("\n")}\n" +
        s"ref:\n${ref.orderBy("lang", "bucket").collect().mkString("\n")}")
  }
}
