package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Fuzzy, Graph}

/** Semantic corners of the deletion-neighborhood edit join and the
  * integer-mass PageRank — the sf0.01 DuckDB oracle (tools/check.py)
  * is the integration gate.
  */
class GraphFuzzySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  // --- Fuzzy.editJoin1 ----------------------------------------------------

  private def words(ws: String*) = {
    import spark.implicits._
    ws.toDF("w")
  }

  private def pairs(ws: String*): Set[(String, String)] =
    Fuzzy.editJoin1(words(ws: _*), "w").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

  test("editJoin1 finds substitution, insertion, and deletion pairs") {
    // cat~cut (substitute), cat~cart (insert), cart~art (delete... wait
    // lev(cart, art)=1 via leading-char delete), unrelated dog pairs with
    // nothing
    assert(pairs("cat", "cut", "cart", "art", "dog") ==
      Set(("cat", "cut"), ("cart", "cat"), ("art", "cart")))
  }

  test("editJoin1 excludes distance-2 pairs that share a deletion variant") {
    // "abc" and "adc" share variant "ac" only via DIFFERENT positions?
    // they share delete-at-2 = "ac": distance 1 (substitution) — keep.
    // "abx" vs "ayb": share nothing at distance <= 1 — must be absent.
    assert(pairs("abc", "adc") == Set(("abc", "adc")))
    // bd <- abd (delete a), bd <- bcd (delete c): abd~bcd is distance 2
    // but both share variant "bd" — the levenshtein re-check drops it
    assert(pairs("abd", "bcd") == Set.empty)
  }

  test("editJoin1 is exact vs brute force on a random-ish vocab") {
    val vocab = Seq("alpha", "alphb", "alpa", "aalpha", "beta", "betta",
      "bet", "gamma", "gamm", "gama", "delta", "dleta", "epsilon")
    val got = pairs(vocab: _*)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    assert(got == want)
  }

  test("editJoin maxDist=2 is exact vs brute force") {
    val vocab = Seq("alpha", "alphb", "alpa", "aalpha", "beta", "betta",
      "bet", "gamma", "gamm", "gama", "delta", "dleta", "epsilon", "xyz")
    import spark.implicits._
    val got = graft.ops.Fuzzy.editJoin(vocab.toDF("w"), "w", maxDist = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- vocab; b <- vocab if a < b && lev(a, b) <= 2
    } yield (a, b, lev(a, b).toLong)).toSet
    assert(got == want)
    assert(want.exists(_._3 == 2L), "fixture must exercise distance 2")
  }

  test("editJoin1 drops nulls and strings below minLen") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("b"), None, Some("ab")).toDF("w")
    // "a"~"b" would pair through the empty variant if 1-char strings
    // were admitted; minLen=2 leaves only "ab" → no pairs at all
    assert(Fuzzy.editJoin1(df, "w").count() == 0L)
  }

  // --- DataTests.kAnonymity / Sharding.shardShuffle -----------------------

  test("kAnonymity reports only combinations below k") {
    import spark.implicits._
    val df = (Seq.fill(5)(("US", "A")) ++ Seq.fill(2)(("US", "B")) ++
      Seq.fill(1)(("FR", "A"))).toDF("country", "seg")
    val out = graft.ops.DataTests.kAnonymity(df, Seq("country", "seg"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("US", "B", 2L), ("FR", "A", 1L)))
    assert(graft.ops.DataTests.kAnonymity(df, Seq("country", "seg"), 2L)
      .count() == 1L) // only the singleton violates k=2
  }

  test("lDiversity flags homogeneous classes k-anonymity passes") {
    import spark.implicits._
    // class (US, A): 5 rows but ONE sensitive value — k-anonymous at
    // k=3, yet a homogeneity attack reads the value off any member
    val df = (Seq.fill(5)(("US", "A", "hiv")) ++
      Seq(("US", "B", "flu"), ("US", "B", "none"), ("US", "B", "hiv")))
      .toDF("country", "seg", "dx")
    assert(graft.ops.DataTests.kAnonymity(df, Seq("country", "seg"), 3L)
      .count() == 0L, "both classes have >= 3 rows")
    val out = graft.ops.DataTests.lDiversity(df, Seq("country", "seg"), "dx", 2L)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("US", "A", 5L, 1L)),
      "only the single-valued class violates l=2")
  }

  test("globalRank == single-partition row_number on a permuted total order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // values with heavy ties; (v, id) is the total order
    val rows = (1L to 2000L).map(i => ((i * 7919) % 97, i))
    val df = rows.toDF("v", "id").repartition(13)
    val got = graft.ops.Ranking.globalRank(df, "v", "id", partitions = 8)
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Long]("id")) ->
        r.getAs[Long]("rank")).toMap
    val want = rows.sortBy(identity).zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    val bad = want.collect { case (k, r) if got(k) != r => (k, got(k), r) }
    assert(bad.isEmpty, s"${bad.size} wrong ranks, first: ${bad.take(3)}")
    // ranks are a pure function of the data: neither the bucket count
    // nor the physical input layout may change them (the property the
    // per-job repartitionByRange boundary re-draw violated)
    val other = graft.ops.Ranking.globalRank(
      df.repartition(3), "v", "id", partitions = 3)
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Long]("id")) ->
        r.getAs[Long]("rank")).toMap
    assert(other == got, "rank must be invariant to partitioning choices")
  }

  test("benfordAudit: exact digit extraction, shares sum to 1, sub-unit rows excluded") {
    import spark.implicits._
    // 1..9 once each (uniform digits) + magnitude variety + a 0.5 row
    // that must be excluded (no first significant digit path for <1)
    val vals = (1 to 9).map(_.toDouble) ++ Seq(1234.56, 20.0, 0.5)
    val out = graft.ops.DataTests.benfordAudit(vals.toDF("v"), "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out.keySet == (1 to 9).map(_.toString).toSet)
    assert(out("1")._1 == 2L, "1 and 1234.56 only: 0.5 excluded")
    assert(out("2")._1 == 2L && out("9")._1 == 1L)
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-12,
      "shares must sum to 1")
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-7,
      "Benford probabilities sum to 1")
    assert(out("1")._3 > out("9")._3, "log10(2) > log10(10/9)")
  }

  test("fsSelfLinkage: planted duplicate outscores every random pair; blocking isolates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.ops.Linkage, graft.ops.Linkage.FsField
    // 40 distinct people + ONE planted duplicate of id 1 (same name,
    // same city, same phone) — all in two blocks by region
    val people = ((1L to 40L).map(i =>
      (i, i % 2, s"name$i", s"city${i % 7}", s"555-00$i")) :+
      ((99L, 1L % 2, "name1", "city1", "555-001")))
      .toDF("id", "region", "nm", "city", "phone")
    val pairs = Linkage.fsSelfLinkage(people, "id", Seq("region"),
      Seq(FsField("nm", col("nm"), 0.9), FsField("city", col("city"), 0.9),
        FsField("phone", col("phone"), 0.95))).cache()
    // pairs never cross blocks
    val n = people.count()
    assert(pairs.count() < n * (n - 1) / 2, "blocking must prune pairs")
    val scored = pairs.collect().map(r => ((r.getAs[Long]("a_key"),
      r.getAs[Long]("b_key")), r.getAs[Long]("score_micro"))).toMap
    val planted = scored((1L, 99L))
    val others = (scored - ((1L, 99L))).values
    assert(planted > others.max,
      s"the planted duplicate ($planted) must outscore all ${others.size} " +
        s"random pairs (max ${others.max})")
    assert(planted > 0 && others.max < 0,
      "agreement weights positive, random pairs net-negative")
  }

  test("fs entity resolution: planted triple resolves to ONE entity via components") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.ops.{Dedup, Linkage}, graft.ops.Linkage.FsField
    // 30 distinct people + a planted entity recorded THREE times
    // (ids 1, 90, 91 share name+city+phone); chained pairs (1,90),
    // (1,91), (90,91) must collapse to one canonical entity = 1
    val people = ((1L to 30L).map(i =>
      (i, i % 2, s"name$i", s"city${i % 7}", s"555-00$i")) ++
      Seq((90L, 1L, "name1", "city1", "555-001"),
        (91L, 1L, "name1", "city1", "555-001")))
      .toDF("id", "region", "nm", "city", "phone")
    val pairs = Linkage.fsSelfLinkage(people, "id", Seq("region"),
      Seq(FsField("nm", col("nm"), 0.9), FsField("city", col("city"), 0.9),
        FsField("phone", col("phone"), 0.95)))
      .filter(col("score_micro") > 0)
    val ents = Dedup.components(pairs, "a_key", "b_key")
      .groupBy("comp").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ents == Map(1L -> 3L),
      s"expected one 3-member entity rooted at id 1, got $ents")
  }

  test("rankBlocks: blocked-pair count grows LINEARLY with n (occupancy-bounded)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the scale contract behind fs_linkage's round-10 fix: bucket count
    // is ceil(n/occ), so pairs <= ceil(n/32)*C(32,2) — 10x rows must
    // give ~10x pairs (the round-9 fixed-B value-bucket key gave ~100x)
    def pairs(n: Int): Long = {
      val df = (1 to n).map(i => ((i * 2654435761L) % 100000, i.toLong))
        .toDF("v", "id")
      val b = graft.ops.Linkage.rankBlocks(df, "v", "id", occupancy = 32)
      b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id")).count()
    }
    val p1 = pairs(2000)
    val p10 = pairs(20000)
    assert(p1 <= 2000L / 32 * 496 + 496, s"pair bound violated: $p1")
    val ratio = p10.toDouble / p1
    assert(ratio > 9.0 && ratio < 11.0,
      s"pairs must scale ~linearly: $p1 -> $p10 (ratio $ratio)")
  }

  test("driftCheck: each rule's pass boundary against a stored stats row") {
    import spark.implicits._
    import graft.ops.Expectations._
    val rules = Seq(RowCountWithin(0.5), FreshnessAdvances("ts"),
      NullRateWithin("v", 0.05), MeanWithin("v", 0.1))
    val prior = Seq[(java.lang.Long, String)](
      (10L, "2024-01-05"), (20L, "2024-01-06"), (null, "2024-01-07"))
      .toDF("v", "ts")
    // current: 3 -> 4 rows (33% < 50% tolerance — passes), max ts
    // REGRESSES (freshness fails), null rate 1/3 -> 1/4 (delta 0.083
    // fails at 0.05), mean 30/3 -> 40/4 (zero drift — passes; nulls
    // contribute 0 to the sum and stay in the denominator)
    val cur = Seq[(java.lang.Long, String)](
      (10L, "2024-01-04"), (20L, "2024-01-05"), (10L, "2024-01-06"),
      (null, "2024-01-01"))
      .toDF("v", "ts")
    val stats = snapshotStats(prior, rules)
    val out = driftCheck(cur, stats, rules)
      .collect().map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(out("row_count_drift"), "33% row growth is within 0.5")
    assert(!out("freshness"), "max ts regressed")
    assert(!out("null_rate_drift"), "null rate moved 1/3 -> 1/4")
    assert(out("mean_drift"), "mean 10 -> 10, zero drift")
    // the stats row round-trips through storage: persisting and reading
    // it back yields the identical verdicts (the 100 TB posture —
    // snapshots are never kept, their 1-row stats are)
    val roundTrip = stats.collect().head
    assert(stats.columns.length == roundTrip.length)
  }

  test("Expectations: every rule's null discipline, one row per rule") {
    import spark.implicits._
    import graft.ops.Expectations._
    val df = Seq[(java.lang.Long, String, java.lang.Double)](
      (1L, "F", 10.0), (2L, "O", 20.0), (2L, "X", -5.0),
      (null, null, null), (null, "F", 999.0))
      .toDF("k", "status", "price")
    val out = check(df, Seq(
      NotNull("k"), AcceptedValues("status", Seq("F", "O")),
      InRange("price", 0.0, 100.0), MatchesRegex("status", "^[FO]$"),
      Unique("k")))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out("not_null") == 2L, "two null keys")
    assert(out("accepted_values") == 2L, "one 'X' + one null status")
    assert(out("in_range") == 3L, "-5, 999 and the null price all violate")
    assert(out("matches_regex") == 2L, "'X' and null fail the regex")
    // keys: 1, 2, 2, null, null -> distinct {1, 2, null-group} = 3; 5-3 = 2
    assert(out("unique") == 2L,
      "dup 2 and the second null each add one violation")
    // all-clean suite passes every rule
    val clean = check(Seq((1L, "F"), (2L, "O")).toDF("k", "status"),
      Seq(NotNull("k"), Unique("k"), AcceptedValues("status", Seq("F", "O"))))
    assert(clean.filter(!org.apache.spark.sql.functions.col("pass"))
      .count() == 0L)
  }

  // --- Layout: Morton z-order + min/max data skipping ---------------------

  test("zValue equals bit-by-bit Morton interleave over the full 16-bit grid corners") {
    import spark.implicits._
    def morton(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | ((x >> i & 1L) << (2 * i)) | ((y >> i & 1L) << (2 * i + 1))
      }
    val pts = (for {
      x <- Seq(0L, 1L, 2L, 3L, 7L, 255L, 256L, 32767L, 65535L)
      y <- Seq(0L, 1L, 2L, 5L, 100L, 254L, 65535L)
    } yield (x, y)).toDF("x", "y")
    val bad = pts.select(org.apache.spark.sql.functions.col("x"),
        org.apache.spark.sql.functions.col("y"),
        graft.ops.Layout.zValue(
          org.apache.spark.sql.functions.col("x"),
          org.apache.spark.sql.functions.col("y")).as("z"))
      .collect().filter(r => r.getAs[Long]("z") !=
        morton(r.getAs[Long]("x"), r.getAs[Long]("y")))
    assert(bad.isEmpty, s"mask-spread chain diverged: ${bad.take(3).toSeq}")
  }

  test("skippingStats: matches appear ONLY in scanned files; z-order beats linear clustering") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // deterministic uniform 256x256 grid, one point per cell
    val pts = (0L until 65536L).map(i => (i % 256L, i / 256L)).toDF("x", "y")
    val (x0, x1, y0, y1) = (64L, 95L, 100L, 149L)
    def audit(fileCol: org.apache.spark.sql.Column) =
      graft.ops.Layout.skippingStats(pts, fileCol, col("x"), col("y"),
        x0, x1, y0, y1)
    val z = audit(graft.ops.Layout.zFile(col("x"), col("y"), 8, 4)).cache()
    val lin = audit(col("x")).cache()
    // min/max pruning is CORRECT: no matching row hides in a skipped file
    for (s <- Seq(z, lin))
      assert(s.filter(col("n_match") > 0 && !col("scanned")).count() == 0L,
        "a matching row in a skipped file breaks pruning correctness")
    def scanned(s: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = graft.ops.Layout.skippingSummary(s, "t").head()
      (r.getAs[Long]("files_scanned"), r.getAs[Long]("rows_scanned"))
    }
    val (zf, zr) = scanned(z)
    val (lf, lr) = scanned(lin)
    // exact on the uniform grid: box covers x-cells 4..5, y-cells 6..9
    assert((zf, zr) == (8L, 8L * 16 * 16), s"z grid scan was ($zf, $zr)")
    assert((lf, lr) == (32L, 32L * 256), s"linear scan was ($lf, $lr)")
    assert(zr < lr, "z-order must scan fewer rows for a 2-D box")
    val match0 = z.agg(sum("n_match")).head().getLong(0)
    assert(match0 == 32L * 50 &&
      lin.agg(sum("n_match")).head().getLong(0) == match0,
      "rows_matching is layout-invariant")
  }

  test("shardShuffle: every row exactly once, pos dense per shard, deterministic") {
    import spark.implicits._
    val df = (1L to 500L).toDF("id")
    val out = graft.ops.Sharding.shardShuffle(df, "id", nShards = 8).collect()
    assert(out.length == 500)
    assert(out.map(_.getLong(0)).toSet == (1L to 500L).toSet)
    val byShard = out.groupBy(_.getLong(1))
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    byShard.values.foreach { rows =>
      val ps = rows.map(_.getLong(2)).sorted
      assert(ps.toSeq == (1L to rows.length).toSeq, "pos must be dense 1..n")
    }
    val again = graft.ops.Sharding.shardShuffle(
      df.repartition(13), "id", nShards = 8).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "layout must not depend on input partitioning")
  }

  // --- Graph.pageRank -----------------------------------------------------

  test("pageRank conserves order on a star graph: hub outranks leaves") {
    import spark.implicits._
    val edges = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 10L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 3, topK = 10)
      .collect()
    assert(out.length == 5)
    assert(out.head.getAs[Long]("node") == 10L) // the hub wins
    assert(out.head.getAs[Long]("deg") == 4L)
    val leafRanks = out.tail.map(_.getAs[Long]("rank")).toSet
    assert(leafRanks.size == 1, "symmetric leaves must tie exactly")
  }

  test("pageRank is deterministic: two runs, identical ranks") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 1L), (2L, 5L)).toDF("src", "dst")
    def run() = Graph.pageRank(edges, "src", "dst", iters = 4, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run() == run())
  }

  test("pageRank on a symmetric cycle gives every node the same rank") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iters = 3, topK = 10)
      .collect().map(_.getAs[Long]("rank")).toSet
    assert(ranks.size == 1)
    // closed regular graph: each round every node keeps
    // base + floor(floor(init/2)·2·85/100); after any rounds all equal
  }
}
