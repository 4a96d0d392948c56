package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, KeyDiff, VennDiff}

/** ScalaCheck properties from the SURVEY §5 test plan — the algebraic
  * invariants of the diff operators over generated data. Generators are
  * driven with fixed seeds (no scalatest-scalacheck bridge in the offline
  * dependency set), so runs are deterministic.
  *
  * Properties:
  *   - diff(f, f) is all-unchanged;
  *   - added/removed swap under argument flip, changed/unchanged symmetric;
  *   - venn multiset identities |old| = removed + common,
  *     |new| = added + common, and the row-level ops agree with counted;
  *   - minhash signatures: equal shingle sets ⇒ equal signatures;
  *     disjoint shingle sets ⇒ different signatures.
  */
class PropertySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default.withSize(30), Seed(seed))
      .getOrElse(sys.error("generator failed"))

  private val rowGen: Gen[(Long, String, Option[Int])] = for {
    id <- Gen.chooseNum(0L, 40L) // small domain → guaranteed overlaps
    s <- Gen.oneOf("x", "y", "z")
    v <- Gen.option(Gen.chooseNum(0, 5))
  } yield (id, s, v)

  private val tableGen: Gen[List[(Long, String, Option[Int])]] =
    Gen.listOf(rowGen).map(_.distinctBy(_._1)) // unique keys for keyDiff

  private def toDf(rows: List[(Long, String, Option[Int])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "s", "v")
  }

  test("property: diff(f, f) is all-unchanged") {
    for (seed <- 1L to 5L) {
      val rows = sample(tableGen, seed)
      val df = toDf(rows)
      val d = KeyDiff.diff(df, df, Seq("id"))
      assert(d.filter(col(KeyDiff.StatusCol) =!= "unchanged").isEmpty,
        s"seed=$seed")
      assert(d.count() == rows.size, s"seed=$seed")
    }
  }

  test("property: added/removed swap under argument flip; changed symmetric") {
    for (seed <- 1L to 5L) {
      val a = sample(tableGen, seed)
      val b = sample(tableGen, seed + 100)
      val (da, db) = (toDf(a), toDf(b))
      def counts(d: DataFrame) = KeyDiff.summary(d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
      val fwd = counts(KeyDiff.diff(da, db, Seq("id")))
      val rev = counts(KeyDiff.diff(db, da, Seq("id")))
      assert(fwd("added") == rev("removed"), s"seed=$seed")
      assert(fwd("removed") == rev("added"), s"seed=$seed")
      assert(fwd("changed") == rev("changed"), s"seed=$seed")
      assert(fwd("unchanged") == rev("unchanged"), s"seed=$seed")
    }
  }

  test("property: venn multiset identities") {
    for (seed <- 1L to 5L) {
      val a = sample(Gen.listOf(rowGen), seed)
      val b = sample(Gen.listOf(rowGen), seed + 100)
      val (da, db) = (toDf(a), toDf(b))
      val c = VennDiff.counted(da, db)
        .agg(sum("removed"), sum("added"), sum("common")).collect().head
      def n(i: Int) = if (c.isNullAt(i)) 0L else c.getLong(i)
      assert(n(0) + n(2) == a.size, s"seed=$seed |old| = removed + common")
      assert(n(1) + n(2) == b.size, s"seed=$seed |new| = added + common")
      assert(VennDiff.removed(da, db).count() == n(0), s"seed=$seed")
      assert(VennDiff.intersection(da, db).count() == n(2), s"seed=$seed")
    }
  }

  test("property: patch(diff(old, new)) reconstructs new; backward gives old") {
    for (seed <- 1L to 5L) {
      val a = sample(tableGen, seed)
      val b = sample(tableGen, seed + 100)
      val (da, db) = (toDf(a), toDf(b))
      val d = KeyDiff.diff(da, db, Seq("id"))
      val fwd = KeyDiff.patch(d)
      val bwd = KeyDiff.patch(d, forward = false)
      assert(fwd.exceptAll(db).isEmpty && db.exceptAll(fwd).isEmpty,
        s"seed=$seed forward patch must equal new")
      assert(bwd.exceptAll(da).isEmpty && da.exceptAll(bwd).isEmpty,
        s"seed=$seed backward patch must equal old")
    }
  }

  test("edge: diff against empty is all added / all removed; venn degenerates") {
    val rows = sample(tableGen, 7L)
    val df = toDf(rows)
    val empty = toDf(Nil)
    val allAdded = KeyDiff.diff(empty, df, Seq("id"))
    assert(allAdded.filter(col(KeyDiff.StatusCol) =!= "added").isEmpty)
    assert(allAdded.count() == rows.size)
    val allRemoved = KeyDiff.diff(df, empty, Seq("id"))
    assert(allRemoved.filter(col(KeyDiff.StatusCol) =!= "removed").isEmpty)
    assert(VennDiff.intersection(df, empty).isEmpty)
    assert(VennDiff.removed(df, empty).count() == rows.size)
    assert(KeyDiff.diff(empty, empty, Seq("id")).isEmpty)
  }

  test("edge: native-typed keys (stringKeys=false) use SQL null semantics") {
    import graft.core.DiffConfig
    import spark.implicits._
    val a = Seq((Some(1L), "x"), (None, "y")).toDF("id", "v")
    val b = Seq((Some(1L), "x"), (None, "y")).toDF("id", "v")
    // compat mode: null keys match → both rows unchanged
    val compat = KeyDiff.diff(a, b, Seq("id"))
    assert(compat.filter(col(KeyDiff.StatusCol) =!= "unchanged").count() == 0)
    // native mode: NULL = NULL is not true → null-keyed rows never match,
    // surfacing as one added + one removed
    val native = KeyDiff.diff(a, b, Seq("id"), DiffConfig(stringKeys = false))
    val byStatus = native.groupBy(KeyDiff.StatusCol).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("unchanged", 0L) == 1L)
    assert(byStatus.getOrElse("added", 0L) == 1L)
    assert(byStatus.getOrElse("removed", 0L) == 1L)
  }

  test("property: minhash signature equality tracks shingle-set equality") {
    val docGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d", "e"))
      .map(_.mkString(" "))
    for (seed <- 1L to 5L) {
      import spark.implicits._
      val t1 = sample(docGen, seed)
      val t2 = sample(docGen, seed + 100)
      // equal sets ⇒ equal signatures (self + independently generated pair)
      val df = Seq((1L, t1), (2L, t1), (3L, t2)).toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatures(df, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.getSeq[String](1))
      assert(sigs(0) == sigs(1), s"seed=$seed identical docs must agree")
      // disjoint vocab ⇒ different signatures (md5 of different strings)
      val disjoint = Seq((1L, t1), (2L, t1.replaceAll("[abcde]", "z")))
        .toDF("doc_id", "text")
      val ds = Dedup.minhashSignatures(disjoint, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.getSeq[String](1))
      assert(ds(0) != ds(1), s"seed=$seed disjoint docs must differ")
    }
  }

  test("property: components is idempotent and partition-invariant") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 3L), (9L, 10L), (10L, 6L))
      .toDF("a_id", "b_id")
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      Dedup.components(df, "a_id", "b_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val labels = labelMap(pairs)
    // idempotence: feeding (id, comp) pairs back yields the same labels
    val again = labelMap(
      labels.toSeq.filter { case (id, c) => id != c }.toDF("a_id", "b_id"))
    assert(again.forall { case (id, c) => labels(id) == c || id == c })
    // partition invariance: same labels from any input layout
    assert(labelMap(pairs.repartition(7)) == labels)
    // ground truth for this graph
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 1L,
      5L -> 5L, 6L -> 5L, 9L -> 5L, 10L -> 5L))
  }

  test("property: simhash64 pairs are invariant under input repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      Dedup.simhash64Pairs(df, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val base = pairSet(docs)
    assert(pairSet(docs.repartition(13)) == base)
    assert(pairSet(docs.coalesce(1)) == base)
  }

  test("property: round-4 ops are invariant under input repartitioning") {
    import graft.ops.{Quantiles, Similarity, TextAnalysis}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val embeds = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet

    // oovRate: the vocab head has a deterministic tie-break, so rates
    // cannot depend on layout
    val oov = rows(TextAnalysis.oovRate(docs, "doc_id", "text", 30))
    assert(rows(TextAnalysis.oovRate(docs.repartition(11), "doc_id", "text", 30)) == oov)
    // tokenPmi: counts are layout-free and log2 consumes exact integers
    val pmi = rows(TextAnalysis.tokenPmi(docs, "doc_id", "text", 20, 5L))
    assert(rows(TextAnalysis.tokenPmi(docs.repartition(11), "doc_id", "text", 20, 5L)) == pmi)
    // gridDedup: cell id is a pure projection; min-id keeper is order-free
    val grid = rows(Similarity.gridDedup(embeds, "vec_id", "embedding"))
    assert(rows(Similarity.gridDedup(embeds.repartition(11), "vec_id", "embedding")) == grid)
    assert(rows(Similarity.gridDedup(embeds.coalesce(1), "vec_id", "embedding")) == grid)
    // valueStrata: bucket arithmetic is over the value histogram, which
    // aggregation makes layout-free
    val strata = rows(Quantiles.valueStrata(docs, "n_chars", 10))
    assert(rows(Quantiles.valueStrata(docs.repartition(11), "n_chars", 10)) == strata)
    // labelSpread: centroids round inside the op, so the broadcast join
    // consumes identical values from any layout; the final mean is an
    // order-insensitive aggregate of identical per-vector cosines
    val spread = rows(Similarity.labelSpread(embeds, "vec_id", "embedding", "label"))
    assert(rows(Similarity.labelSpread(embeds.repartition(11), "vec_id", "embedding", "label")) == spread)
  }

  test("property: applyChangeset is idempotent and agrees with incrementalAgg") {
    import spark.implicits._
    // generated snapshot + changeset over a shared small key domain so
    // every op kind collides with existing and absent keys
    val snapGen = Gen.listOf(for {
      id <- Gen.chooseNum(0L, 30L)
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(0L, 100L)
    } yield (id, g, v)).map(_.distinctBy(_._1))
    val changeGen = Gen.listOf(for {
      id <- Gen.chooseNum(0L, 40L)
      g <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.chooseNum(0L, 100L)
      op <- Gen.oneOf("I", "U", "D")
    } yield (id, g, v, op))
    (1 to 5).foreach { seed =>
      val snap = toChangeDf(sample(snapGen, seed).map(t => (t._1, t._2, t._3)))
      val changes = sample(changeGen, seed + 100).zipWithIndex
        .map { case ((id, g, v, op), i) => (id, g, v, op, i.toLong) }
        .toDF("id", "grp", "v", "op", "seq")
      val once = KeyDiff.applyChangeset(snap, changes, Seq("id"))
      val twice = KeyDiff.applyChangeset(once, changes, Seq("id"))
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty,
        s"seed $seed: applyChangeset not idempotent")
      val inc = KeyDiff.incrementalAgg(snap, changes, Seq("id"), Seq("grp"), "v")
      val full = once.groupBy("grp")
        .agg(sum("v").as("sum_value"), count(lit(1)).as("n_rows"))
      assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty,
        s"seed $seed: incrementalAgg != re-aggregation")
    }
  }

  test("property: chained stored-agg IVM == re-aggregation, batch 2 never re-scans") {
    import spark.implicits._
    // Two consecutive changesets maintained through the TRUE-IVM entry
    // point: batch 2's stored aggregate is batch 1's OUTPUT, so the
    // snapshot-wide aggregate is built exactly once (bootstrap) and
    // batch 2 touches the snapshot only via the changed-key
    // before-image join.
    val snapGen = Gen.listOf(for {
      id <- Gen.chooseNum(0L, 30L)
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.chooseNum(0L, 100L)
    } yield (id, g, v)).map(_.distinctBy(_._1))
    val changeGen = Gen.listOf(for {
      id <- Gen.chooseNum(0L, 40L)
      g <- Gen.oneOf("a", "b", "c", "d")
      v <- Gen.chooseNum(0L, 100L)
      op <- Gen.oneOf("I", "U", "D")
    } yield (id, g, v, op))
    def toChanges(l: List[(Long, String, Long, String)]): DataFrame =
      l.zipWithIndex.map { case ((id, g, v, op), i) => (id, g, v, op, i.toLong) }
        .toDF("id", "grp", "v", "op", "seq")
    (1 to 5).foreach { seed =>
      val snap0 = toChangeDf(sample(snapGen, seed).map(t => (t._1, t._2, t._3)))
      val c1 = toChanges(sample(changeGen, seed + 200))
      val c2 = toChanges(sample(changeGen, seed + 300))
      val stored0 = snap0.groupBy("grp")
        .agg(sum("v").as("sum_value"), count(lit(1)).as("n_rows"))
      val agg1 = KeyDiff.incrementalAgg(snap0, stored0, c1,
        Seq("id"), Seq("grp"), "v", "op", "seq")
      val snap1 = KeyDiff.applyChangeset(snap0, c1, Seq("id"))
      val agg2 = KeyDiff.incrementalAgg(snap1, agg1, c2,
        Seq("id"), Seq("grp"), "v", "op", "seq")
      val want = KeyDiff.applyChangeset(snap1, c2, Seq("id"))
        .groupBy("grp")
        .agg(sum("v").as("sum_value"), count(lit(1)).as("n_rows"))
      assert(agg2.exceptAll(want).isEmpty && want.exceptAll(agg2).isEmpty,
        s"seed $seed: chained stored-agg IVM != re-aggregation")
    }
  }

  test("IVM retracts null-valued rows and keeps a null group key whole") {
    import spark.implicits._
    // ADVICE round 5: (a) a snapshot row whose VALUE is null must still
    // retract its count on delete (the old code keyed existence on
    // `__old_v IS NOT NULL`); (b) a null group KEY is one group under
    // groupBy, so the stored/delta merge must join it null-safely
    // instead of splitting it into two output rows.
    val snap = Seq[(Long, Option[String], Option[Long])](
      (1L, Some("a"), None),        // null value in group a
      (2L, Some("a"), Some(10L)),
      (3L, None, Some(7L)),         // null GROUP key
      (4L, None, Some(5L))
    ).toDF("id", "grp", "v")
    val changes = Seq[(Long, Option[String], Option[Long], String, Long)](
      (1L, Some("a"), None, "D", 1L),   // delete the null-valued row
      (3L, None, Some(9L), "U", 2L)     // update inside the null group
    ).toDF("id", "grp", "v", "op", "seq")
    val stored = snap.groupBy("grp")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n_rows"))
    val got = KeyDiff.incrementalAgg(snap, stored, changes,
      Seq("id"), Seq("grp"), "v", "op", "seq")
    val want = KeyDiff.applyChangeset(snap, changes, Seq("id"))
      .groupBy("grp")
      .agg(sum("v").as("sum_value"), count(lit(1)).as("n_rows"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      s"null-edge IVM mismatch: got ${got.collect().mkString(",")} " +
        s"want ${want.collect().mkString(",")}")
    assert(got.filter(col("grp").isNull).count() == 1,
      "null group key must stay a single output row")
  }

  private def toChangeDf(rows: List[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "grp", "v")
  }

  test("property: TopK aggregate == sort-take-k under ties and layouts") {
    import spark.implicits._
    val gen = Gen.listOf(for {
      g <- Gen.oneOf("g1", "g2")
      id <- Gen.chooseNum(0L, 200L)
      n <- Gen.chooseNum(0L, 10L) // heavy score ties
    } yield (g, id, n))
    (1 to 5).foreach { seed =>
      val rows = sample(gen, seed).distinctBy(t => (t._1, t._2))
      if (rows.nonEmpty) {
        val df = rows.toDF("g", "id", "n")
        val got = graft.ops.Ranking.topKPerGroup(df.repartition(5), Seq("g"),
          "n", "id", 3, scoreName = "n")
        val want = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy(col("n").desc, col("id"))
          df.withColumn("rank", row_number().over(w).cast("long"))
            .filter(col("rank") <= 3).select("g", "rank", "id", "n")
        }
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"seed $seed: TopK != window spelling")
      }
    }
  }

  test("property: editJoin equals brute-force levenshtein at d=1 and d=2") {
    import spark.implicits._
    // small alphabet + short lengths → dense distance structure, lots of
    // genuine 1- and 2-edit pairs plus same-variant distance-3 collisions
    val wordGen = for {
      n <- Gen.chooseNum(2, 6)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    val vocabGen = Gen.listOfN(40, wordGen).map(_.distinct)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (seed <- 1L to 5L; maxDist <- Seq(1, 2)) {
      val vocab = sample(vocabGen, seed)
      val got = graft.ops.Fuzzy.editJoin(vocab.toDF("w"), "w", maxDist)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = (for {
        a <- vocab; b <- vocab
        if a < b && lev(a, b) <= maxDist
      } yield (a, b, lev(a, b).toLong)).toSet
      assert(got == want, s"seed $seed maxDist $maxDist: " +
        s"missing ${want -- got}, extra ${got -- want}")
    }
  }

  test("property: linReg r2 == corr² and slope·(sy/sx) relations hold; partition-invariant") {
    import spark.implicits._
    val xyGen: Gen[List[(Double, Double)]] =
      Gen.listOfN(40, for {
        x <- Gen.chooseNum(-9999, 9999) // 2-decimal fixed-point domain
        y <- Gen.chooseNum(-9999, 9999)
      } yield (x / 100.0, y / 100.0))
    for (seed <- 1L to 5L) {
      val rows = sample(xyGen, seed)
      val df = rows.toDF("x", "y").withColumn("grp", lit("g"))
      val r = graft.ops.Stats.linReg(df, "grp", "x", "y").collect().head
      val n = rows.size.toDouble
      val (xs, ys) = (rows.map(_._1), rows.map(_._2))
      def mean(v: Seq[Double]) = v.sum / n
      val (mx, my) = (mean(xs), mean(ys))
      val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
      val vx = xs.map(a => (a - mx) * (a - mx)).sum
      val vy = ys.map(b => (b - my) * (b - my)).sum
      if (vx > 1e-9 && vy > 1e-9) {
        val slope = r.getAs[Double]("slope")
        val r2 = r.getAs[Double]("r2")
        assert(math.abs(slope - cov / vx) < 1e-6, s"seed $seed slope")
        assert(math.abs(r2 - cov * cov / (vx * vy)) < 1e-6, s"seed $seed r2")
        assert(math.abs(r.getAs[Double]("intercept") - (my - cov / vx * mx))
          < 1e-6, s"seed $seed intercept")
        // exact-integer sufficient statistics ⇒ same answer under any
        // partitioning (a double-sum implementation would wobble)
        val rp = graft.ops.Stats.linReg(df.repartition(7), "grp", "x", "y")
          .collect().head
        assert(rp.getAs[Double]("slope") == slope &&
          rp.getAs[Double]("r2") == r2, s"seed $seed partition-variant")
      }
    }
  }

  test("property: percentileNormalize == Spark percent_rank on generated ties") {
    import spark.implicits._
    val vGen: Gen[List[(String, Long)]] =
      Gen.listOfN(60, for {
        g <- Gen.oneOf("a", "b", "c")
        v <- Gen.chooseNum(0L, 9L) // tiny domain → dense ties
      } yield (g, v))
    for (seed <- 1L to 5L) {
      val rows = sample(vGen, seed).zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }
      val df = rows.toDF("id", "grp", "v")
      val got = graft.ops.Quantiles.percentileNormalize(df, "grp", "v")
        .select("id", "v_pct").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = df.select(col("id"), percent_rank().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("grp").orderBy("v")).as("p"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == want, s"seed $seed: ${got.toSet -- want.toSet}")
    }
  }

  // --- positionalDupKeys compat mode (reference merge loop,
  // /root/reference/src/index.js:183-220) over GENERATED dup-key
  // multisets — previously pinned by example tests only (round-12
  // verdict item 7). Three properties: (a) i-th/i-th pairing vs an
  // independent driver-side model, (b) added/removed swap under
  // argument flip, (c) partition-count invariance.

  private val dupRowGen: Gen[(Long, String, Option[Int])] = for {
    id <- Gen.chooseNum(0L, 7L) // tiny key domain → dup keys guaranteed
    s <- Gen.oneOf("x", "y", "z")
    v <- Gen.option(Gen.chooseNum(0, 3))
  } yield (id, s, v)

  private val dupTableGen: Gen[List[(Long, String, Option[Int])]] =
    Gen.listOf(dupRowGen) // duplicates allowed, unlike tableGen

  /** Each row with Spark's OWN string form of its payload struct — the
    * exact ordering key the compat mode's occurrence window uses
    * (`KeyDiff.scala` keyed(): orderBy(payload.cast("string"))). Using
    * Spark's cast (not a hand-rolled format) keeps the model honest.
    */
  private def annotated(rows: List[(Long, String, Option[Int])])
      : List[(Long, String)] = {
    import spark.implicits._
    rows.toDF("id", "s", "v")
      .select(col("id"),
        struct(col("id"), col("s"), col("v")).cast("string").as("str"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toList
  }

  /** Diff result as a canonical multiset of
    * (key, status, old-payload-string, new-payload-string). */
  private def diffRows(o: DataFrame, n: DataFrame)
      : Map[(String, String, Option[String], Option[String]), Int] =
    KeyDiff.diff(o, n, Seq("id"),
        graft.core.DiffConfig(positionalDupKeys = true))
      .select(col("id"), col(KeyDiff.StatusCol),
        col("old").cast("string"), col("new").cast("string"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3))))
      .groupBy(identity).view.mapValues(_.length).toMap

  test("property: positionalDupKeys pairs i-th old with i-th new (model check)") {
    for (seed <- 1L to 8L) {
      val oldRows = sample(dupTableGen, seed)
      val newRows = sample(dupTableGen, seed + 100)
      // independent model: per key, sort each side's payloads by Spark's
      // string form, zip positionally; equal string ⟺ equal payload for
      // these (long, string, int) fields, extras classify added/removed
      val oByKey = annotated(oldRows).groupBy(_._1)
      val nByKey = annotated(newRows).groupBy(_._1)
      val want = (oByKey.keySet ++ nByKey.keySet).toSeq.flatMap { k =>
        val os = oByKey.getOrElse(k, Nil).map(_._2).sorted
        val ns = nByKey.getOrElse(k, Nil).map(_._2).sorted
        val m = math.min(os.size, ns.size)
        val paired = (0 until m).map { i =>
          val st = if (os(i) == ns(i)) "unchanged" else "changed"
          (k.toString, st, Option(os(i)), Option(ns(i)))
        }
        val extraOld = os.drop(m).map(p => (k.toString, "removed", Option(p), None))
        val extraNew = ns.drop(m).map(p => (k.toString, "added", None, Option(p)))
        paired ++ extraOld ++ extraNew
      }.groupBy(identity).view.mapValues(_.length).toMap
      val got = diffRows(toDupDf(oldRows), toDupDf(newRows))
      assert(got == want,
        s"seed $seed:\n extra=${got.toSet -- want.toSet}\n missing=${want.toSet -- got.toSet}")
    }
  }

  test("property: positionalDupKeys added/removed swap under argument flip") {
    for (seed <- 11L to 16L) {
      val a = toDupDf(sample(dupTableGen, seed))
      val b = toDupDf(sample(dupTableGen, seed + 200))
      val fwd = diffRows(a, b)
      val rev = diffRows(b, a)
      // per-key payload ordering is side-independent, so the flip maps
      // every row (st, old, new) → (swap(st), new, old) exactly
      def swap(st: String) = st match {
        case "added" => "removed"; case "removed" => "added"; case s => s
      }
      val flipped = rev.map { case ((k, st, o, n), c) => ((k, swap(st), n, o), c) }
      assert(fwd == flipped,
        s"seed $seed:\n extra=${fwd.toSet -- flipped.toSet}\n missing=${flipped.toSet -- fwd.toSet}")
    }
  }

  test("property: positionalDupKeys result is partition-count invariant") {
    for (seed <- 21L to 25L) {
      val oldRows = sample(dupTableGen, seed)
      val newRows = sample(dupTableGen, seed + 300)
      val base = diffRows(toDupDf(oldRows), toDupDf(newRows))
      val reparted = diffRows(
        toDupDf(oldRows).repartition(7), toDupDf(newRows).repartition(3))
      assert(base == reparted, s"seed $seed: pairing depends on partitioning")
    }
  }

  private def toDupDf(rows: List[(Long, String, Option[Int])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "s", "v")
  }

  // --- strat-surface invariant (round-13 verdict item 7) -----------------
  // The three sf100 decade-evidence queries `X_strat` must be EXACTLY
  // `X(documents restricted to the committed md5 1/8 stratum)` — the
  // engine-side predicate re-spelled here verbatim. If a future edit to
  // registry Text.stratDocs changes the stratum (modulus, digest, digit
  // count), engine and oracle silently diverge; this pins the spelling.
  test("property: X_strat(documents) == X(documents.filter(md5 1/8 stratum))") {
    import spark.implicits._
    // Corpus with guaranteed near-dup pairs inside the stratum: 240 docs,
    // text drawn from 5 pool sentences (id mod 5), so the ~30 stratum
    // docs carry many identical-text pairs (jaccard 1.0 passes every
    // threshold); a per-doc suffix on a third of docs adds near-dups.
    val pool = Vector(
      "the quick brown fox jumps over the lazy dog near the quiet river bank today",
      "training data pipelines deduplicate documents with minhash signatures and band buckets",
      "spark shuffles are the dominant cost at one hundred terabytes of input data",
      "a prefix filter prunes candidate pairs before the exact jaccard verification step",
      "language identification uses character n gram profiles over normalized text windows")
    val docs = (0L until 240L).map { id =>
      val base = pool((id % 5).toInt)
      val text = if (id % 3 == 0) base + s" tail${id % 7}" else base
      (id, text)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("strat_prop").toString
    try {
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // the committed stratum predicate, re-spelled (pin target)
      val strat = docs.filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 8 === 0)
      val nStrat = strat.count()
      assert(nStrat > 10, s"degenerate stratum: $nStrat docs")
      val expected = Map(
        "ppjoin_pairs_strat" ->
          Dedup.ppjoinPairs(strat, "doc_id", "text"),
        "ngram_jaccard_strat" ->
          Dedup.ngramJaccardPairs(strat, "doc_id", "text"),
        "simhash64_pairs_strat" ->
          Dedup.simhash64Pairs(strat, "doc_id", "text"))
      for ((name, exp) <- expected) {
        val got = SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        val want = exp.collect().map(_.toString).sorted.toSeq
        assert(want.nonEmpty, s"$name: vacuous corpus (no pairs in stratum)")
        assert(got == want,
          s"$name diverged from the re-spelled stratum: " +
            s"got ${got.size} rows, want ${want.size}")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  // Same pin for the 1/64 md5(vec_id) embedding stratum behind the two
  // quadratic-validator twins (round-14 verdict item 2). The synthetic
  // corpus PLANTS a dense cluster inside the stratum (plus eval-slice
  // members, vec_id % 37 == 0) so both comparisons are non-vacuous even
  // though the driver fixtures are too sparse below sf1.
  test("property: embed X_strat(embeddings) == X(embeddings.filter(md5 1/64 stratum))") {
    import spark.implicits._
    import graft.ops.{Decontam, Similarity}
    def inStrat(id: Long): Boolean = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16) % 64 == 0
    }
    val n = 4096L
    val stratIds = (0L until n).filter(inStrat)
    assert(stratIds.size > 30, s"degenerate stratum: ${stratIds.size}")
    assert(stratIds.exists(_ % 37 == 0),
      "fixture must contain an in-stratum eval vector (vec_id % 37 == 0)")
    val rows = (0L until n).map { id =>
      val v: Seq[Float] =
        if (inStrat(id))
          // dense cluster: pairwise cosine ≈ 1 clears both thresholds
          (0 until 8).map(k => 1.0f + 0.001f * (((id + k) % 13).toFloat))
        else
          // scattered: deterministic pseudo-noise, mostly below threshold
          (0 until 8).map(k => (((id * 31 + k * 17) % 97).toFloat - 48f) / 10f)
      (id, v, (id % 3).toInt)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("strat_emb_prop").toString
    try {
      df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      // the committed stratum predicate, re-spelled (pin target)
      val strat = df.filter(
        conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 64 === 0)
      val expected = Map(
        "embed_neardup_strat" ->
          Similarity.nearDupPairsBlocked(strat, "vec_id", "embedding",
            threshold = 0.35),
        "decontam_embed_strat" ->
          Decontam.embedOverlap(
            strat.filter(col("vec_id") % 37 =!= 0),
            strat.filter(col("vec_id") % 37 === 0),
            "vec_id", "embedding", threshold = 0.30))
      for ((name, exp) <- expected) {
        val got = SparkEntry.queries(name)(spark, dir)
          .collect().map(_.toString).sorted.toSeq
        val want = exp.collect().map(_.toString).sorted.toSeq
        assert(want.nonEmpty, s"$name: vacuous fixture (no in-stratum hits)")
        assert(got == want,
          s"$name diverged from the re-spelled stratum: " +
            s"got ${got.size} rows, want ${want.size}")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }
}
