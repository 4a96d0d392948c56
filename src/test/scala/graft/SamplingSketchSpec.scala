package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{FreqSketch, KeyDiff, Sampling}

/** Unit tests for the round-5 additions: bounded bottom-k sampling
  * (per-domain caps, deterministic reservoir), the Count-Min frequency
  * sketch, and the SCD Type-2 history builder. The sf0.01 DuckDB oracle
  * is the integration gate; these pin the semantic corners.
  */
class SamplingSketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions(4)

  override def afterAll(): Unit = spark.stop()

  private def docs(n: Int): DataFrame = {
    import spark.implicits._
    // skewed domains: domain d0 holds half the rows — the whale case
    (1 to n).map { i =>
      (i.toLong, if (i % 2 == 0) "d0" else s"d${i % 7}")
    }.toDF("doc_id", "source")
  }

  test("domainCapIds == the window row_number spelling, caps respected") {
    val df = docs(500)
    val got = Sampling.domainCapIds(df, "doc_id", "source", 10)
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10).select("source", "doc_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val sizes = got.groupBy("source").count().collect()
    assert(sizes.forall(_.getAs[Long]("count") <= 10))
    // the whale domain actually hit the cap
    assert(sizes.find(_.getAs[String]("source") == "d0")
      .exists(_.getAs[Long]("count") == 10))
  }

  test("domainCap returns full surviving rows, repartition-invariant") {
    val df = docs(300)
    val a = Sampling.domainCap(df, "doc_id", "source", 5)
    val b = Sampling.domainCap(df.repartition(13), "doc_id", "source", 5)
    assert(a.columns.toSeq == df.columns.toSeq)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("uniformSampleIds: exact n, deterministic, nested under larger n") {
    val df = docs(400)
    val s20 = Sampling.uniformSampleIds(df, "doc_id", 20)
      .collect().map(_.getLong(0)).toSet
    val s50 = Sampling.uniformSampleIds(df.repartition(17), "doc_id", 50)
      .collect().map(_.getLong(0)).toSet
    assert(s20.size == 20 && s50.size == 50)
    // bottom-k of one permutation: the 20-sample is a PREFIX of the
    // 50-sample — the property that lets a pipeline grow a sample
    // without resampling (and proves determinism across partitionings)
    assert(s20.subsetOf(s50))
  }

  test("uniformSampleIds caps at table size when n > rows") {
    val df = docs(8)
    assert(Sampling.uniformSampleIds(df, "doc_id", 100).count() == 8)
  }

  test("weightedSampleIds: exact n, scale-invariant weights, weight pull, determinism") {
    import spark.implicits._
    val df = (1 to 400).map { i =>
      // doc 7 gets an overwhelming weight; the rest are length-ish
      (i.toLong, if (i == 7) 1.0e9 else 50.0 + (i % 97))
    }.toDF("doc_id", "w")
    val s1 = Sampling.weightedSampleIds(df, "doc_id", "w", 30)
      .collect().map(_.getLong(0)).toSet
    assert(s1.size == 30)
    // the whale-weight doc is (deterministically) in the sample
    assert(s1.contains(7L))
    // multiplying all weights by a constant must not change the sample
    val s2 = Sampling.weightedSampleIds(
      df.withColumn("w", col("w") * 1000.0), "doc_id", "w", 30)
      .collect().map(_.getLong(0)).toSet
    assert(s2 == s1)
    // repartition-invariant (TakeOrdered merge is order-stable)
    val s3 = Sampling.weightedSampleIds(df.repartition(13), "doc_id", "w", 30)
      .collect().map(_.getLong(0)).toSet
    assert(s3 == s1)
    // zero/negative/null weights never qualify
    val s4 = Sampling.weightedSampleIds(
      df.withColumn("w", when(col("doc_id") <= 390, lit(0.0))
        .otherwise(col("w"))), "doc_id", "w", 30)
      .collect().map(_.getLong(0)).toSet
    assert(s4.size == 10 && s4.forall(_ > 390))
  }

  test("topKPerGroup == the window row_number spelling, repartition-invariant") {
    import spark.implicits._
    // skewed scores with deliberate ties: score = i % 50 collides heavily
    val df = (1 to 600).map { i =>
      (s"g${i % 3}", i.toLong, (i % 50).toLong)
    }.toDF("g", "id", "n")
    val got = graft.ops.Ranking.topKPerGroup(df, Seq("g"), "n", "id", 7,
      scoreName = "n")
    val w = Window.partitionBy("g").orderBy(col("n").desc, col("id"))
    val want = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 7).select("g", "rank", "id", "n")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val again = graft.ops.Ranking.topKPerGroup(df.repartition(13), Seq("g"),
      "n", "id", 7, scoreName = "n")
    assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
  }

  test("topKPerGroup: small group returns all members; SQL path agrees") {
    import spark.implicits._
    val df = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("b", 3L, 9L))
      .toDF("g", "id", "n")
    val got = graft.ops.Ranking.topKPerGroup(df, Seq("g"), "n", "id", 10,
      scoreName = "n").orderBy("g", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // tie at n=5 breaks toward the smaller id
    assert(got.toSeq == Seq(("a", 1L, 1L), ("a", 2L, 2L), ("b", 1L, 3L)))
    graft.functions.Registry.install(spark)
    df.createOrReplaceTempView("topk_in")
    val viaSql = spark.sql(
      "SELECT g, graft_top_k(n, id, 10) AS top FROM topk_in GROUP BY g")
      .select(col("g"), explode(col("top.payload")).as("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(viaSql == Set(("a", 1L), ("a", 2L), ("b", 3L)))
  }

  private def tokenDocs(rows: (String, Seq[String])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("lang", "toks")
  }

  test("count-min never undercounts and merged parts == one-shot sketch") {
    val df = tokenDocs(
      "en" -> Seq("a", "b", "a", "c"),
      "en" -> Seq("a", "b"),
      "de" -> Seq("d", "a"),
      "de" -> Seq("b", "b", "e"))
    val exact = Map("a" -> 4L, "b" -> 4L, "c" -> 1L, "d" -> 1L, "e" -> 1L)
    val one = df.agg(FreqSketch.cmSketch(col("toks"), w = 64, d = 4).as("sk"))
    val merged = df.groupBy("lang")
      .agg(FreqSketch.cmSketch(col("toks"), w = 64, d = 4).as("psk"))
      .agg(FreqSketch.cmMerge(col("psk")).as("sk"))
    // merge is element-wise addition of the same increments → the
    // sketch IMAGES are byte-identical, not merely estimate-equal
    val oneBytes = one.collect().head.getAs[Array[Byte]]("sk")
    val mergedBytes = merged.collect().head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(oneBytes, mergedBytes))
    exact.foreach { case (item, n) =>
      val est = graft.functions.CountMin.estimate(oneBytes, item)
      assert(est >= n, s"undercount for $item: $est < $n")
      // 10 items in a 64-wide row: overshoot beyond 10 impossible
      assert(est <= n + 10, s"wild overshoot for $item: $est vs $n")
    }
    // absent item estimates at most the collision mass, never negative
    val ghost = graft.functions.CountMin.estimate(oneBytes, "zz")
    assert(ghost >= 0L)
  }

  test("count-min estimate works through the Column/SQL path") {
    val df = tokenDocs("en" -> Seq("x", "x", "y"))
    val out = df.agg(FreqSketch.cmSketch(col("toks")).as("sk"))
      .select(FreqSketch.cmEstimate(col("sk"), lit("x")).as("ex"),
        FreqSketch.cmEstimate(col("sk"), lit("y")).as("ey"))
      .collect().head
    assert(out.getAs[Long]("ex") >= 2L && out.getAs[Long]("ey") >= 1L)
    graft.functions.Registry.install(spark)
    df.createOrReplaceTempView("cm_docs")
    val viaSql = spark.sql(
      """SELECT graft_cm_estimate(graft_cm_sketch(toks, 2048, 4), 'x') AS ex
        |FROM cm_docs""".stripMargin).collect().head.getAs[Long]("ex")
    assert(viaSql == out.getAs[Long]("ex"))
  }

  test("theta: exact below k; union of parts == whole; set ops correct") {
    import spark.implicits._
    import graft.ops.DistinctSketch
    // group g1 = {1..60}, g2 = {41..100}: |∩| = 20, |g1 \ g2| = 40
    val df = ((1L to 60L).map(("g1", _)) ++ (41L to 100L).map(("g2", _)))
      .toDF("g", "uid")
    val sk = DistinctSketch.thetaSketch(df, Seq("g"), "uid")
    val row = sk.as("a").join(sk.as("b"),
        col("a.g") === lit("g1") && col("b.g") === lit("g2"))
      .select(
        DistinctSketch.thetaEstimate(col("a.sketch")).as("na"),
        DistinctSketch.thetaIntersect(col("a.sketch"), col("b.sketch")).as("ni"),
        DistinctSketch.thetaANotB(col("a.sketch"), col("b.sketch")).as("nd"))
      .collect().head
    // 120 items < k = 4096 nominal entries ⇒ theta is in exact mode
    assert(row.getAs[Double]("na") == 60.0)
    assert(row.getAs[Double]("ni") == 20.0)
    assert(row.getAs[Double]("nd") == 40.0)
    // union of per-part sketches answers exactly like one global sketch
    val whole = df.agg(bridgeSketch(col("uid")).as("sk"))
      .select(DistinctSketch.thetaEstimate(col("sk")).as("n"))
      .collect().head.getAs[Double]("n")
    val merged = sk.agg(DistinctSketch.thetaUnion(col("sketch")).as("sk"))
      .select(DistinctSketch.thetaEstimate(col("sk")).as("n"))
      .collect().head.getAs[Double]("n")
    assert(whole == 100.0 && merged == 100.0)
  }

  // one-row inline sketch (sketch-of-sketch for the union test)
  private def bridgeSketch(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.{graft => bridge}
    bridge.column(graft.functions.ThetaSketchAgg(bridge.expression(c))
      .toAggregateExpression())
  }

  private def snap(rows: (Long, String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("id", "name", "v")
  }

  test("applyChangeset: last-wins merge of I/U/D, untouched rows survive") {
    import spark.implicits._
    val snapshot = snap((1L, "keep", 10L), (2L, "del", 20L),
      (3L, "upd", 30L), (4L, "both", 40L))
    // (id, label, v, op, seq): id 4 gets D@1 then U@2 (update wins);
    // id 5 is a fresh insert; id 6 is a D for an absent key (no-op);
    // id 3 gets U@1 then U@2 (the seq-2 image must win)
    val changes = Seq(
      (2L, "del", 20L, "D", 1L),
      (3L, "upd-old", 31L, "U", 1L),
      (3L, "upd-new", 32L, "U", 2L),
      (4L, "both", 40L, "D", 1L),
      (4L, "both-upd", 41L, "U", 2L),
      (5L, "ins", 50L, "I", 1L),
      (6L, "ghost", 60L, "D", 1L))
      .toDF("id", "name", "v", "op", "seq")
    val got = KeyDiff.applyChangeset(snapshot, changes, Seq("id"))
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Long]("v")))
    assert(got.toSeq == Seq(
      (1L, "keep", 10L),       // untouched
      (3L, "upd-new", 32L),    // highest-seq update image
      (4L, "both-upd", 41L),   // U@2 overrides D@1
      (5L, "ins", 50L)))       // insert; id 2 deleted, id 6 never existed
  }

  test("incrementalAgg == re-aggregating the merged snapshot, incl. group moves") {
    import spark.implicits._
    // (id, grp, v): the changeset deletes, inserts, updates in place,
    // and MOVES id 3 from group a to group b; id 9's delete then upsert
    // must land as an insert (seq order)
    val snapshot = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 40L), (9L, "b", 90L))
      .toDF("id", "grp", "v")
    val changes = Seq(
      (2L, "a", 0L, "D", 1L),      // delete from a
      (3L, "b", 31L, "U", 1L),     // move a -> b with a new value
      (5L, "c", 50L, "I", 1L),     // brand-new group c
      (9L, "b", 0L, "D", 1L),
      (9L, "b", 99L, "I", 2L))     // delete then re-insert: seq 2 wins
      .toDF("id", "grp", "v", "op", "seq")
    val got = KeyDiff.incrementalAgg(snapshot, changes, Seq("id"),
      Seq("grp"), "v")
    val ref = KeyDiff.applyChangeset(snapshot, changes, Seq("id"))
      .groupBy("grp").agg(sum("v").as("sum_value"),
        count(lit(1)).as("n_rows"))
    assert(got.exceptAll(ref).isEmpty && ref.exceptAll(got).isEmpty,
      s"got=${got.collect().toSeq} ref=${ref.collect().toSeq}")
    // spot values: a keeps only id 1; b has 4, 3(moved, 31), 9(99)
    val m = got.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2)))).toMap
    assert(m("a") == ((10L, 1L)))
    assert(m("b") == ((40L + 31L + 99L, 3L)))
    assert(m("c") == ((50L, 1L)))
  }

  test("incrementalAgg drops groups whose count reaches zero") {
    import spark.implicits._
    val snapshot = Seq((1L, "only", 7L)).toDF("id", "grp", "v")
    val changes = Seq((1L, "only", 0L, "D", 1L))
      .toDF("id", "grp", "v", "op", "seq")
    val got = KeyDiff.incrementalAgg(snapshot, changes, Seq("id"),
      Seq("grp"), "v")
    assert(got.count() == 0)
  }

  test("scdType2 emits the right versions per status") {
    val old = snap((1L, "keep", 10L), (2L, "edit", 20L), (3L, "drop", 30L))
    val neu = snap((1L, "keep", 10L), (2L, "edit", 21L), (4L, "new", 40L))
    val from = lit("2024-01-01")
    val to = lit("2024-02-01")
    val hist = KeyDiff.scdType2(old, neu, Seq("id"), from, to)
      .orderBy("id", "valid_from").collect()
    assert(hist.length == 5)
    def row(i: Int) = (hist(i).getAs[Long]("id"), hist(i).getAs[Long]("v"),
      Option(hist(i).getAs[java.sql.Date]("valid_to")).map(_.toString),
      hist(i).getAs[Boolean]("is_current"))
    assert(row(0) == ((1L, 10L, None, true)))                      // unchanged
    assert(row(1) == ((2L, 20L, Some("2024-02-01"), false)))       // closed
    assert(row(2) == ((2L, 21L, None, true)))                      // reopened
    assert(row(3) == ((3L, 30L, Some("2024-02-01"), false)))       // removed
    assert(row(4) == ((4L, 40L, None, true)))                      // added
    assert(hist(0).getAs[java.sql.Date]("valid_from").toString == "2024-01-01")
    assert(hist(2).getAs[java.sql.Date]("valid_from").toString == "2024-02-01")
  }

  test("scdType2 point-in-time reads reconstruct both snapshots") {
    val old = snap((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L))
    val neu = snap((2L, "b", 9L), (3L, "c", 3L), (5L, "e", 5L))
    val hist = KeyDiff.scdType2(old, neu, Seq("id"),
      lit("2024-01-01"), lit("2024-02-01"))
    val cols = old.columns.map(col).toIndexedSeq
    // current rows == the new snapshot
    val current = hist.filter(col("is_current")).select(cols: _*)
    assert(current.exceptAll(neu).isEmpty && neu.exceptAll(current).isEmpty)
    // rows valid on the old effective date == the old snapshot
    val asOfOld = hist.filter(col("valid_from") <= lit("2024-01-01") &&
      (col("valid_to").isNull || col("valid_to") > lit("2024-01-01")))
      .select(cols: _*)
    assert(asOfOld.exceptAll(old).isEmpty && old.exceptAll(asOfOld).isEmpty)
  }
}
