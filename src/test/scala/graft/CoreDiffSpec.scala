package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DiffConfig
import graft.ops.{DataTests, KeyDiff, VennDiff}

class CoreDiffSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions(4)

  def statusMap(df: org.apache.spark.sql.DataFrame): Map[String, String] = {
    df.select("id", KeyDiff.StatusCol).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("keyDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    val neu = Seq((2L, "b", 20.0), (3L, "c", 31.0), (4L, "d", 40.0))
      .toDF("id", "name", "v")
    val d = KeyDiff.diff(old, neu, Seq("id"))
    assert(statusMap(d) == Map(
      "1" -> "removed", "2" -> "unchanged", "3" -> "changed", "4" -> "added"))
    val changed = d.filter(col("id") === "3")
      .select(col(s"${KeyDiff.ChangedFieldsCol}.v")).collect().head.getStruct(0)
    assert(changed.getString(0) == "30.0" && changed.getString(1) == "31.0")
  }

  test("keyDiff compat mode: null keys match each other (reference src/index.js:272-278)") {
    import spark.implicits._
    val old = Seq((Some(1L), "x"), (None, "was-null")).toDF("id", "name")
    val neu = Seq((Some(1L), "x"), (None, "now-null")).toDF("id", "name")
    val d = KeyDiff.diff(old, neu, Seq("id"))
    assert(statusMap(d) == Map("1" -> "unchanged", "null" -> "changed"))
    // native mode: SQL semantics, null keys never match
    val n = KeyDiff.diff(old, neu, Seq("id"), DiffConfig(stringKeys = false))
    assert(n.filter(col(KeyDiff.StatusCol) === "unchanged").count() == 1)
    assert(n.filter(col(KeyDiff.StatusCol) === "added").count() == 1)
    assert(n.filter(col(KeyDiff.StatusCol) === "removed").count() == 1)
  }

  test("keyDiff schemaDrift: union-widened payloads; absent key parts are 'undefined', not 'null'") {
    import spark.implicits._
    val old = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    val neu = Seq((1L, "a", "web"), (2L, "b", "store"))
      .toDF("id", "name", "channel") // v dropped, channel added
    // strict default still refuses drifted schemas
    intercept[IllegalArgumentException](KeyDiff.diff(old, neu, Seq("id")))
    val d = KeyDiff.diff(old, neu, Seq("id"), DiffConfig(schemaDrift = true))
    // every matched row "changes": v value→null, channel null→value
    assert(statusMap(d) == Map("1" -> "changed", "2" -> "changed"))
    val cf = d.filter(col("id") === "1")
      .select(col(KeyDiff.ChangedFieldsCol)).collect().head
      .getMap[String, org.apache.spark.sql.Row](0)
    assert(cf.keySet == Set("v", "channel"), s"changed fields: ${cf.keySet}")
    assert(cf("v").getString(0) == "10.0" && cf("v").getString(1) == null)
    assert(cf("channel").getString(0) == null && cf("channel").getString(1) == "web")

    // key field present on only ONE side: that side's rows key by the
    // VALUE, the other side keys "undefined" — and a present-but-NULL
    // key on the other side stringifies "null", which must NOT match
    // (JS String(undefined) != String(null), src/index.js:272-278)
    val o2 = Seq((1L, "x")).toDF("id", "name") // no 'k' column at all
    val n2 = Seq((Some(9L), 1L, "x"), (None, 1L, "y")).toDF("k", "id", "name")
    val d2 = KeyDiff.diff(o2, n2, Seq("k"), DiffConfig(schemaDrift = true))
      .select(col("k"), col(KeyDiff.StatusCol)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d2 == Set(("undefined", "removed"), ("9", "added"), ("null", "added")),
      s"got $d2")
  }

  test("keyDiff nested structs: changed LEAF paths reported dotted, presence changes at struct path") {
    import spark.implicits._
    // reference detailedDiff recurses into nested records
    // (/root/reference/src/index.js:205, deep-object-diff): a changed leaf
    // must report "addr.city", not an atomic "addr" blob.
    val old = Seq(
      (1L, ("springfield", 10)),          // city changes
      (2L, ("shelbyville", 20)),          // unchanged
      (3L, ("ogdenville", 30)))           // struct nulled on new side
      .toDF("id", "addr")
      .select(col("id"), col("addr").cast("struct<city:string,zip:int>"))
    val neu = Seq(
      (1L, Some(("shelbyville", 10))),
      (2L, Some(("shelbyville", 20))),
      (3L, None))
      .toDF("id", "addr")
      .select(col("id"), col("addr").cast("struct<city:string,zip:int>"))
    val d = KeyDiff.diff(old, neu, Seq("id"))
    val fields = d.filter(col(KeyDiff.StatusCol) === "changed")
      .select(col("id"), map_keys(col(KeyDiff.ChangedFieldsCol)))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(fields("1") == Set("addr.city"),
      s"leaf-path diff expected, got ${fields("1")}")
    assert(fields("3") == Set("addr"),
      s"one-sided-null struct must report at the struct path, got ${fields("3")}")
    val leaf = d.filter(col("id") === "1")
      .select(col(s"${KeyDiff.ChangedFieldsCol}")("addr.city"))
      .collect().head.getStruct(0)
    assert(leaf.getString(0) == "springfield" && leaf.getString(1) == "shelbyville")
  }

  test("keyDiff positionalDupKeys: duplicate keys pair 1:1 like the reference's merge loop") {
    import spark.implicits._
    // reference pairs equal keys positionally (src/index.js:183-220); the
    // plain join cross-products (4 rows for 2x2 dups), the compat mode
    // pairs i-th old with i-th new in payload order and classifies
    // unpaired extras.
    val old = Seq((1L, "a"), (1L, "b"), (2L, "only-old")).toDF("id", "name")
    val neu = Seq((1L, "a"), (1L, "b2"), (1L, "c")).toDF("id", "name")
    val plain = KeyDiff.diff(old, neu, Seq("id"))
    assert(plain.filter(col("id") === "1").count() == 6) // 2x3 cross product
    val pos = KeyDiff.diff(old, neu, Seq("id"),
      DiffConfig(positionalDupKeys = true))
    val rows = pos.filter(col("id") === "1")
      .select(col(KeyDiff.StatusCol), col("old.name"), col("new.name"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("unchanged", "a", "a"),       // 1st old ↔ 1st new
      ("changed", "b", "b2"),        // 2nd old ↔ 2nd new
      ("added", null, "c")),         // unpaired 3rd new
      s"positional pairing wrong: $rows")
    assert(pos.filter(col("id") === "2").select(col(KeyDiff.StatusCol))
      .collect().head.getString(0) == "removed")
    assert(!pos.columns.contains("__k_pos"), "internal pos column must not leak")
  }

  test("keyDiff self-diff is all unchanged (reference sampleDataTest)") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val d = KeyDiff.diff(orders, orders, Seq("o_orderkey"))
    assert(d.filter(col(KeyDiff.StatusCol) =!= "unchanged").isEmpty)
    assert(d.count() == orders.count())
  }

  test("keyDiff projection: ignored fields don't count as changes") {
    import spark.implicits._
    val old = Seq((1L, "a", 1.0)).toDF("id", "name", "noise")
    val neu = Seq((1L, "a", 2.0)).toDF("id", "name", "noise")
    val cfg = DiffConfig(ignoreFields = Some(Seq("noise")))
    val d = KeyDiff.diff(old, neu, Seq("id"), cfg)
    assert(statusMap(d) == Map("1" -> "unchanged"))
  }

  test("venn multiset identities: |old| = removed + common") {
    import spark.implicits._
    val old = Seq("a", "a", "a", "b", "c").toDF("v")
    val neu = Seq("a", "b", "b", "d").toDF("v")
    assert(VennDiff.removed(old, neu).collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "a", "c")))
    assert(VennDiff.added(old, neu).collect().map(_.getString(0)).sorted
      .sameElements(Array("b", "d")))
    assert(VennDiff.intersection(old, neu).collect().map(_.getString(0)).sorted
      .sameElements(Array("a", "b")))
    val c = VennDiff.counted(old, neu)
    val byV = c.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(byV("a") == ((3L, 1L, 2L, 0L, 1L)))
    assert(byV("b") == ((1L, 2L, 0L, 1L, 1L)))
    assert(byV("c") == ((1L, 0L, 1L, 0L, 0L)))
    assert(byV("d") == ((0L, 1L, 0L, 1L, 0L)))
    // summary counts = the printed stats, with the reference's :60-61 label
    // swap fixed
    val s = VennDiff.summary(old, neu).collect().head
    assert((s.getLong(0), s.getLong(1), s.getLong(2)) == ((3L, 2L, 2L)))
  }

  test("venn counted fails fast on reserved-name collision (no silent shadowing)") {
    import spark.implicits._
    // A data column named 'added' used to be silently overwritten by the
    // count columns (and dropped from report dumps); 'old_count' produced
    // an ambiguous-column AnalysisException deep in the plan. Both now
    // fail fast at the API boundary with the rename/project remedy.
    for (bad <- Seq("added", "removed", "common", "old_count", "new_count")) {
      val df = Seq((1L, "x")).toDF("id", bad)
      val e = intercept[IllegalArgumentException] {
        VennDiff.counted(df, df)
      }
      assert(e.getMessage.contains(bad) && e.getMessage.contains("collide"),
        s"expected a clear collision message for '$bad', got: ${e.getMessage}")
    }
    // non-reserved columns are unaffected
    assert(VennDiff.counted(Seq((1L, "x")).toDF("id", "v"),
      Seq((1L, "x")).toDF("id", "v")).count() == 1L)
  }

  test("venn flip symmetry: added(o,n) == removed(n,o)") {
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderstatus", "o_orderpriority")
      .filter(col("o_orderstatus") =!= "F")
    val n = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .select("o_orderstatus", "o_orderpriority")
    assert(VennDiff.added(o, n).count() == VennDiff.removed(n, o).count())
    assert(VennDiff.summary(o, o).collect().head.getLong(0) == 0L)
  }

  test("keyDuplicates finds dup keys incl. null-vs-null") {
    import spark.implicits._
    val df = Seq(Some(1L), Some(1L), Some(2L), None, None).toDF("id")
    val dups = DataTests.keyDuplicates(df, Seq("id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dups == Map("1" -> 2L, "null" -> 2L))
    assert(!DataTests.keyUniqueness(df, Seq("id")))
    assert(DataTests.keyUniqueness(df.dropDuplicates("id"), Seq("id")))
  }

  test("entry() flagship returns rows with all four statuses") {
    val e = SparkEntry.entry(spark)
    assert(e.count() > 0)
    val statuses = e.select(KeyDiff.StatusCol).distinct()
      .collect().map(_.getString(0)).toSet
    assert(statuses == Set("added", "removed", "changed", "unchanged"))
  }

  test("referentialIntegrity counts orphans and null FKs separately") {
    import spark.implicits._
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val r = DataTests.referentialIntegrity(child, parent, "fk", "pk")
      .collect()(0)
    assert(r.getAs[Long]("n_child") == 4L)
    assert(r.getAs[Long]("n_null_fk") == 1L)   // null FK is not an orphan
    assert(r.getAs[Long]("n_orphans") == 1L)   // fk=9 has no parent
    assert(!r.getAs[Boolean]("ri_ok"))
    val ok = DataTests.referentialIntegrity(
      child.filter(col("fk") =!= 9L), parent, "fk", "pk").collect()(0)
    assert(ok.getAs[Long]("n_orphans") == 0L && ok.getAs[Boolean]("ri_ok"))
  }

  test("schemaDiff classifies added/removed/changed/unchanged incl. nested paths") {
    import spark.implicits._
    val old = Seq((1L, "a", 1.0, (1, "x"))).toDF("id", "keep", "drop", "sub")
    val neu = Seq((1L, "a", true, (1L, "x"))).toDF("id", "keep", "extra", "sub")
      .select(col("id"), col("keep"), col("extra"),
        struct(col("sub._1").as("_1"), col("sub._2").as("_2")).as("sub"))
    val d = DataTests.schemaDiff(old, neu)
      .map { case (c, o, n, s) => c -> ((o, n, s)) }.toMap
    assert(d("id") == (("bigint", "bigint", "unchanged")))
    assert(d("keep") == (("string", "string", "unchanged")))
    assert(d("drop") == (("double", null, "removed")))
    assert(d("extra") == ((null, "boolean", "added")))
    // nested struct field type change surfaces at its dotted path
    assert(d("sub._1") == (("int", "bigint", "changed")))
    assert(d("sub._2") == (("string", "string", "unchanged")))
  }

  /** Report text split by bucket: header count and row lines (colour
    * codes stripped), plus the trailing per-status summary lines.
    */
  private def reportBuckets(text: String)
      : (Map[String, (Long, Seq[String])], Seq[String]) = {
    val Header = """== (.+): (\d+) rows \(showing up to \d+\)""".r
    val lines = text.linesIterator.map(_.replaceAll("\u001b\\[\\d+m", "")).toSeq
    val buckets = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Seq[String])]
    var cur = ""
    lines.foreach {
      case Header(name, n) => cur = name; buckets(name) = (n.toLong, Seq.empty)
      case l if l.startsWith("  ") =>
        buckets(cur) = (buckets(cur)._1, buckets(cur)._2 :+ l.trim)
      case _ => ()
    }
    (buckets.toMap, lines.filter(_.matches("""\w+: \d+ rows""")))
  }

  private def captured(body: => Unit): String = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8"))(body)
    out.toString("UTF-8")
  }

  test("printKeyDiff prints all four buckets with counts (reference parity)") {
    import spark.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val neu = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("id", "v")
    val d = KeyDiff.diff(old, neu, Seq("id"))
    // The report must run as exactly ONE SQL execution carrying the diff
    // join: the counts and the four bucket samples come from one scan of
    // the join output, and the execution stays visible to SQL listeners.
    // Job counts are AQE-noisy, so count SQL executions whose physical
    // plan contains a join instead.
    val joinExecs = new java.util.concurrent.atomic.AtomicInteger(0)
    // count only executions that START after this timestamp: earlier
    // tests' executions can still be queued on the async listener bus
    val t0 = System.currentTimeMillis()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.time >= t0 && s.physicalPlanDescription.contains("Join") =>
          joinExecs.incrementAndGet()
        case _ => ()
      }
    }
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.addSparkListener(listener)
    val text = try {
      val t = captured(graft.cli.Report.printKeyDiff(d))
      // listener delivery is async; poll until the counter is stable so a
      // straggler execution can't slip past the assert
      var prev = -1
      var spins = 0
      while (joinExecs.get() != prev && spins < 40) {
        prev = joinExecs.get(); spins += 1; Thread.sleep(50)
      }
      t
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(joinExecs.get() == 1,
      s"printKeyDiff executed the diff join ${joinExecs.get()} times; " +
        "the report must be exactly one SQL execution")
    // no NEW persisted RDDs (the ContextCleaner may drop older ones meanwhile)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- persisted).isEmpty,
      "printKeyDiff left persisted (checkpointed/cached) RDD blocks behind")
    // the reference prints added/removed/updated/unchanged, in that order
    // (reference src/index.js:143-153)
    for (b <- Seq("added", "removed", "changed", "unchanged"))
      assert(text.contains(s"== $b: 1 rows"), s"missing bucket $b in:\n$text")
    assert(text.indexOf("== added") < text.indexOf("== removed"))
    assert(text.indexOf("== removed") < text.indexOf("== changed"))
    assert(text.indexOf("== changed") < text.indexOf("== unchanged"))
    // summary lines (one per present status, status-sorted) still print
    for (b <- Seq("added", "changed", "removed", "unchanged"))
      assert(text.contains(s"$b: 1 rows"), s"missing summary line $b")
    // byte-exact: colours, headers, and each row as collect() renders it
    val colors = Seq("added" -> "\u001b[32m", "removed" -> "\u001b[31m",
      "changed" -> "\u001b[33m", "unchanged" -> "\u001b[0m")
    val expected = colors.flatMap { case (b, c) =>
      s"$c== $b: 1 rows (showing up to 20)\u001b[0m" +:
        d.filter(col(KeyDiff.StatusCol) === b).collect().toSeq
          .map(r => s"$c  $r\u001b[0m")
    } ++ Seq("added", "changed", "removed", "unchanged").map(b => s"$b: 1 rows")
    assert(text.linesIterator.toSeq == expected, text)
  }

  test("printKeyDiff caps each bucket's rows at limit; the header keeps the full count") {
    import spark.implicits._
    val old = Seq.empty[(Long, String)].toDF("id", "v")
    val neu = (1L to 25L).map(i => (i, s"n$i")).toDF("id", "v")
    val text = captured(
      graft.cli.Report.printKeyDiff(KeyDiff.diff(old, neu, Seq("id")), limit = 20))
    val (buckets, summary) = reportBuckets(text)
    assert(buckets("added")._1 == 25L)
    assert(buckets("added")._2.size == 20, buckets("added")._2)
    assert(text.linesIterator.count(_.contains("  [")) == 20, text)
    assert(Seq("removed", "changed", "unchanged").forall(b => buckets(b) == ((0L, Seq.empty))))
    assert(summary == Seq("added: 25 rows"))
  }

  test("printKeyDiff on empty inputs: four zero headers, no rows, no summary lines") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("id", "v")
    val (buckets, summary) = reportBuckets(captured(
      graft.cli.Report.printKeyDiff(KeyDiff.diff(empty, empty, Seq("id")))))
    assert(buckets.keySet == Set("added", "removed", "changed", "unchanged"))
    assert(buckets.values.forall(_ == ((0L, Seq.empty))), buckets)
    assert(summary.isEmpty, summary)
  }

  test("printKeyDiff over a 7-partition input: rows land in their bucket, min(n, limit) each") {
    import spark.implicits._
    // 30 removed, 12 added, 9 changed, 2 unchanged
    val old = (1L to 41L).map(i => (i, s"v$i")).toDF("id", "v")
    val neu = ((31L to 41L).map(i => (i, if (i <= 39L) s"w$i" else s"v$i")) ++
      (100L until 112L).map(i => (i, s"n$i"))).toDF("id", "v")
    val d = KeyDiff.diff(old, neu, Seq("id")).repartition(7)
    val limit = 5
    val (buckets, summary) = reportBuckets(captured(
      graft.cli.Report.printKeyDiff(d, limit)))
    val n = Map("added" -> 12L, "removed" -> 30L, "changed" -> 9L, "unchanged" -> 2L)
    n.foreach { case (b, cnt) =>
      assert(buckets(b)._1 == cnt, s"$b header")
      assert(buckets(b)._2.size == math.min(cnt, limit.toLong), s"$b rows")
      buckets(b)._2.foreach(r => assert(r.startsWith("[") && r.split(',')(1) == b, r))
      assert(buckets(b)._2.distinct.size == buckets(b)._2.size, s"$b repeats a row")
    }
    assert(summary == n.toSeq.sortBy(_._1).map { case (b, c) => s"$b: $c rows" })
  }

  test("schemaDiff: pure required<->optional flip is nullability_changed, not unchanged") {
    import org.apache.spark.sql.types._
    def df(s: StructType) = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), s)
    val oldS = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("price", DoubleType, nullable = false)))
    val newS = StructType(Seq(
      StructField("id", LongType, nullable = true),      // null branch added
      StructField("price", DecimalType(10, 2), nullable = true))) // type + null
    val d = DataTests.schemaDiff(df(oldS), df(newS))
      .map { case (c, _, _, s) => c -> s }.toMap
    assert(d == Map("id" -> "nullability_changed", "price" -> "changed"))
  }

  test("every declared query runs at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // materializes; throws on broken plans
    }
  }

  test("printVennDiff: one counted() execution, buckets + multiplicities match the set-ops") {
    import spark.implicits._
    val old = Seq((1L, "a"), (3L, "c"), (3L, "c")).toDF("id", "v")
    val neu = Seq((1L, "a"), (4L, "d")).toDF("id", "v")
    val out = new java.io.ByteArrayOutputStream()
    // The report must execute the union+aggregate counted() plan exactly
    // once (the localCheckpoint materialization); the summary aggregate
    // and the three bucket dumps run over the checkpointed rows, whose
    // plans carry no Union. The old shape ran 6 full set-op executions
    // (and Catalyst rewrites exceptAll/intersectAll via Union too, so
    // Union-bearing executions is the right counter for both shapes).
    val unionExecs = new java.util.concurrent.atomic.AtomicInteger(0)
    // The listener bus is async: executions posted by EARLIER queries in
    // this suite can still be queued at registration time and would be
    // delivered to the new listener. Count only executions that START
    // after this timestamp so stale deliveries can't inflate the counter.
    val t0 = System.currentTimeMillis()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.time >= t0 && s.physicalPlanDescription.contains("Union") =>
          unionExecs.incrementAndGet()
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        graft.cli.Report.printVennDiff(old, neu)
      }
      var prev = -1
      var spins = 0
      while (unionExecs.get() != prev && spins < 40) {
        prev = unionExecs.get(); spins += 1; Thread.sleep(50)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(unionExecs.get() <= 1,
      s"printVennDiff executed the counted union ${unionExecs.get()} times; " +
        "the report must materialize once and reuse")
    // expected from the individual set-ops (the old 6-execution shape) —
    // run AFTER the listener is removed so their own Union-bearing
    // executions can never race into the counter.
    assert(VennDiff.removed(old, neu).count() == 2L)   // (3,c) x2
    assert(VennDiff.added(old, neu).count() == 1L)     // (4,d)
    assert(VennDiff.intersection(old, neu).count() == 1L) // (1,a)
    val text = out.toString("UTF-8")
    assert(text.contains("== removed (old \u2216 new): 2 rows"), text)
    assert(text.contains("== added (new \u2216 old): 1 rows"), text)
    assert(text.contains("== intersection: 1 rows"), text)
    // reference order: removed, then added, then intersection
    assert(text.indexOf("== removed") < text.indexOf("== added"))
    assert(text.indexOf("== added") < text.indexOf("== intersection"))
    // multiplicity re-expansion: the duplicated (3,c) row prints twice
    assert(text.linesIterator.count(_.contains("[3,c]")) == 2, text)
    assert(text.linesIterator.count(_.contains("[4,d]")) == 1, text)
    assert(text.linesIterator.count(_.contains("[1,a]")) == 1, text)
  }
}
