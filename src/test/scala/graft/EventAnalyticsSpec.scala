package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{EventAnalytics, TextAnalysis}

class EventAnalyticsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions(4)

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((u, t, tp), i) => (i.toLong, u, ts(t), tp) }
      .toSeq.toDF("event_id", "user_id", "ts", "event_type")
  }

  test("funnel requires stage order: later-stage events before the previous stage don't count") {
    // user 1 converts in order; user 2 clicked BEFORE viewing (click must
    // not count); user 3 never signed up (nothing counts).
    val events = ev(
      (1L, "2024-01-01 10:00:00", "signup"),
      (1L, "2024-01-01 11:00:00", "view"),
      (1L, "2024-01-01 12:00:00", "click"),
      (2L, "2024-01-01 10:00:00", "signup"),
      (2L, "2024-01-01 10:30:00", "click"),
      (2L, "2024-01-01 11:00:00", "view"),
      (3L, "2024-01-01 09:00:00", "view"),
      (3L, "2024-01-01 09:30:00", "click"))
    val f = EventAnalytics.funnel(events, Seq("signup", "view", "click"))
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(f.toSeq == Seq((1, 2L), (2, 2L), (3, 1L)))
  }

  test("funnel stage time is the EARLIEST qualifying event (min semantics)") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "signup"),
      (1L, "2024-01-01 12:00:00", "view"),
      (1L, "2024-01-01 11:00:00", "view")) // earlier view, listed later
    val t2 = EventAnalytics
      .funnelTimes(events, Seq("signup", "view"))
      .select(element_at(col("stage_times"), 2)).collect().head.getTimestamp(0)
    assert(t2 == ts("2024-01-01 11:00:00"))
  }

  test("funnel conversion window excludes late conversions, boundary inclusive") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "signup"),
      (1L, "2024-01-01 11:00:00", "view"), // within 1h: exactly at boundary
      (2L, "2024-01-01 10:00:00", "signup"),
      (2L, "2024-01-01 11:00:01", "view")) // 1s past the window
    val f = EventAnalytics
      .funnel(events, Seq("signup", "view"), windowSec = Some(3600L))
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(f.toSeq == Seq((1, 2L), (2, 1L)))
  }

  test("funnel: same-type repeat can't satisfy two stages; strictly-after excludes the t1 event") {
    // One event at t1 of type 'view' must not satisfy stage 2 ('view'
    // again) at the same timestamp — stage 2 needs ts strictly after t1.
    val events = ev(
      (1L, "2024-01-01 10:00:00", "view"),
      (2L, "2024-01-01 10:00:00", "view"),
      (2L, "2024-01-01 10:00:05", "view"))
    val f = EventAnalytics.funnel(events, Seq("view", "view"))
      .orderBy("stage").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(f.toSeq == Seq((1, 2L), (2, 1L)))
  }

  test("funnel whale-user: 10^6-event user runs with O(K) per-user state, exact result") {
    // One bot/crawler user emits a million pre-signup 'view' events (none
    // may count: stage order), then converts normally; a normal user
    // converts alongside. The rewritten funnel keeps K longs of state per
    // user — the plan must contain NO collect_list buffer (the old shape
    // materialized the whole 10^6-struct event array in one agg buffer).
    val base = 1704100000000000L // 2024-01-01T08:46:40Z in micros
    val whaleNoise = spark.range(1000000).select(
      col("id").as("event_id"), lit(99L).as("user_id"),
      timestamp_micros(lit(base) + col("id")).as("ts"),
      lit("view").as("event_type"))
    val tail = ev(
      (99L, "2024-01-02 00:00:00", "signup"),
      (99L, "2024-01-02 01:00:00", "view"),
      (1L, "2024-01-01 10:00:00", "signup"),
      (1L, "2024-01-01 11:00:00", "view"))
      .select("event_id", "user_id", "ts", "event_type")
    val ft = EventAnalytics.funnelTimes(whaleNoise.union(tail), Seq("signup", "view"))
    val plan = ft.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"),
      s"funnel must not materialize per-user event arrays:\n$plan")
    val got = ft.collect().map(r => r.getLong(0) ->
      r.getSeq[Timestamp](1).map(Option(_))).toMap
    assert(got(99L) == Seq(Some(ts("2024-01-02 00:00:00")),
      Some(ts("2024-01-02 01:00:00"))),
      s"whale user stage times wrong: ${got(99L)}")
    assert(got(1L) == Seq(Some(ts("2024-01-01 10:00:00")),
      Some(ts("2024-01-01 11:00:00"))))
  }

  test("retention counts a user once per (cohort, week) and uses first-contact cohort") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "view"),     // cohort 2024-01-01 (not activity)
      (1L, "2024-01-03 10:00:00", "purchase"), // week 0
      (1L, "2024-01-04 10:00:00", "purchase"), // still week 0, same user
      (1L, "2024-01-09 10:00:00", "purchase"), // week 1
      (2L, "2024-01-02 10:00:00", "purchase")) // own cohort, week 0
    val r = EventAnalytics
      .retention(events, col("event_type") === "purchase")
      .orderBy("cohort", "week_offset").collect()
      .map(x => (x.getDate(0).toString, x.getLong(1), x.getLong(2)))
    assert(r.toSeq == Seq(
      ("2024-01-01", 0L, 1L), ("2024-01-01", 1L, 1L), ("2024-01-02", 0L, 1L)))
  }

  test("transitions count consecutive pairs per user, ts ties broken by event_id") {
    val events = ev(
      (1L, "2024-01-01 10:00:00", "a"),
      (1L, "2024-01-01 10:00:01", "b"),
      (1L, "2024-01-01 10:00:02", "a"),
      (2L, "2024-01-01 10:00:00", "a"), // same ts as next row: event_id orders
      (2L, "2024-01-01 10:00:00", "b"))
    val tr = EventAnalytics.transitions(events)
      .orderBy("prev_type", "next_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(tr.toSeq == Seq(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("funnel/retention/transitions are repartition-invariant (cluster-partitioning safety)") {
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val skewed = events.repartition(7, col("event_type")) // worst-case layout
    assert(canon(EventAnalytics.funnel(skewed,
      Seq("signup", "view", "click", "purchase"), Some(48L * 3600))) ==
      canon(EventAnalytics.funnel(events,
        Seq("signup", "view", "click", "purchase"), Some(48L * 3600))))
    assert(canon(EventAnalytics.retention(skewed,
      col("event_type") === "purchase")) ==
      canon(EventAnalytics.retention(events, col("event_type") === "purchase")))
    assert(canon(EventAnalytics.transitions(skewed)) ==
      canon(EventAnalytics.transitions(events)))
  }

  test("attribution credits the SESSION's first touch, not the user's first event") {
    // user 1: morning session (ad → purchase), then after a >30 min gap an
    // evening session (email → purchase). Each purchase credits its OWN
    // session's first touch — a user-level first-touch would put both on
    // 'ad'.
    val events = ev(
      (1L, "2024-01-01 10:00:00", "ad"),
      (1L, "2024-01-01 10:10:00", "purchase"),
      (1L, "2024-01-01 18:00:00", "email"),
      (1L, "2024-01-01 18:05:00", "purchase"),
      (2L, "2024-01-01 09:00:00", "purchase")) // converts on arrival: credits itself
      .withColumn("value", lit(10.0))
    val out = EventAnalytics.firstTouchAttribution(events, "purchase")
      .collect().map(r => r.getAs[String]("first_touch") ->
        (r.getAs[Long]("conversions"), r.getAs[Double]("total_value"))).toMap
    assert(out == Map(
      "ad" -> ((1L, 10.0)),
      "email" -> ((1L, 10.0)),
      "purchase" -> ((1L, 10.0))))
  }

  test("mergePairs emits adjacent token pairs; tokenEntropy matches closed form") {
    import spark.implicits._
    val df = Seq((1L, "a b b a"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val pairs = df.select(col("doc_id"),
      TextAnalysis.mergePairs(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(pairs(1L) == Seq("a b", "b b", "b a"))
    assert(pairs(2L) == Seq())
    assert(pairs(3L) == Seq())
    val ent = df.select(col("doc_id"),
      TextAnalysis.tokenEntropy(col("text")).as("e"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // "a b b a": p = {a: 1/2, b: 1/2} → 1 bit exactly
    assert(ent(1L).contains(1.0))
    assert(ent(2L).contains(0.0)) // single token: 0 bits
    assert(ent(3L).isEmpty)       // empty doc: null, not a crash
  }

  test("gapFillHourly: complete spine, exact lerp across a 3-hour gap, per-group isolation") {
    import spark.implicits._
    val df = Seq(
      // group a: observed 10:00 (mean 10.0) and 14:00 (mean 18.0);
      // 11:00-13:00 are gaps -> lerp 12.0, 14.0, 16.0
      ("a", ts("2024-03-01 10:05:00"), 8.0),
      ("a", ts("2024-03-01 10:45:00"), 12.0),
      ("a", ts("2024-03-01 14:30:00"), 18.0),
      // group b: its own 2-hour span, must not bleed into a's spine
      ("b", ts("2024-03-01 23:10:00"), 1.0),
      ("b", ts("2024-03-02 01:50:00"), 4.0))
      .toDF("g", "ts", "value")
    val out = graft.ops.TimeSeries.gapFillHourly(df, "g", "ts", "value")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getDouble(2), r.getString(3)))
    val a = out.filter(_._1 == "a")
    assert(a.map(_._2).toSeq == (10 to 14).map(h => s"2024-03-01 $h:00:00.0"),
      "spine must cover exactly first..last observed hour")
    assert(a.map(_._3).toSeq == Seq(10.0, 12.0, 14.0, 16.0, 18.0))
    assert(a.map(_._4).toSeq ==
      Seq("observed", "interpolated", "interpolated", "interpolated",
        "observed"))
    val b = out.filter(_._1 == "b").map(t => (t._2, t._3, t._4))
    assert(b.toSeq == Seq(
      ("2024-03-01 23:00:00.0", 1.0, "observed"),
      ("2024-03-02 00:00:00.0", 2.5, "interpolated"),
      ("2024-03-02 01:00:00.0", 4.0, "observed")),
      s"group b got $b")
  }

  test("gapFillHourly: null measurements don't dilute means; an all-null hour fills as a gap") {
    import spark.implicits._
    val df = Seq[(String, Timestamp, java.lang.Double)](
      ("g", ts("2024-03-01 10:10:00"), 10.0),
      ("g", ts("2024-03-01 10:20:00"), null), // must not drag the mean
      ("g", ts("2024-03-01 11:30:00"), null), // all-null hour => gap
      ("g", ts("2024-03-01 12:15:00"), 30.0))
      .toDF("g", "ts", "value")
    val out = graft.ops.TimeSeries.gapFillHourly(df, "g", "ts", "value")
      .collect().map(r => (r.getTimestamp(1).toString, r.getDouble(2),
        r.getString(3))).toSeq
    assert(out == Seq(
      ("2024-03-01 10:00:00.0", 10.0, "observed"),
      ("2024-03-01 11:00:00.0", 20.0, "interpolated"),
      ("2024-03-01 12:00:00.0", 30.0, "observed")), s"got $out")
  }
}
