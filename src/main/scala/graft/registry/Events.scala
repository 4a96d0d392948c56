package graft
package registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.ops.{Dedup, EventAnalytics, EventTime}
import graft.streaming.EventStream

import Shared._

/** Event queries: funnel, retention and transition analytics, the
  * streaming surface (the same transforms under readStream) and EWMA
  * smoothing.
  */
object Events {

  val queries: Seq[Query] = Seq(
    // --- event analytics: funnel / retention / transitions ----------------
    Query("funnel_stages", (s, dir) =>
      EventAnalytics.funnel(t(s, dir, "events"),
        Seq("signup", "view", "click", "purchase"),
        windowSec = Some(48L * 3600))
        .orderBy("stage"),
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s3.t3 + INTERVAL 48 HOUR GROUP BY e.user_id)
        |SELECT stage, users FROM (
        |  SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
        |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, CAST(count(*) AS BIGINT) FROM s4)
        |ORDER BY stage""".stripMargin),
    Query("retention_weeks", (s, dir) =>
      EventAnalytics.retention(t(s, dir, "events"),
        col("event_type") === "purchase")
        .orderBy("cohort", "week_offset"),
      """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        |           FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        |        WHERE event_type = 'purchase')
        |SELECT f.cohort,
        |  CAST(floor(date_diff('day', f.cohort, act.d) / 7) AS BIGINT)
        |    AS week_offset,
        |  CAST(count(DISTINCT act.user_id) AS BIGINT) AS users
        |FROM f JOIN act ON f.user_id = act.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("event_transitions", (s, dir) =>
      EventAnalytics.transitions(t(s, dir, "events"))
        .orderBy("prev_type", "next_type"),
      """SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type AS next_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("attribution", (s, dir) =>
      EventAnalytics.firstTouchAttribution(t(s, dir, "events"), "purchase")
        .orderBy("first_touch"),
      """WITH x AS (SELECT *, epoch_ms(ts) ms,
        |  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |       THEN 1 ELSE 0 END ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) session_id
        |      FROM x),
        |z AS (SELECT *, first_value(event_type) OVER (
        |        PARTITION BY user_id, session_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) first_touch
        |      FROM y)
        |SELECT first_touch, CAST(count(*) AS BIGINT) AS conversions,
        |  round(sum(value), 2) AS total_value
        |FROM z WHERE event_type = 'purchase'
        |GROUP BY first_touch ORDER BY first_touch""".stripMargin),
    Query("funnel_rates", (s, dir) => {
      // stage-to-stage conversion rates off the same single funnel pass;
      // the lag window runs over the K-row stage relation
      val stages = EventAnalytics.funnel(t(s, dir, "events"),
        Seq("signup", "view", "click", "purchase"),
        windowSec = Some(48L * 3600))
      val w = Window.orderBy("stage")
      stages
        .withColumn("rate", round(
          col("users").cast("double") /
            lag(col("users"), 1).over(w).cast("double"), 4))
        .orderBy("stage")
    },
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s3.t3 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |st AS (SELECT stage, users FROM (
        |  SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
        |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, CAST(count(*) AS BIGINT) FROM s4))
        |SELECT stage, users, round(CAST(users AS DOUBLE) /
        |  CAST(lag(users) OVER (ORDER BY stage) AS DOUBLE), 4) AS rate
        |FROM st ORDER BY stage""".stripMargin),
    Query("funnel_timing", (s, dir) => {
      // Inter-stage conversion timing off ONE funnelTimes pass: posexplode
      // keeps the times array alongside each stage so the previous stage's
      // time is an array lookup, not a re-evaluation (the SQL oracle's
      // chained CTEs re-scan events per stage). Exact-integer micros
      // arithmetic end-to-end: the sums are exact in both engines, and
      // the p50 interpolation between two exact longs at 0.5 is exact
      // halving — no summation-order hazard anywhere.
      EventAnalytics.funnelTimes(t(s, dir, "events"),
        Seq("signup", "view", "click", "purchase"),
        windowSec = Some(48L * 3600))
        .select(col("stage_times"),
          posexplode(col("stage_times")).as(Seq("pos", "t")))
        .filter(col("pos") > 0 && col("t").isNotNull)
        .select((col("pos") + 1).as("stage"),
          (unix_micros(col("t")) -
            unix_micros(element_at(col("stage_times"), col("pos")))).as("us"))
        .groupBy("stage")
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("us")).cast("double") / count(lit(1)) / 1e6, 3)
            .as("avg_sec"),
          round(median(col("us")) / 1e6, 3).as("p50_sec"))
        .orderBy("stage")
    },
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s3.t3 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |d AS (
        |  SELECT 2 AS stage, epoch_us(t2) - epoch_us(t1) AS us
        |  FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL SELECT 3, epoch_us(t3) - epoch_us(t2)
        |  FROM s2 JOIN s3 USING (user_id)
        |  UNION ALL SELECT 4, epoch_us(t4) - epoch_us(t3)
        |  FROM s3 JOIN s4 USING (user_id))
        |SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(sum(us) AS DOUBLE) / count(*) / 1e6, 3) AS avg_sec,
        |  round(median(us) / 1e6, 3) AS p50_sec
        |FROM d GROUP BY stage ORDER BY stage""".stripMargin),
    Query("ewma_events", (s, dir) =>
      // bounded-memory adjusted EWMA per user: K=12 lag terms sharing one
      // user-keyed window, explicit left-associated sum for cross-engine
      // bit-reproducibility
      EventAnalytics.ewmaSmooth(t(s, dir, "events"))
        .select(col("user_id"), EventTime.ms(col("ts")).as("ts_ms"),
          col("event_id"), col("value"), col("ewma"))
        .orderBy("user_id", "ts_ms", "event_id"), {
      // the weight literals are Scala-computed doubles interpolated at
      // full round-trip precision, and the sum is written as the same
      // left-associated chain the Spark expression builds — identical
      // IEEE evaluation on both engines
      val terms = (0 until 12).map { j =>
        val w = math.pow(1 - 0.3, j)
        (s"coalesce((lag(value, $j) OVER w) * $w, 0.0)",
          s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN $w ELSE 0.0 END")
      }
      s"""SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value,
         |  round((${terms.map(_._1).mkString("\n     + ")})
         |    / (${terms.map(_._2).mkString("\n     + ")}), 9) AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         |ORDER BY user_id, ts_ms, event_id""".stripMargin
    }),
    // --- streaming surface (same transforms run under readStream) ---------
    Query("stream_window", (s, dir) =>
      EventStream.hourlyCounts(t(s, dir, "events"))
        .orderBy("hour", "event_type"),
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("sessionize", (s, dir) =>
      EventStream.sessionizeBatch(t(s, dir, "events"))
        .orderBy("user_id", "session_id"),
      """WITH x AS (SELECT user_id, event_id, ts, epoch_ms(ts) ms,
        |  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |       THEN 1 ELSE 0 END ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, ms,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) session_id
        |  FROM x)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ms) AS start_ms, max(ms) AS end_ms,
        |  max(ms) - min(ms) AS duration_ms
        |FROM y GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin),
    Query("sessionize_rocksdb", (s, dir) => {
      // the SAME sessionization semantics through a real incremental
      // streaming execution — MemoryStream micro-batches, watermark,
      // event-time timeouts — with state backed by RocksDB
      // (StateStores.useRocksDB, asserted via the query's rocksdb*
      // state-store metrics); shares sessionize's oracle row-for-row
      graft.streaming.StateStores.useRocksDB(s,
        changelogCheckpointing = false, maxMemoryMB = 256L)
      // 2 data chunks (+2 sentinels = 4 micro-batches): state still
      // crosses a batch boundary — the incremental-execution claim —
      // at half the per-commit state-store overhead of 4 chunks
      try EventStream.sessionizeReplay(t(s, dir, "events"),
          chunks = 2, requireRocksDB = true)
        .orderBy("user_id", "session_id")
      finally graft.streaming.StateStores.useDefault(s)
    },
      // identical sessions to the batch query: the streaming replay must
      // reproduce the gaps-and-islands answer bit-for-bit
      """WITH x AS (SELECT user_id, event_id, ts, epoch_ms(ts) ms,
        |  CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
        |       THEN 1 ELSE 0 END ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (SELECT user_id, ms,
        |  CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) session_id
        |  FROM x)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ms) AS start_ms, max(ms) AS end_ms,
        |  max(ms) - min(ms) AS duration_ms
        |FROM y GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin),
    Query("hourly_stream", (s, dir) => {
      // the watermarked windowed aggregate as a REAL incremental stream:
      // Append mode emits each hourly window only after the watermark
      // passes its end (sentinel event advances it past every real
      // window; the sentinel's own open window never emits and is
      // filtered anyway). Sums ACCUMULATE as exact decimals, so the
      // stream's arrival order cannot flip a cent against the batch
      // oracle; the OUTPUT casts to double (2-decimal sums ≤ ~1e6 are
      // exactly representable) — DecimalType output columns defeat the
      // driver's hash canonicalization (TESTDATA.md type palette)
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"),
        col("value"), EventTime.ms(col("ts")).as("ts_ms"))
      val maxMs = ev.agg(max("ts_ms")).head.getLong(0)
      def sentinel(offsetMs: Long) =
        Seq((new java.sql.Timestamp(maxMs + offsetMs), "__sentinel", 0.0,
          maxMs + offsetMs)).toDF("ts", "event_type", "value", "ts_ms")
      // 2 data chunks: window state is O(open windows) and every commit
      // snapshots it, so fewer micro-batches cut replay cost while the
      // execution stays genuinely incremental. ONE sentinel suffices:
      // it advances the tracked max event time past every real window,
      // and AvailableNow's closing no-data micro-batch evicts + emits
      // with that watermark (eviction uses the CURRENT batch's
      // watermark — only late-row filtering lags a batch), so a second
      // flush sentinel would buy nothing but one more commit.
      EventStream.fileReplay(ev, "ts_ms", chunks = 2,
          extras = Seq(sentinel(EventTime.minutesMs(240L))))(df =>
          EventStream.hourlyCountsExact(df.drop("ts_ms")))
        .filter(col("event_type") =!= "__sentinel")
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("hour", "event_type")
    },
      // exact-decimal windowed sums: bit-identical whatever order the
      // stream accumulated them in
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |       AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("hourly_stream_late", (s, dir) => {
      // OUT-OF-ORDER late data, driver-visible: the %97 slice of events
      // is withheld and delivered as a micro-batch AFTER a sentinel has
      // advanced the watermark past every real window — the dominant
      // production streaming failure mode. The documented outcome is a
      // hard DROP: the watermark filter discards the late batch before
      // state, emitted windows never change, and the replay asserts the
      // dropped count EXACTLY equals the withheld rows (plus row
      // conservation: late rows are still admitted input). The oracle
      // is the batch aggregate over ONLY the in-watermark rows.
      import s.implicits._
      val ev0 = t(s, dir, "events").select(col("event_id"), col("ts"),
        col("event_type"), col("value"), EventTime.ms(col("ts")).as("ts_ms"))
      val onTime = ev0.filter(col("event_id") % 97 =!= 0).drop("event_id")
      val late = ev0.filter(col("event_id") % 97 === 0).drop("event_id")
      // the drop metric counts post-partial-agg rows (see fileReplay),
      // so the exact band is [distinct late (hour, type) cells, rows] —
      // both counts in ONE pass (multi-distinct rides the same aggregate)
      val lateStats = late.agg(count(lit(1)),
        countDistinct(date_trunc("hour", col("ts")), col("event_type"))).head
      val (nLate, nLateCells) = (lateStats.getLong(0), lateStats.getLong(1))
      val maxMs = onTime.agg(max("ts_ms")).head.getLong(0)
      def sentinel(offsetMs: Long) =
        Seq((new java.sql.Timestamp(maxMs + offsetMs), "__sentinel", 0.0,
          maxMs + offsetMs)).toDF("ts", "event_type", "value", "ts_ms")
      // batch order: slice0, sentinel(+240min) [advances the
      // tracked max event time], spacer sentinel(+300min) [the watermark
      // Spark FILTERS WITH during batch N is the one computed from
      // batches ≤ N−2, one batch behind the tracked stats — measured
      // here: without the spacer, a final-hour late row is admitted
      // because the late batch still filters with the pre-sentinel
      // watermark], LATE slice [watermark now past every real window →
      // all dropped, counted exactly]; the closing no-data micro-batch
      // evicts + emits the real windows (all sentinel rows filtered
      // below). One on-time chunk suffices: the cross-batch
      // window-merge proof lives in hourly_stream; THIS oracle proves
      // the late-drop, which needs only the sentinel/spacer/late order.
      EventStream.fileReplay(onTime, "ts_ms", chunks = 1,
          extras = Seq(sentinel(EventTime.minutesMs(240L)),
            sentinel(EventTime.minutesMs(300L)), late),
          expectLateDropped = Some((nLateCells, nLate)))(df =>
          EventStream.hourlyCountsExact(df.drop("ts_ms")))
        .filter(col("event_type") =!= "__sentinel")
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("hour", "event_type")
    },
      // late rows (the %97 slice, delivered past the watermark) are
      // DROPPED: the stream's answer is the batch aggregate over only
      // the in-watermark rows — emitted windows never change
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |       AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 97 <> 0
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("cdc_stream", (s, dir) => {
      // the MERGE as a STREAM: a KEY-LOCAL changeset (the realistic CDC
      // shape — purges hit the oldest key range, corrections and
      // inserts the newest) arrives as three seq-ordered micro-batches
      // and each batch MERGES into a RANGE-BUCKETED stored snapshot via
      // foreachBatch + applyChangeset. Because the snapshot is
      // partitioned by o_orderkey range and each batch's keys span a
      // fifth of the key space, every merge reads and rewrites ONLY the
      // touched partitions (partition pruning + per-dir swap —
      // O(touched), not O(table); see changelogReplay) — the property
      // that makes per-batch cost track batch locality at 100 TB.
      // Incremental application across batch boundaries must equal the
      // one-shot merge; a U on a key absent from the snapshot upserts
      // it, and the later I (seq 3) wins over the seq-2 U image by
      // max_by(seq) — both corners the oracle pins.
      val o = t(s, dir, "orders")
      val maxKey = o.agg(max("o_orderkey")).head.getLong(0)
      val loK = maxKey / 5
      val hiK = maxKey - loK
      val k = col("o_orderkey")
      val del = o.filter(k % 11 === 0 && k <= loK)
        .withColumn("__op", lit("D")).withColumn("__seq", lit(1L))
      val upd = o.filter(k % 13 === 0 && k > hiK)
        .withColumn("o_totalprice", col("o_totalprice") + 50)
        .withColumn("__op", lit("U")).withColumn("__seq", lit(2L))
      val ins = o.filter(k % 7 === 0 && k > hiK)
        .withColumn("__op", lit("I")).withColumn("__seq", lit(3L))
      val width = maxKey / 16L + 1L
      EventStream.changelogReplay(ordersOld(s, dir),
          del.unionByName(upd).unionByName(ins), "__seq", chunks = 3,
          Seq("o_orderkey"), "__op", "__seq",
          bucketExpr = Some(expr(s"o_orderkey div ${width}L")))
        .orderBy("o_orderkey")
    },
      // the snapshot (keys %7<>0) after the localized changeset:
      // old-range purge (%11 keys <= lo), recent corrections (+50 on
      // %13 keys > hi, unless the seq-3 insert image of a %7 key
      // overrode the seq-2 update), recent inserts (%7 keys > hi,
      // original price). Incremental foreachBatch merges over touched
      // partitions ≡ the one-shot MERGE.
      """WITH b AS (SELECT max(o_orderkey) // 5 AS lo,
        |  max(o_orderkey) - max(o_orderkey) // 5 AS hi FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey > b.hi AND o_orderkey % 13 = 0
        |            AND o_orderkey % 7 <> 0
        |       THEN o_totalprice + 50 ELSE o_totalprice
        |  END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        |FROM orders, b
        |WHERE (o_orderkey % 7 <> 0
        |       AND NOT (o_orderkey <= b.lo AND o_orderkey % 11 = 0))
        |   OR (o_orderkey % 7 = 0 AND o_orderkey > b.hi)
        |ORDER BY o_orderkey""".stripMargin),
    Query("distinct_stream", (s, dir) => {
      // the windowed distinct-user HLL sketch as a REAL stream. The
      // gate: BOTH the streamed and the batch estimate sit within an
      // ESTIMATOR-AWARE band of the exact count for every (hour, type)
      // window — 4.6 standard errors of the HLL's own RSE
      // (1.04/sqrt(2^lgK) ≈ 1.6% at lgK=12, band ≈ 7.5%), the same
      // discipline as theta_overlap's round-12 fix. A flat 5% is only
      // ~3.1 sigma, and at sf100 the 3600 dense-regime cells produced
      // exactly the expected tail: 2 cells at 5.0-5.3% error (measured;
      // the salted-id control showed the same tail, so no structural
      // bias from ScaleUp's replica arithmetic) — a gate-calibration
      // artifact, not a sketch defect. The gate is two-sided, so
      // P(miss) at 4.6 sigma = 2·Φ(−4.6) ≈ 4e-6/cell (≈ 1.5%/run over
      // 3600 dense cells — DistinctSketch.HllBand46), which keeps the
      // provable-TRUE oracle sound at any SF. (Stream ≡ batch
      // EXACT equality holds only while the sketch stays in its sparse
      // regime: once cardinality promotes it to dense HLL, a union of
      // partial sketches and a one-shot aggregation can legitimately
      // land on slightly different estimates — measured at sf1, 48/3600
      // windows. The sparse-regime equality is pinned in StreamingSpec;
      // the scale-stable claim is the error band.)
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"),
        col("event_type"), EventTime.ms(col("ts")).as("ts_ms"))
      val maxMs = ev.agg(max("ts_ms")).head.getLong(0)
      def sentinel(offsetMs: Long) =
        Seq((new java.sql.Timestamp(maxMs + offsetMs), -1L, "__sentinel",
          maxMs + offsetMs)).toDF("ts", "user_id", "event_type", "ts_ms")
      val streamed = EventStream.fileReplay(ev, "ts_ms", chunks = 2,
          extras = Seq(sentinel(EventTime.minutesMs(240L))))(df =>
          EventStream.distinctUsersStream(df.drop("ts_ms")))
        .filter(col("event_type") =!= "__sentinel")
        .withColumnRenamed("approx_users", "streamed_est")
      val band = graft.ops.DistinctSketch.HllBand46
      val batch = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"),
            graft.ops.DistinctSketch.DefaultLgK)).as("batch_est"),
          countDistinct(col("user_id")).as("n_exact"))
      streamed.join(batch, Seq("hour", "event_type"))
        .select(col("hour"), col("event_type"), col("n_exact"),
          (abs(col("streamed_est") - col("n_exact")) <=
            col("n_exact") * band).as("stream_in_hll_band"),
          (abs(col("batch_est") - col("n_exact")) <=
            col("n_exact") * band).as("batch_in_hll_band"))
        .orderBy("hour", "event_type")
    },
      // gates are provable TRUE: both the streamed and the batch HLL
      // estimate sit within 4.6 standard errors of the sketch's own RSE
      // (≈7.5% at lgK=12) of the exact count at any SF — P(miss) ≈
      // 2e-6/cell, vs the old flat 5% (~3.1σ) which legitimately lost
      // 2/3600 dense cells at sf100
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |  TRUE AS stream_in_hll_band, TRUE AS batch_in_hll_band
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("avro_stream", (s, dir) => {
      // O1 as a STREAMING SOURCE: the same watermarked hourly aggregate
      // as hourly_stream, but the replay slices are AVRO container
      // files decoded by the custom splittable source through the
      // Structured Streaming file source — write path, container
      // decode, and streaming admission in one driver-visible row
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"),
        col("value"), EventTime.ms(col("ts")).as("ts_ms"))
      val maxMs = ev.agg(max("ts_ms")).head.getLong(0)
      def sentinel(offsetMs: Long) =
        Seq((new java.sql.Timestamp(maxMs + offsetMs), "__sentinel", 0.0,
          maxMs + offsetMs)).toDF("ts", "event_type", "value", "ts_ms")
      EventStream.fileReplay(ev, "ts_ms", chunks = 2,
          extras = Seq(sentinel(EventTime.minutesMs(240L))),
          format = "avro")(df =>
          EventStream.hourlyCountsExact(df.drop("ts_ms")))
        .filter(col("event_type") =!= "__sentinel")
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy("hour", "event_type")
    },
      // identical claim to hourly_stream, through the Avro source
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2)))
        |       AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin),
    Query("transitions_stream", (s, dir) => {
      // the online Markov-transition operator made driver-visible: the
      // real events table replayed through transitionsStream as
      // event-time-ordered micro-batches (state = ONE last-event row per
      // user), aggregated to the batch event_transitions answer; event
      // time rides as full-precision micros so the (ts, event_id)
      // tie-break matches the oracle's full-precision ORDER BY
      import s.implicits._
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"))
      // 2 chunks: per-user last-event state still crosses a batch
      // boundary (the incremental claim) at half the commit overhead
      EventStream.fileReplay(ev, "ts_us", chunks = 2)(df =>
          EventStream.transitionsStream(df.as[EventStream.TransEvent]))
        .groupBy("prev_type", "next_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("prev_type", "next_type")
    },
      // identical counts to the batch event_transitions oracle: the
      // streaming replay must reproduce the Markov matrix exactly
      """SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT event_type AS next_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY ts, event_id) AS prev_type
        |      FROM events)
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Query("funnel_stream", (s, dir) => {
      // the online funnel-progression operator made driver-visible:
      // StageReached rows emitted the moment each user's next stage
      // fills (state = filled stage-time prefix, <= K longs per user),
      // counted per stage to the batch funnel_stages answer
      import s.implicits._
      val ev = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      // 2 chunks: stage-prefix state still crosses a batch boundary
      EventStream.fileReplay(ev, "ts_us", chunks = 2)(df =>
          EventStream.funnelStream(df.as[EventStream.FunnelEvent],
            Seq("signup", "view", "click", "purchase"),
            windowSec = Some(48L * 3600)))
        .groupBy("stage").agg(count(lit(1)).as("users"))
        .orderBy("stage")
    },
      // identical stage counts to the batch funnel_stages oracle
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 48 HOUR GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s3.t3 + INTERVAL 48 HOUR GROUP BY e.user_id)
        |SELECT stage, users FROM (
        |  SELECT 1 AS stage, CAST(count(*) AS BIGINT) AS users FROM s1
        |  UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, CAST(count(*) AS BIGINT) FROM s4)
        |ORDER BY stage""".stripMargin),
    Query("stream_enrich", (s, dir) => {
      // stream-STATIC dimension join: every micro-batch of the event
      // replay joins the broadcast customer→nation dim (stateless,
      // stream side never shuffles — the per-event enrichment shape at
      // 100 TB); the post-sink rollup keeps sums exact-decimal until
      // the final double cast, so arrival order can't flip a cent
      val ev = t(s, dir, "events").select(col("user_id"),
        EventTime.ms(col("ts")).as("ts_ms"), col("event_type"),
        col("value"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      EventStream.fileReplay(ev, "ts_ms", chunks = 2)(df =>
          EventStream.enrichStream(df, dim, "user_id", "c_custkey"))
        .groupBy("n_name", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value"), 2).cast("decimal(18,2)"))
            .cast("double").as("sum_value"))
        .orderBy("n_name", "event_type")
    },
      // the stream-static join ≡ the batch 3-way join; exact-decimal
      // sums make the rollup order-independent on both engines
      """SELECT n.n_name, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(e.value, 2) AS DECIMAL(18,2)))
        |       AS DOUBLE) AS sum_value
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY n_name, event_type""".stripMargin),
    Query("interval_stream", (s, dir) => {
      // a TRUE watermarked stream-stream join made driver-visible: the
      // click and purchase streams replay as two file sources sliced by
      // the same event-time bands (watermarks advance in lockstep);
      // per-user purchase-within-10-min-of-click matches emit eagerly
      // (watermarks gate state cleanup, not inner-join emission) and
      // must equal the batch self-join oracle row-for-row
      val ev = t(s, dir, "events").withColumn("ts_ms",
        EventTime.ms(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("ts_ms"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("ts_ms"))
      EventStream.fileReplay2(clicks, purchases, "ts_ms", chunks = 2)(
          (c, p) => EventStream.intervalJoinStream(c.drop("ts_ms"),
            p.drop("ts_ms")))
        .orderBy("event_id", "purchase_id")
    },
      // the watermarked stream-stream join ≡ the batch interval
      // self-join; inclusive bounds both sides
      """SELECT c.event_id, c.user_id, p.event_id AS purchase_id,
        |  round(p.value, 2) AS p_value
        |FROM events c JOIN events p
        |  ON c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
        |ORDER BY c.event_id, purchase_id""".stripMargin),
    Query("neardup_stream", (s, dir) => {
      // the streaming near-dup dedup made driver-visible: documents
      // replayed in doc_id order through dropDuplicatesWithinWatermark
      // on the 64-bit SimHash; the output is checked at the SKETCH level
      // (exactly one surviving row per distinct sketch) because which of
      // two same-sketch docs inside one micro-batch survives is
      // partition-order-dependent — the dedup property is deterministic,
      // the winner is not
      // synthetic event time = base + doc_id ms; the base keeps doc 0
      // off epoch 0, which the stream's INITIAL watermark would
      // otherwise swallow as late
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"),
        timestamp_millis(col("doc_id") + 1700000000000L).as("ts"),
        col("doc_id").as("ord"))
      EventStream.fileReplay(docs, "ord", chunks = 2)(df =>
          EventStream.nearDupDedupStream(df.drop("ord"), "text", "ts"))
        .select(Dedup.simhash64(col("text")).as("sh"))
        .orderBy("sh")
    },
      // the streaming dedup must keep EXACTLY one row per distinct
      // 64-bit SimHash (sketch recomputed in SQL as in the simhash64
      // oracle); sketch-level compare because the surviving twin of a
      // same-batch duplicate pair is partition-order-dependent
      s"""WITH $toksCte,
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
         |FROM bb)
         |SELECT DISTINCT sh FROM s ORDER BY sh""".stripMargin)
  )
}
