package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` table
  * (`event_id, ts, user_id, event_type, value, props`).
  *
  * The reference is strictly batch (SURVEY.md §2 "Streaming: none"); this
  * module is the extended-scope streaming surface. Design rule: every
  * transform is written against a plain DataFrame so the SAME code runs
  * in batch (driver correctness gate, DuckDB oracle) and under
  * `readStream` (watermark + incremental state) — `withWatermark` is a
  * no-op in batch plans, so nothing forks.
  *
  * Scale posture: windowed counts are a streaming hash aggregation keyed
  * by (window, event_type) with watermark-bounded state; sessionization
  * keeps one small state object per active user key and emits+frees it on
  * event-time timeout — state size is O(active users), not O(events).
  */
object EventStream {

  /** When true, every replay records its streaming query's FINAL
    * micro-batch executed plan (the `IncrementalExecution`, with state
    * restore/save operators — same operator shape as every post-first
    * batch) into [[capturedPlans]] — PlanDump's hook for putting the
    * streaming plans in PLANS.md. Costs nothing when off.
    */
  @volatile var capturePlans: Boolean = false
  val capturedPlans = new scala.collection.mutable.ArrayBuffer[String]()
  private def capture(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (capturePlans)
      org.apache.spark.sql.graft.lastExecutedPlan(q).foreach(p =>
        capturedPlans.synchronized { capturedPlans += p })

  /** Watermarked hourly tumbling-window aggregate. Batch: identical to a
    * date_trunc groupBy. Stream: incremental, state dropped once the
    * watermark passes the window end.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** [[hourlyCounts]] with ORDER-INDEPENDENT exact sums: `value` is
    * fixed to 2 decimals and summed as DECIMAL, so the incremental
    * streaming accumulation (per-micro-batch partial merges, arrival
    * order) produces bit-identical totals to any batch plan or engine —
    * a double sum's IEEE rounding depends on summation order, which is
    * exactly what a stream reorders. This is the variant the streaming
    * replay holds to the DuckDB oracle.
    */
  def hourlyCountsExact(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value"), 2).cast("decimal(18,2)"))
          .cast("decimal(38,2)").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Watermarked per-window DISTINCT USERS via the mergeable HLL sketch
    * — the streaming face of [[graft.ops.DistinctSketch]]. Exact
    * streaming distinct would hold every user id per open window in
    * state; the sketch holds ~KB per (window, type) regardless of
    * cardinality, and because HLL union is order-independent
    * (register-wise max), the incremental stream answer is IDENTICAL
    * to the batch answer over the same rows WHILE the sketch stays in
    * its sparse (exact) regime — asserted in StreamingSpec. Once a
    * window's cardinality promotes the sketch to dense HLL, a union of
    * partial sketches and a one-shot aggregation can land on slightly
    * different estimates (measured: 48/3600 windows at sf1); the
    * scale-stable guarantee is the standard HLL error bound vs the
    * exact count, which the driver oracle gates at 5%. Same shape
    * keeps a 100 TB live dashboard's state bounded.
    */
  def distinctUsersStream(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // explicit lgK from the shared constant: the distinct_stream
      // gate's 4.6σ band (DistinctSketch.HllBand46) divides by this
      // sketch's 2^lgK, so the two must not drift apart
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"),
          graft.ops.DistinctSketch.DefaultLgK))
        .as("approx_users"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("approx_users"))

  /** Batch sessionization (gaps-and-islands): a new session starts when
    * the gap to the previous event of the same user exceeds `gapMinutes`.
    * Two window passes over the same (user_id, ts, event_id) sort order —
    * one shuffle by user_id, both windows reuse it.
    *
    * Timestamps are emitted as epoch millis so the result is exact across
    * engines regardless of sub-microsecond parquet precision.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMs = gapMinutes * 60L * 1000L
    val ms = graft.ops.EventTime.ms(col("ts"))
    val prevMs = lag(ms, 1).over(byUser)
    val isNew = when(prevMs.isNull || ms - prevMs > gapMs, 1L).otherwise(0L)
    events
      .withColumn("__new", isNew)
      .withColumn("session_id",
        sum(col("__new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(ms).as("start_ms"),
        max(ms).as("end_ms"))
      .withColumn("duration_ms", col("end_ms") - col("start_ms"))
  }

  /** Streaming exact deduplication — the streaming half of
    * `Dedup.exactGroups`: `dropDuplicatesWithinWatermark` keeps the first
    * row per content key and frees a key's state once the watermark
    * passes its event time + horizon, so memory is O(keys per horizon),
    * not O(stream). (Plain `dropDuplicates` on key-only columns would
    * never expire state.)
    */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-duplicate deduplication: project each document to its
    * 64-bit SimHash (a pure map-side expression — nothing about the
    * sketch needs batch semantics) and keep the first document per sketch
    * within the watermark horizon. Sketch equality = Hamming 0, which at
    * 64 bits means "same content modulo negligible noise" (see
    * [[graft.functions.SimHash64]]); banded Hamming>0 matching needs an
    * any-band OR that per-key streaming state cannot express — route
    * those through the batch [[graft.ops.Dedup.simhash64Pairs]] on the
    * deduped stream's sink instead.
    *
    * State is O(distinct sketches per horizon), expired by the watermark —
    * the same bound as [[dedupStream]].
    */
  def nearDupDedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame =
    docs.withColumn("__sh", graft.ops.Dedup.simhash64(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sh")
      .drop("__sh")

  /** Stream-stream interval join — the streaming form of
    * [[graft.ops.RangeJoin]]'s click→purchase attribution: each click
    * joins the purchases of the same user landing in
    * [click, click + `windowMinutes`]. Both sides carry watermarks and
    * the join condition bounds event time in BOTH directions, which is
    * what lets Spark expire join state: a click older than
    * watermark − window can never match a future purchase and is dropped
    * from the buffer, so state is O(events per horizon), not O(stream).
    *
    * Same column contract as the batch range join (epoch-millis output),
    * so stream and batch results are comparable row-for-row; batch runs
    * of this exact function ignore the watermarks and produce the join
    * directly.
    */
  def intervalJoinStream(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 10, watermark: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
    val p = purchases.select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", watermark)
    c.join(p,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("ts") &&
          col("p_ts") <= col("ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("event_id"), col("user_id"), col("purchase_id"),
        round(col("value"), 2).as("p_value"))
  }

  // --- streaming sessionization (stateful) --------------------------------

  final case class SessionEvent(user_id: Long, ts_ms: Long)
  final case class SessionState(start_ms: Long, end_ms: Long, n_events: Long)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long, duration_ms: Long)

  /** Streaming sessionization with explicit state:
    * `flatMapGroupsWithState` keyed by user, event-time timeout at
    * gap past the last seen event. Events inside the gap extend the
    * session; a gap wider than `gapMinutes` WITHIN a trigger closes the
    * earlier session immediately (in-batch split — rows are sorted by
    * event time inside the group, the batch window's exact total
    * order), and the final open session emits on event-time timeout
    * once the watermark passes last+gap.
    *
    * ORDERING PRECONDITION: batch-identical output requires triggers to
    * arrive in event-time order (what [[fileReplay]] guarantees). The
    * in-batch split is eager — once a gap-spanning session is emitted it
    * cannot be retracted (Append mode), so an out-of-order event landing
    * in a LATER trigger, even inside the watermark, starts a second
    * session where the batch plan would have merged one. Generic
    * unordered callers who need watermark-safe merging should buffer to
    * the watermark horizon before splitting; callers past the watermark
    * get the standard drop semantics (asserted in StreamingSpec's
    * late-data case): the watermark filter discards the row before it
    * reaches state, so emitted history never changes. With in-order
    * arrival the emitted sessions are row-identical to
    * [[sessionizeBatch]] — pinned by the driver-visible
    * `sessionize_rocksdb` oracle query.
    */
  def sessionizeStream(events: Dataset[SessionEvent],
      gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def update(userId: Long, rows: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(
          Session(userId, s.start_ms, s.end_ms, s.n_events, s.end_ms - s.start_ms))
      } else {
        val out = Seq.newBuilder[Session]
        var cur = state.getOption
        rows.toSeq.sortBy(_.ts_ms).foreach { e =>
          cur match {
            case Some(s) if e.ts_ms - s.end_ms <= gapMs =>
              cur = Some(SessionState(math.min(s.start_ms, e.ts_ms),
                math.max(s.end_ms, e.ts_ms), s.n_events + 1))
            case Some(s) =>
              out += Session(userId, s.start_ms, s.end_ms, s.n_events,
                s.end_ms - s.start_ms)
              cur = Some(SessionState(e.ts_ms, e.ts_ms, 1L))
            case None =>
              cur = Some(SessionState(e.ts_ms, e.ts_ms, 1L))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.end_ms + gapMs)
        }
        out.result().iterator
      }
    }

    events
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", s"$gapMinutes minutes")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Drives [[sessionizeStream]] over a batch `events` DataFrame through a
    * REAL incremental streaming execution — a parquet file SOURCE replayed
    * as event-time-ordered micro-batches (`maxFilesPerTrigger = 1` under
    * `Trigger.AvailableNow`), watermark advancement, event-time timeouts,
    * a parquet SINK, and whatever state-store provider the session has
    * selected (see [[StateStores.useRocksDB]]) — then returns the emitted
    * sessions with batch-compatible `session_id` numbering, so the result
    * is row-identical to [[sessionizeBatch]] and shares its oracle.
    *
    * Everything data-sized stays distributed: the chunk files are written
    * by Spark jobs (one per event-time slice, so the replay's arrival
    * order is the stream's event order), the stream reads them as files,
    * and sessions land in a parquet sink — the driver only handles the
    * min/max timestamp scalars and the two one-row sentinel appends. The
    * far-future sentinel user advances the watermark past every real
    * session's end+gap (first sentinel batch) and fires the resulting
    * timeouts (second), flushing each user's final open session; sentinel
    * rows are filtered from the returned frame.
    *
    * @param requireRocksDB assert the finished query reported rocksdb*
    *   state-store metrics — proof the provider actually backed the
    *   state, not merely that a conf was set
    */
  def sessionizeReplay(events: DataFrame, gapMinutes: Int = 30,
      chunks: Int = 4, requireRocksDB: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(col("user_id"),
      graft.ops.EventTime.ms(col("ts")).as("ts_ms"))
    val maxMs = ev.agg(max("ts_ms")).head.getLong(0)
    // ONE sentinel advances the watermark past every real end+gap;
    // AvailableNow's closing no-data micro-batch then fires the
    // resulting event-time timeouts (timeouts use the current batch's
    // watermark), flushing each user's final open session — a second
    // flush batch would only add a commit. Filtered out below.
    val flushMs = graft.ops.EventTime.minutesMs(gapMinutes + 60L)
    val sentinels = Seq(
      Seq((-1L, maxMs + flushMs)).toDF("user_id", "ts_ms"))
    val sessions = fileReplay(ev, "ts_ms", chunks, sentinels,
      requireRocksDB)(df => sessionizeStream(df.as[SessionEvent], gapMinutes))
    val byUser = Window.partitionBy("user_id").orderBy("start_ms")
    sessions
      .filter(col("user_id") =!= -1L)
      .withColumn("session_id", row_number().over(byUser).cast("bigint"))
      .select("user_id", "session_id", "n_events", "start_ms", "end_ms",
        "duration_ms")
  }

  /** Generic file-source replay harness: writes `input` as `chunks`
    * half-open `orderCol`-range slices (one file per slice in the given
    * `format` — parquet by default, or any registered FileFormat, e.g.
    * the custom splittable Avro source — named
    * `slice-0000N.<format>` in slice order — the file source orders
    * pending files by (modification time, path), and the zero-padded
    * monotone names make the PATH tie-break resolve to slice order even
    * when a coarse-granularity filesystem hands several slices the same
    * mtime — so each slice becomes one micro-batch and the stream sees
    * rows in `orderCol` order, no late data), optionally appends
    * `extras` frames as further ordered batches (sentinels), runs
    * `xform`'s streaming Dataset to a parquet sink under
    * `Trigger.AvailableNow` with `maxFilesPerTrigger = 1`, and returns
    * the sink contents. Rows with equal `orderCol` values always share
    * a slice, so a within-batch sort in the stateful operator
    * reproduces the batch total order exactly.
    *
    * Late-data accounting is explicit: by default the harness asserts
    * ZERO rows were dropped by the watermark (`expectLateDropped =
    * Some(0)`) — in-order slices must never go late, and a violation is
    * a harness bug, not noise. Callers deliberately replaying
    * out-of-order slices pass the exact expected drop count; the
    * dominant production streaming failure mode (late arrivals past the
    * watermark) is then a gated, countable outcome.
    *
    * Everything data-sized stays distributed — slice writes are Spark
    * jobs, the stream reads files, results land in parquet; the driver
    * handles only the min/max range scalars. The returned frame reads
    * the (result-sized) sink lazily; the replay's temp directory —
    * sink + checkpoint — is deleted by a JVM shutdown hook, so it never
    * outlives the process but costs no per-replay materialization job.
    */
  /** Stage `input` into `chunks` monotone slice files under `src` in
    * ONE distributed write — each slice is cut by EXACT integer
    * arithmetic (`(v − lo) DIV width`, bit-identical to the per-slice
    * range filters it replaces) and lands as one task's single part
    * file, renamed to the `slice-%05d` name the source's (mtime, path)
    * ordering needs. The previous form ran `chunks` sequential
    * filter + coalesce(1) jobs — ~1 s of every replay's fixed cost at
    * sf0.1, all driver-serialized; this is one job whose tasks run in
    * parallel. Row order WITHIN a slice is whatever the shuffle
    * delivers — as unordered as a real source's arrival within a
    * trigger, which the replayed operators must not depend on (the
    * oracle gate would catch it). An empty slice produces no file (and
    * so no empty trigger); data slices are near-uniform by
    * construction, and row conservation is asserted downstream either
    * way.
    */
  /** Session-scoped cache of staged slice corpora:
    * `(canonical input plan, orderCol, chunks, format)` →
    * `(srcDir, lo, width, rowCount)`. The staged slices are IMMUTABLE
    * derived input data — the same standing as the source parquet
    * itself — so re-deriving them on every replay of the same input is
    * pure fixed cost (~0.9 s/replay at sf0.1: the min/max/count pass +
    * the staged write). Extras-bearing corpora cache too: extras are
    * baked into the corpus at build time and their plans' semantic
    * hashes are part of the cache key, so the cached corpus stays
    * immutable and correctly keyed. Only stagedCorpus's scratchTmp
    * path is uncached.
    * Inputs must be deterministic plans (no rand()) — true of every
    * registered replay; the key is the ANALYZED plan's semantic hash,
    * which embeds the source paths, so different SF dirs never
    * collide. The cache root lives outside the per-replay scratch tree
    * (which is still deleted per run) and is removed by a JVM shutdown
    * hook.
    */
  private val sliceCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long, Long)]()

  private lazy val sliceCacheRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_slice_cache_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      try {
        val walked = java.nio.file.Files.walk(root)
        try walked.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walked.close()
      } catch { case _: Throwable => () }
    }))
    root
  }

  /** State-partition count for a replay: the caller's explicit pin when
    * > 0, otherwise scaled to rows per micro-batch. The round-10
    * constant (2) was right at sf0.1 — ~10⁴-row batches, where per-batch
    * state-store open/commit cost dominates and fewer stores is strictly
    * faster — but throttled sf10's 5M-row batches (round-11 BASELINE.md
    * ratio table pinned it as a small-SF knob). The right count is a
    * function of batch VOLUME: one state partition per ~500k rows per
    * batch, clamped to [2, session parallelism]. On a real cluster the
    * same rule holds with cluster cores as the cap.
    */
  private def autoStatePartitions(spark: SparkSession, totalRows: Long,
      batches: Int): Int = {
    val perBatch = totalRows / math.max(1, batches)
    math.min(math.max(2L, perBatch / 500000L + 1L),
      spark.sparkContext.defaultParallelism.toLong).toInt
  }

  /** Stage-or-reuse: returns `(srcDir, lo, width, rowCount)` for the
    * sliced corpus. When `scratchTmp` is None the corpus is cacheable:
    * it lands under [[sliceCacheRoot]] and is memoized in
    * [[sliceCache]]; otherwise it is staged under the caller's scratch
    * tree (deleted with it) and never shared.
    */
  private def stagedCorpus(input: DataFrame, orderCol: String, chunks: Int,
      format: String, scratchTmp: Option[String],
      tag: String = ""): (String, Long, Long, Long) = {
    def build(): (String, Long, Long, Long) = {
      val mm = input.agg(min(col(orderCol)).cast("long"),
        max(col(orderCol)).cast("long"), count(lit(1))).head
      require(mm.getLong(2) > 0L, "replay: empty input")
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val width = math.max(1L, (hi - lo) / chunks + 1L)
      val home = scratchTmp.getOrElse(java.nio.file.Files
        .createTempDirectory(sliceCacheRoot, "corpus_").toString)
      val src = s"$home/src$tag"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      stageSlices(input, orderCol, lo, width, chunks, home, src, format, tag)
      (src, lo, width, mm.getLong(2))
    }
    if (scratchTmp.nonEmpty) build()
    else {
      val key = Seq(
        input.queryExecution.analyzed.semanticHash(),
        input.schema.toDDL, orderCol, chunks, format, tag).mkString("|")
      sliceCache.computeIfAbsent(key, _ => build())
    }
  }

  private def stageSlices(input: DataFrame, orderCol: String, lo: Long,
      width: Long, chunks: Int, tmp: String, src: String,
      format: String = "parquet", tag: String = ""): Unit = {
    import scala.jdk.CollectionConverters._
    val stage = s"$tmp/stage$tag"
    input
      .withColumn("__slice", expr(
        s"CAST((CAST(`$orderCol` AS BIGINT) - ${lo}L) DIV ${width}L AS INT)"))
      .repartition(col("__slice"))
      .write.partitionBy("__slice").format(format).save(stage)
    // The one-job write's tasks finish in ARBITRARY order, so the part
    // files' mtimes do NOT increase with slice number — and the file
    // source admits files in (mtime, path) order. Small SFs masked this
    // through ms-granularity mtime ties (path tie-break rescued the
    // order); at sf10 the halves processed REVERSED, batch 1's watermark
    // jumped to max−horizon and every earlier slice went late (caught by
    // the sf10 gate: sessionize's timeout-before-watermark throw).
    // Stamp each slice with an explicitly monotone mtime; extras are
    // written afterwards with real (later) clock mtimes.
    val t0 = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - chunks - 1000L)
    (0 until chunks).foreach { r =>
      val dir = java.nio.file.Paths.get(stage, s"__slice=$r")
      if (java.nio.file.Files.isDirectory(dir)) {
        val parts = java.nio.file.Files.list(dir).iterator.asScala
          .filter(_.getFileName.toString.matches(s"part-.*\\.$format"))
          .toList
        require(parts.size == 1,
          s"stageSlices: slice $r has ${parts.size} part files — " +
            "same-valued __slice rows must hash to one shuffle partition")
        val dest = java.nio.file.Paths.get(src, f"slice-$r%05d.$format")
        java.nio.file.Files.move(parts.head, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(
            t0.toMillis + r))
      }
    }
  }

  def fileReplay(input: DataFrame, orderCol: String, chunks: Int,
      extras: Seq[DataFrame] = Nil, requireRocksDB: Boolean = false,
      statePartitions: Int = 0, format: String = "parquet",
      expectLateDropped: Option[(Long, Long)] = Some((0L, 0L)))
      (xform: DataFrame => Dataset[_]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = input.sparkSession
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay_")
    val (sink, chk) = (s"$tmp/sink", s"$tmp/chk")
    // The full source corpus (data slices + extras) is IMMUTABLE given
    // (input plan, extras plans, orderCol, chunks, format) — extras are
    // deterministic frames (sentinels/late slices derived from the
    // input), so they key and cache like the slices themselves.
    def build(): (String, Long, Long, Long) = {
      val home = java.nio.file.Files
        .createTempDirectory(sliceCacheRoot, "corpus_").toString
      val src = s"$home/src"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      val (_, _, _, nRows) =
        stagedCorpus(input, orderCol, chunks, format, Some(home))
      var slice = chunks
      extras.foreach { df =>
        // Extras (sentinels, late slices) stay per-frame writes: they
        // are tiny, and their mtimes must follow the data slices'.
        // Stage as a normal Spark write, then move the single part file
        // to the monotone slice name the (mtime, path) ordering needs.
        val stage = s"$home/stage-$slice"
        df.coalesce(1).write.format(format).save(stage)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
          .iterator.asScala
          .find(_.getFileName.toString.matches(s"part-.*\\.$format"))
          .getOrElse(sys.error(s"fileReplay: no part file under $stage"))
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(src, f"slice-$slice%05d.$format"))
        slice += 1
      }
      // Row-conservation target: every input row must enter exactly one
      // micro-batch (a dropped slice or a row silently filtered as late
      // would otherwise surface only as a wrong downstream answer).
      (src, 0L, 0L, nRows + extras.map(_.count()).sum)
    }
    val key = Seq("replay",
      input.queryExecution.analyzed.semanticHash(), input.schema.toDDL,
      extras.map(_.queryExecution.analyzed.semanticHash()).mkString(","),
      orderCol, chunks, format).mkString("|")
    val (src, _, _, expectedRows) =
      sliceCache.computeIfAbsent(key, _ => build())
    val sp =
      if (statePartitions > 0) statePartitions
      else autoStatePartitions(spark, expectedRows, chunks + extras.size)
    val stream = spark.readStream
      .schema(input.schema)
      .option("maxFilesPerTrigger", "1")
      .format(format).load(src)
    // State-partition count is fixed per streaming query at start; the
    // replayed operators keep O(active keys) state, so a small count
    // keeps the per-micro-batch state-store open/commit cost
    // proportionate without changing any answer (restored below).
    // Restored only AFTER awaitTermination: the state-partition count is
    // latched from the session conf during the FIRST micro-batch's
    // asynchronous planning, so restoring right after start() races it
    // and the pin could silently not apply (answers unaffected — the
    // count is a state-store sizing knob — but the replay would pay 32
    // store commits per batch instead of statePartitions).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
    val q =
      try xform(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      catch { case e: Throwable =>
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        throw e
      }
    try {
      q.awaitTermination()
      capture(q)
      if (requireRocksDB) {
        val metricKeys = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq)
          .flatMap(_.customMetrics.keySet.asScala)
        require(metricKeys.exists(_.startsWith("rocksdb")),
          s"fileReplay: no rocksdb state-store metrics in $metricKeys")
      }
      // Row conservation: the micro-batches together must have consumed
      // every slice row — catches a dropped slice file or a row the
      // watermark filtered as late, which would otherwise read as a
      // subtly wrong (not failed) downstream answer. recentProgress
      // retains far more than this harness's handful of batches.
      val consumed = q.recentProgress.map(_.numInputRows).sum
      require(consumed == expectedRows,
        s"fileReplay: micro-batches consumed $consumed rows, " +
          s"expected $expectedRows — a slice was lost (late rows still " +
          "COUNT as consumed: admission precedes the watermark filter)")
      // Late-data accounting: when the caller delivers rows it KNOWS
      // arrive past the watermark, the drop must be visible and bounded
      // — Σ numRowsDroppedByWatermark over the state operators counts
      // what the watermark filter discarded before state. The filter
      // sits AFTER the map-side partial aggregate, so for aggregations
      // the metric counts partial rows: same-cell late rows colocated
      // in one input partition merge before the filter. Hence the
      // caller passes an inclusive (lo, hi) = (distinct late cells,
      // raw late rows) band; the default (0, 0) makes every in-order
      // replay assert NOTHING went late (a violation is a harness bug,
      // not noise). The band proves the drop HAPPENED at the right
      // magnitude; a late row admitted into state flips its window's
      // aggregate against the oracle — the two gates together are
      // tight.
      expectLateDropped.foreach { case (lo, hiB) =>
        val dropped = q.recentProgress.toSeq
          .flatMap(_.stateOperators.toSeq)
          .map(_.numRowsDroppedByWatermark).sum
        require(dropped >= lo && dropped <= hiB,
          s"fileReplay: watermark dropped $dropped rows, " +
            s"expected within [$lo, $hiB]")
      }
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    // Return the sink LAZILY (its parquet is result-sized) and defer the
    // scratch-tree delete to the JVM shutdown hook — the previous eager
    // localCheckpoint(true) + immediate walk-delete pinned the result
    // into the block manager with one extra job per replay (~0.15 s of
    // pure fixed cost × 12 replays × 3 bench passes). The tree still
    // never outlives the process; its bulk is the checkpoint's small
    // state deltas (slices live in the shared sliceCache, not here).
    deferredScratchHook
    deferredScratch.add(tmp)
    spark.read.parquet(sink)
  }

  /** Replay scratch trees awaiting the shutdown-hook delete. */
  private val deferredScratch =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val deferredScratchHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      deferredScratch.asScala.foreach { tmp =>
        try {
          val walked = java.nio.file.Files.walk(tmp)
          try walked
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
          finally walked.close()
        } catch { case _: Throwable => () }
      }
    }))
  }

  /** Per-batch cost accounting for [[changelogReplay]]: how many of the
    * table's partitions the batch's merge touched (read + rewrote) and
    * how many parquet data files the rewrite produced. The spec's
    * O(touched partitions) claim is asserted on these — bytes/files
    * written must scale with the batch's key spread, not the table.
    */
  final case class CdcBatchStats(touchedBuckets: Int, totalBuckets: Int,
      filesWritten: Int)

  /** Streaming CDC apply: replays a Debezium-style changelog as
    * `orderCol`-ordered micro-batches and MERGES each batch into a
    * stored snapshot via `foreachBatch` +
    * [[graft.ops.KeyDiff.applyChangeset]] — the lakehouse upsert
    * pattern. Merge order is guaranteed by the seq-ordered slices, and
    * within a batch by applyChangeset's max_by(seq), so incremental
    * application across any batch boundary equals the one-shot batch
    * merge — the property the driver oracle pins.
    *
    * WRITE COST IS O(TOUCHED PARTITIONS), NOT O(TABLE): the snapshot
    * is stored hash-bucketed on the merge key
    * (`__bucket = pmod(hash(keys), buckets)`, a Hive-style partition
    * column), each batch computes the DISTINCT buckets its changed
    * keys land in (a changeset-sized aggregate, ≤ `buckets` scalars on
    * the driver), reads ONLY those partitions back (partition pruning
    * on the bucket dirs), merges, writes the merged partitions to a
    * staging tree, and swaps exactly the touched partition directories
    * into the table — untouched partitions are never read, never
    * rewritten, never moved. A naive versioned rewrite pays a full
    * table write per micro-batch (O(table) — the scale-killer at
    * 100 TB where each batch touches a sliver); this is the
    * `partitionOverwriteMode=dynamic` / MERGE INTO shape: per-batch
    * cost tracks BATCH size. The swap itself is O(touched) driver-side
    * directory renames — the same metadata-only commit a table
    * format's manifest update performs. The merge is idempotent
    * (keyed replace, not increment), so a replayed batch after a
    * restart converges to the same table.
    *
    * A bucket whose rows are ALL deleted by a batch yields no staging
    * dir but still has its table dir removed — stale rows cannot
    * survive an empty merge result.
    *
    * Everything data-sized stays distributed: slices, partition reads,
    * and merges are Spark jobs; the driver handles bucket id scalars
    * and directory renames. Scratch tree is pinned and deleted as in
    * [[fileReplay]]. Per-batch [[CdcBatchStats]] are appended to
    * `statsOut` when provided (spec hook).
    */
  def changelogReplay(snapshot: DataFrame, changes: DataFrame,
      orderCol: String, chunks: Int, keys: Seq[String],
      opCol: String = "op", seqCol: String = "seq", buckets: Int = 16,
      statsOut: Option[scala.collection.mutable.Buffer[CdcBatchStats]] = None,
      bucketExpr: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = snapshot.sparkSession
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdc_")
    // The changelog slices are immutable — cached like fileReplay's
    // corpus. The TABLE (seeded + merged below) is per-run scratch.
    val (src, _, _, nChanges) =
      stagedCorpus(changes, orderCol, chunks, "parquet", None)
    // Partitioning function: hash-of-key by default (uniform spread —
    // right when any key is equally likely to change); callers whose
    // changesets are KEY-LOCAL (CDC skews to recent keys in practice)
    // pass a range/date expression instead so a batch's touched set is
    // a few contiguous partitions rather than all of them. Ids may
    // exceed `buckets` (e.g. inserts beyond the seeded range) — new
    // partition dirs simply appear; `buckets` is only the default
    // hash modulus and the stats denominator.
    val bucketOf = bucketExpr
      .getOrElse(pmod(hash(keys.map(col): _*), lit(buckets)))
      .cast("long")
    val table = s"$tmp/table"
    snapshot.withColumn("__bucket", bucketOf)
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").parquet(table)
    // Explicit read schema (data cols by name + the partition col):
    // inference would fail on a table a batch legitimately emptied.
    val readSchema = snapshot.schema
      .add("__bucket", org.apache.spark.sql.types.LongType)
    var batchNo = 0
    val q = spark.readStream.schema(changes.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Two actions consume the batch (bucket distinct + merge write):
        // persist so the slice is read once per trigger — an unpersisted
        // batch re-executes per action, re-reading the source (and
        // double-counting numInputRows against row conservation).
        batch.persist()
        // Changed buckets: a changeset-sized distinct, few scalar ids.
        val touched = batch.select(bucketOf.as("__b"))
          .distinct().collect().map(_.getLong(0)).sorted
        // Read ONLY the touched partitions (pruned bucket dirs), merge
        // the batch, stage the merged partitions (repartitioned by
        // bucket so each partition dir lands as one file).
        val cur = spark.read.schema(readSchema).parquet(table)
          .filter(col("__bucket").isin(touched.map(java.lang.Long.valueOf): _*))
          .drop("__bucket")
        val staging = s"$tmp/merge-$batchNo"
        graft.ops.KeyDiff
          .applyChangeset(cur, batch, keys, opCol, seqCol)
          .withColumn("__bucket", bucketOf)
          .repartition(col("__bucket"))
          .write.partitionBy("__bucket").parquet(staging)
        // Swap touched partition dirs into the table — O(touched)
        // metadata renames, the manifest-update analogue.
        var files = 0
        touched.foreach { b =>
          val dst = java.nio.file.Paths.get(table, s"__bucket=$b")
          if (java.nio.file.Files.exists(dst)) {
            val w = java.nio.file.Files.walk(dst)
            try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
            finally w.close()
          }
          val srcDir = java.nio.file.Paths.get(staging, s"__bucket=$b")
          if (java.nio.file.Files.exists(srcDir)) {
            val l = java.nio.file.Files.list(srcDir)
            try files += l.iterator.asScala.count(
              _.getFileName.toString.endsWith(".parquet"))
            finally l.close()
            java.nio.file.Files.move(srcDir, dst)
          }
        }
        statsOut.foreach(_ +=
          CdcBatchStats(touched.length, buckets, files))
        batch.unpersist()
        batchNo += 1
        ()
      }
      .option("checkpointLocation", s"$tmp/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      capture(q)
      val consumed = q.recentProgress.map(_.numInputRows).sum
      require(consumed == nChanges,
        s"changelogReplay: micro-batches consumed $consumed rows, " +
          s"expected $nChanges")
    } finally q.stop()
    // Lazy return + shutdown-hook delete — same fixed-cost trim as
    // fileReplay's readback.
    deferredScratchHook
    deferredScratch.add(tmp)
    spark.read.schema(readSchema).parquet(table).drop("__bucket")
  }

  /** Two-source file replay for STREAM-STREAM operators: both inputs
    * are sliced by the SAME global `orderCol` ranges (so slice r of A
    * and slice r of B cover one event-time band and the two watermarks
    * advance in lockstep), each written under monotone zero-padded
    * names in its own source directory — empty slices are written too,
    * keeping the per-source file sequences aligned. `xform` builds the
    * two-stream query (e.g. a watermarked interval join); the sink is
    * read back lazily and the scratch tree deleted at JVM shutdown, as
    * in [[fileReplay]]. Row conservation holds across BOTH sources:
    * Σ numInputRows must equal |a| + |b|.
    *
    * Inner stream-stream joins emit eagerly on match (watermarks gate
    * STATE CLEANUP, not inner-join emission), so no sentinel batches
    * are needed to flush results.
    */
  def fileReplay2(a: DataFrame, b: DataFrame, orderCol: String,
      chunks: Int, statePartitions: Int = 0)
      (xform: (DataFrame, DataFrame) => Dataset[_]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val spark = a.sparkSession
    val tmp = java.nio.file.Files.createTempDirectory("graft_replay2_")
    val (sink, chk) = (s"$tmp/sink", s"$tmp/chk")
    // The two-source corpus shares ONE (lo, width) so the paired slices
    // stay time-aligned across sources; cached like the single-source
    // corpus (no extras path exists here).
    def build(): (String, Long, Long, Long) = {
      def range(df: DataFrame) = df.agg(min(col(orderCol)).cast("long"),
        max(col(orderCol)).cast("long"), count(lit(1))).head
      val (ra, rb) = (range(a), range(b))
      require(ra.getLong(2) > 0L && rb.getLong(2) > 0L,
        "fileReplay2: both inputs must be non-empty")
      val lo = math.min(ra.getLong(0), rb.getLong(0))
      val hi = math.max(ra.getLong(1), rb.getLong(1))
      val width = math.max(1L, (hi - lo) / chunks + 1L)
      val home = java.nio.file.Files
        .createTempDirectory(sliceCacheRoot, "corpus2_").toString
      Seq(s"$home/srcA", s"$home/srcB").foreach(d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
      stageSlices(a, orderCol, lo, width, chunks, home, s"$home/srcA",
        tag = "-a")
      stageSlices(b, orderCol, lo, width, chunks, home, s"$home/srcB",
        tag = "-b")
      (home, lo, width, ra.getLong(2) + rb.getLong(2))
    }
    val key = Seq("pair", a.queryExecution.analyzed.semanticHash(),
      b.queryExecution.analyzed.semanticHash(), a.schema.toDDL,
      b.schema.toDDL, orderCol, chunks).mkString("|")
    val (home, _, _, expectedRows) =
      sliceCache.computeIfAbsent(key, _ => build())
    val (srcA, srcB) = (s"$home/srcA", s"$home/srcB")
    def stream(src: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
    // Same restore-after-termination discipline as [[fileReplay]]: the
    // first micro-batch's async planning latches the session conf.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val sp =
      if (statePartitions > 0) statePartitions
      else autoStatePartitions(spark, expectedRows, chunks)
    spark.conf.set("spark.sql.shuffle.partitions", sp.toString)
    val q =
      try xform(stream(srcA, a.schema), stream(srcB, b.schema))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", chk)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      catch { case e: Throwable =>
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        throw e
      }
    try {
      q.awaitTermination()
      capture(q)
      val consumed = q.recentProgress.map(_.numInputRows).sum
      require(consumed == expectedRows,
        s"fileReplay2: micro-batches consumed $consumed rows, " +
          s"expected $expectedRows — a slice was lost or rows went late")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    // Lazy return + shutdown-hook delete — same fixed-cost trim as
    // fileReplay's readback.
    deferredScratchHook
    deferredScratch.add(tmp)
    spark.read.parquet(sink)
  }

  /** Stream-static dimension enrichment: joins every micro-batch of a
    * streaming fact against a STATIC (batch) dimension. Structured
    * Streaming re-plans the static side per micro-batch, so on a real
    * cluster the dimension is re-read (picking up compacted files) and
    * re-broadcast each trigger; the stream side never shuffles and no
    * state is kept — the join is stateless map-side enrichment, the
    * 100 TB shape for "attach the user/nation/tenant row to each
    * event". An explicit `broadcast()` hint pins the strategy: without
    * it a statistics misestimate on the dim scan could demote the join
    * to a per-batch shuffle. Inner semantics (unmatched facts drop);
    * callers needing audit of unmatched keys should run
    * [[graft.ops.DataTests.referentialIntegrity]] on the same pair.
    */
  def enrichStream(stream: DataFrame, dim: DataFrame, streamKey: String,
      dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey))

  // --- streaming event transitions (stateful, bounded) --------------------

  final case class TransEvent(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  final case class LastEvent(ts_us: Long, event_id: Long, event_type: String)
  final case class Transition(user_id: Long, prev_type: String,
      next_type: String)

  /** Streaming first-order transitions — the online twin of
    * [[graft.ops.EventAnalytics.transitions]] (counts aggregate
    * downstream). State is ONE row per user (the last event seen), so
    * state size is bounded by the user population, not the stream
    * length. Event time is epoch MICROS — the full precision parquet
    * stores — so the (ts, event_id) tie-break matches a full-precision
    * batch window / oracle exactly (millis would merge sub-ms ties into
    * the event_id tie-break and could flip transition order). Within a
    * trigger the group's rows are sorted by (ts_us, event_id) — the
    * same total order as the batch window — and rows at or before the
    * stored last event (late beyond a trigger boundary) are dropped,
    * the standard watermark trade. At cluster scale add a
    * ProcessingTimeTimeout to expire churned users.
    */
  def transitionsStream(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._

    def update(userId: Long, rows: Iterator[TransEvent],
        state: GroupState[LastEvent]): Iterator[Transition] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var last = state.getOption
      val out = Seq.newBuilder[Transition]
      sorted.foreach { e =>
        val newer = last.forall(l =>
          e.ts_us > l.ts_us || (e.ts_us == l.ts_us && e.event_id > l.event_id))
        if (newer) {
          last.foreach(l => out += Transition(userId, l.event_type, e.event_type))
          last = Some(LastEvent(e.ts_us, e.event_id, e.event_type))
        }
      }
      last.foreach(state.update)
      out.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  final case class FunnelEvent(user_id: Long, ts_us: Long,
      event_type: String)
  final case class FunnelState(times: Seq[Long])
  final case class StageReached(user_id: Long, stage: Int, ts_us: Long)

  /** Streaming funnel progression — the online twin of
    * [[graft.ops.EventAnalytics.funnelTimes]]: emits `(user, stage,
    * time)` the moment a user's next funnel stage fills. State is the
    * user's filled stage-time prefix (≤ K longs per user — bounded by
    * the user population, like [[transitionsStream]]). Within a trigger
    * rows are sorted by (ts, event_type) — the batch fold's exact total
    * order, so stream output ≡ batch `funnelTimes` when ties don't
    * straddle a trigger boundary (the standard watermark trade; the
    * differential test pins it). Stages fill monotonically, so Append
    * mode is safe: a stage-reached row is never retracted.
    */
  def funnelStream(events: Dataset[FunnelEvent], stages: Seq[String],
      windowSec: Option[Long] = None): Dataset[StageReached] = {
    import events.sparkSession.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    val winUs = windowSec.map(_ * 1000000L)

    def update(userId: Long, rows: Iterator[FunnelEvent],
        state: GroupState[FunnelState]): Iterator[StageReached] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.event_type))
      var times = state.getOption.map(_.times.toVector).getOrElse(Vector.empty)
      val out = Seq.newBuilder[StageReached]
      sorted.foreach { e =>
        val i = times.length // next stage to fill, 0-based
        if (i < stages.length && e.event_type == stages(i)) {
          val fills = i == 0 || (e.ts_us > times(i - 1) &&
            winUs.forall(w => e.ts_us <= times(i - 1) + w))
          if (fills) {
            times = times :+ e.ts_us
            out += StageReached(userId, i + 1, e.ts_us)
          }
        }
      }
      if (times.nonEmpty) state.update(FunnelState(times))
      out.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }
}
