package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import Workloads.{median, seconds}

/** One benchmark run of one workload, from files on disk to checked results.
  *
  * Set-up makes the inputs (several times; the median counts), starts the
  * session, runs the cold operation and a warm-up. The measured phase then
  * repeats the operation for the given seconds, in whole rounds. Every
  * operation's result is checked outside its timed window. The last stdout
  * line is a JSON object with the metrics; `run.py` adds the units.
  *
  * Untraced runs attach nothing to the session. A traced run alternates
  * traced and untraced rounds (spans plus Spark's counters on the traced
  * ones, for the tracing overhead), then runs the workload's layer probes.
  */
object Main {

  final case class TracedOp(seconds: Double, counters: Map[String, Double],
      jobEnds: Seq[Long], endMs: Long)

  /** Input generations per run; set-up reports their median. */
  private val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(args("workload"), args)
    val seed = args("seed").toLong
    val budget = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new File(args("work"))
    val inputs = new File(work, "inputs")

    // --- set-up: inputs (median of several), session, cold op, warm-up ---
    val gen = (1 to SetupReps).map(_ => seconds(w.prepare(seed, inputs)))
    val genS = gen.map(_._1)
    val expected = manifest(gen.last._2, new File(inputs, "manifest.json"),
      args.get("corrupt_manifest"))
    val (sessionS, spark) = seconds {
      val b = SparkSession.builder().appName("perfbench")
      args("conf").split(";").foreach { kv =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val tr = new Tracer
    val ctx = new Ctx(spark, tr, work)
    var attempted = 0
    var failed = 0
    var next = 0
    def run(): Option[Double] = {
      val i = next
      next += 1
      attempted += 1
      try {
        val (s, check) = seconds(w.op(ctx, i, expected))
        check()
        Some(s)
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] ${w.name} op $i failed: $e")
        None
      }
    }
    /** One user-visible operation: a round of the workload's operations,
      * timed as their sum, and untimed if any of them failed.
      */
    def round(): Option[Double] = {
      val r = (1 to w.opsPerRound).map(_ => run())
      if (r.forall(_.isDefined)) Some(r.flatten.sum) else None
    }
    // Code generation happens only in the cold round: a traced run counts it there.
    val listeners = if (traced) Some(new SparkCounters(spark)) else None
    var coldCounters = Map.empty[String, Double]
    val (warmS, cold) = seconds {
      listeners.foreach(_.attach())
      val first = round()
      listeners.foreach { c => coldCounters = c.take()._1; c.detach() }
      while (next < args("warmup_ops").toInt) run()
      first
    }
    val setupS = median(genS) + sessionS + warmS
    println(f"# ${w.name} setup_s ${setupS}%.3f = inputs ${median(genS)}%.3f (median of ${genS.length}) " +
      f"+ session $sessionS%.3f + cold round and warm-up ($next ops) $warmS%.3f")
    val heapWarm = if (traced) 0.0 else heapAfterGc()

    // --- measured phase: whole rounds until the budget is spent ----------
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val t0 = System.nanoTime()
    def more(rounds: Int): Boolean =
      rounds < (if (traced) 2 else 1) || (System.nanoTime() - t0) / 1e9 < budget ||
        (traced && rounds % 2 == 1)
    if (!traced) {
      val ops = ArrayBuffer.empty[Double]
      var rounds = 0
      while (more(rounds)) {
        ops ++= round()
        rounds += 1
      }
      // failed operations are never timed; with none left there is no figure
      for (c <- cold if ops.nonEmpty) {
        tail(w.name, ops.toSeq)
        metrics ++= Seq("op_s" -> median(ops.toSeq), "cold_op_s" -> c,
          "setup_s" -> setupS, "heap_peak_mb" -> math.max(heapWarm, heapAfterGc()) / 1e6)
      }
    } else {
      val counters = listeners.get
      val on = ArrayBuffer.empty[TracedOp]
      val off = ArrayBuffer.empty[Double]
      var rounds = 0
      while (more(rounds)) {
        val traceRound = rounds % 2 == 0
        (1 to w.opsPerRound).foreach { _ =>
          if (traceRound) {
            counters.attach()
            counters.take()
            tr.on = true
            tr.op = next
            val r = run()
            val end = System.currentTimeMillis()
            tr.on = false
            val (c, ends) = counters.take()
            r.foreach(s => on += TracedOp(s, c, ends, end))
          } else {
            counters.detach()
            off ++= run()
          }
        }
        rounds += 1
      }
      counters.detach()
      if (on.nonEmpty && off.nonEmpty) {
        metrics("report.retained_mb") = retainedMb(spark)
        tr.on = true
        tr.op = -1
        metrics ++= w.probes(ctx)
        metrics ++= layerMetrics(w, tr, on.toSeq, ctx.cores)
        Seq("codegen_compile_s", "codegen_classes").foreach { k =>
          metrics(s"spark.$k") = coldCounters.getOrElse(k, 0.0) / w.opsPerRound
        }
        val overhead = median(on.map(_.seconds).toSeq) / median(off.toSeq)
        metrics("trace.overhead") = overhead
        metrics("trace.spans") = tr.count.toDouble
        val spans = new File(work, s"spans-seed$seed.jsonl")
        tr.write(spans)
        println(f"# ${w.name} tracing overhead: traced op_s / untraced op_s = $overhead%.3f " +
          s"(traced n=${on.length}, untraced n=${off.length})")
        println(s"# ${w.name} spans: ${spans.getPath} (${tr.count} spans)")
      }
    }
    spark.stop()

    val rows = if (w.inputRows > 0) s"${w.inputRows} rows, " else ""
    println(f"# ${w.name} seed $seed: inputs $rows${w.inputBytes / 1e6}%.2f MB")
    println(f"# ${w.name} failed_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted operations)")
    val vals = metrics.map { case (k, v) => k -> v.toString }
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":${Json.obj(vals)}}""")
  }

  /** Writes the expected results next to the inputs, corrupting one count
    * on request, and reads them back: checks see what is on disk.
    */
  private def manifest(expected: Map[String, Long], file: File, corrupt: Option[String]): Map[String, Long] = {
    val m = corrupt.fold(expected)(k => expected.updated(k, expected(k) + 1))
    java.nio.file.Files.write(file.toPath,
      Json.obj(m.toSeq.sorted.map { case (k, v) => k -> v.toString }).getBytes("UTF-8"))
    Json.longs(new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8"))
  }

  /** Heap still in use once it stops shrinking: full GCs with pauses between
    * them, so Spark's ContextCleaner can drop what each GC found unreachable.
    */
  private def heapAfterGc(): Double = {
    def used(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
    }
    var last = used()
    var now = { Thread.sleep(300); used() }
    var rounds = 1
    while (last - now > 1e6 && rounds < 5) {
      Thread.sleep(300)
      last = now
      now = used()
      rounds += 1
    }
    now
  }

  /** Bytes still held by persisted RDDs (cached or locally checkpointed)
    * after the measured operations, before any forced GC lets Spark's
    * ContextCleaner drop the ones no DataFrame references any more.
    */
  private def retainedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Median op time plus the highest percentile with at least 10 operations
    * beyond it.
    */
  private def tail(name: String, ops: Seq[Double]): Unit = {
    val s = ops.sorted
    val n = s.length
    println(f"# $name op_s median ${median(s)}%.4f s over $n warm operations: " +
      ops.map(v => f"$v%.3f").mkString(" "))
    if (n > 10) {
      val k = n - 10
      println(f"# $name op_s p${100.0 * k / n}%.1f = ${s(k - 1)}%.4f s ($n samples, 10 beyond it)")
    } else println(s"# $name op_s tail: fewer than 11 samples ($n)")
  }

  private val SparkKeys = Seq("plan_s", "jobs",
    "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "task_wait_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks")

  /** Per-layer figures from the traced operations: medians per operation. */
  private def layerMetrics(w: Workload, tr: Tracer, ops: Seq[TracedOp], cores: Int): Map[String, Double] = {
    def med(f: TracedOp => Double): Double = median(ops.map(f))
    val spark = SparkKeys.map(k => s"spark.$k" -> med(_.counters.getOrElse(k, 0.0))).toMap +
      ("spark.busy_frac" -> med(o => o.counters.getOrElse("task_run_s", 0.0) / (o.seconds * cores)))
    // span families recorded inside operations: venn calls, registry families
    val spans = Seq("ops.venn.removed" -> "venn.removed_s", "ops.venn.added" -> "venn.added_s",
      "ops.venn.intersection" -> "venn.intersection_s") ++
      w.spanFamilies.map(f => s"registry.$f" -> s"registry.${f}_s")
    val byName = spans.flatMap { case (span, metric) =>
      val per = tr.secondsByOp(span).filter(_._1 >= 0).values.toSeq
      if (per.isEmpty) None else Some(metric -> median(per))
    }.toMap
    val avro = w match {
      case p: AvroPair =>
        val read = med(_.counters.getOrElse("read_mb", 0.0))
        Map("avro.read_mb" -> read, "avro.read_amp" -> read * 1e6 / p.inputBytes)
      case _ => Map.empty[String, Double]
    }
    val report = w match {
      case _: KeyDiffFlat => Map(
        "report.jobs" -> med(_.counters.getOrElse("jobs", 0.0)),
        "report.dump_s" -> med(o =>
          if (o.jobEnds.isEmpty) 0.0 else (o.endMs - o.jobEnds.min) / 1e3))
      case _ => Map.empty[String, Double]
    }
    spark ++ byName ++ avro ++ report
  }
}
