package graft

import java.io.PrintWriter

import org.apache.spark.sql.execution.FormattedMode

/** Regenerates PLANS.md: formatted physical plans of EVERY query in
  * `SparkEntry.queries` at sf0.001 (plan shape is sf-independent; the
  * tiny SF keeps this fast). The streaming replays EXECUTE their
  * incremental run when the query is constructed — their returned frame
  * is the pinned sink read — so for those the dump is the CAPTURED
  * final-micro-batch `IncrementalExecution` plan (state restore/save
  * operators included; same operator shape as every post-first batch),
  * recorded by the replay harness via `EventStream.capturePlans`. The
  * behavioral gates on the same plans (BroadcastHashJoin in
  * stream_enrich, rocksdb state-store metrics, row conservation,
  * late-drop bands) live in StreamingSpec and the harness requires.
  *
  * Usage: `sbt "runMain graft.PlanDump"`.
  */
object PlanDump {

  /** Queries whose plan is the captured streaming incremental plan. */
  val streamingReplays: Set[String] = Set(
    "hourly_stream", "hourly_stream_late", "avro_stream",
    "distinct_stream", "cdc_stream", "sessionize_rocksdb",
    "transitions_stream", "funnel_stream", "interval_stream",
    "neardup_stream", "stream_enrich")

  /** name → why no static plan is dumped. */
  val excluded: Map[String, String] = Map(
    "jsonl_ingest" -> ("writes + re-reads a JSONL scratch tree when " +
      "constructed; the interesting property is the byte-fidelity " +
      "fingerprint oracle, not the rollup plan"))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val dir = "/root/testdata/sf0.001"
    val spark = Sessions(4)
    spark.sparkContext.setLogLevel("ERROR")
    val w = new PrintWriter(out, "UTF-8")
    w.println("# PLANS — formatted physical plans of all queries (sf-independent)")
    w.println()
    w.println("Generated by `sbt \"runMain graft.PlanDump\"`; regenerate whenever a")
    w.println("plan changes. What to look for per query is annotated in")
    w.println("PlanSpec.scala, which asserts the load-bearing properties of the")
    w.println("headline plans in CI. Every `SparkEntry.queries` entry is present")
    w.println("or listed below with the reason it has no static plan.")
    w.println()
    w.println("## Excluded (no static plan)")
    w.println()
    excluded.toSeq.sortBy(_._1).foreach { case (n, why) =>
      w.println(s"- `$n` — $why")
    }
    graft.streaming.EventStream.capturePlans = true
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => excluded.contains(n) }
      .foreach { case (name, fn) =>
        graft.streaming.EventStream.capturedPlans.clear()
        val df = fn(spark, dir)
        w.println()
        if (streamingReplays.contains(name)) {
          val plans = graft.streaming.EventStream.capturedPlans.toList
          w.println(s"## $name — streaming incremental plan " +
            "(final executed micro-batch)")
          w.println()
          require(plans.nonEmpty, s"$name: no streaming plan captured")
          plans.foreach { p =>
            w.println("```")
            w.println(p.trim)
            w.println("```")
          }
        } else {
          w.println(s"## $name")
          w.println()
          w.println("```")
          w.println(df.queryExecution.explainString(FormattedMode).trim)
          w.println("```")
        }
      }
    graft.streaming.EventStream.capturePlans = false
    w.close()
    spark.stop()
  }
}
