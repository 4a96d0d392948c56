package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every main and spec builds its session
  * here, so the plans the oracle gate and PlanSpec check are the plans
  * Bench times. A caller states only what really differs for it: its
  * core count, a deployment master, or a spec's extra confs.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`: local threads == shuffle partitions. */
  def cpus(default: Int): Int = cpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  /** Parses a raw `SPARK_GRAFT_CPUS` value; unset gives `default`. A
    * non-integer or non-positive value fails naming the variable, rather
    * than surfacing as Spark's "Could not parse Master URL".
    */
  def cpus(raw: Option[String], default: Int): Int = raw.fold(default) { v =>
    v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** `local[cores]` (or `master`, for a deployment) with `cores` shuffle
    * partitions, UTC, no UI, plus the shared confs below; `conf` entries
    * are applied last.
    */
  def apply(cores: Int, master: Option[String] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Default 100-entry codegen cache thrashes across the registry (~3
      // codegen units per query, warmup + timed runs): by the time a
      // query is timed its warmup-compiled classes are evicted and
      // Janino recompiles them inside the timed window. Size it to hold
      // the whole suite.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // The sf0.1 parquet files are single-digit MB, so the default 4 MB
      // file-open cost makes every scan 1-2 partitions and runs map-heavy
      // queries on 1-2 cores. Price opens cheaper so small files still
      // split to the session parallelism — a test-data artifact knob: at
      // production scale files dwarf 4 MB and this setting is a no-op.
      .config("spark.sql.files.openCostInBytes", "131072")
      // No 64 KB adaptive.coalescePartitions.minPartitionSize floor: a
      // same-host A/B showed it a suite-wide wash (189.82 s on vs
      // 189.75 s off) that only traded one query family against another
      // (tools/gates/bench_sf01_r16_base_floor{ON,OFF}_runs.json).
    conf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
  }
}
