package graft.tools

import java.io.PrintWriter

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` of named SparkEntry queries to
  * `<outDir>/<query>_<suffix>.txt` — the per-round optimization
  * evidence files (plans/rNN/<query>_before.txt / _after.txt).
  *
  * Usage: `sbt "runMain graft.tools.PlanSnap <outDir> <suffix> q1,q2,…"`
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01),
  *      SPARK_GRAFT_CPUS (default 32 — match the bench session so the
  *      plan's partitioning matches what the bench executes).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Sessions(graft.Sessions.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val qs = graft.SparkEntry.queries
    wanted.foreach { name =>
      qs.get(name) match {
        case None => System.err.println(s"[plansnap] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val w = new PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
            try {
              w.println(s"# $name ($suffix) — explain(formatted) at $sfDir")
              w.println(df.queryExecution.explainString(FormattedMode).trim)
            } finally w.close()
            println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[plansnap] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
