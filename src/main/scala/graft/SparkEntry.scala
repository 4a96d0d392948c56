package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.KeyDiff
import graft.registry.{Analytics, Diff, Embed, Events, Query, Stats, Text}
import graft.registry.Shared.{ordersNew, ordersOld}

/** Driver contract — the query inventory (one entry per operator from
  * SURVEY.md §2 + the LLM-pipeline extensions) with DuckDB oracle SQL.
  * Each entry is one [[Query]] value in a family object under
  * `graft/registry/`; this object only joins the families and indexes
  * them by name.
  *
  * Conventions shared by every query/oracle pair:
  *   - deterministic total ORDER BY on both sides (driver hash-compares);
  *   - identical column aliases on both sides (driver sorts cols by name);
  *   - floating aggregates rounded after aggregation so IEEE summation
  *     order can't flip the last ulp between Spark and DuckDB;
  *   - counts cast to BIGINT on the DuckDB side (DuckDB sums to HUGEINT).
  */
object SparkEntry {

  /** Every registry entry, family by family. */
  lazy val registry: Seq[Query] =
    Diff.queries ++ Analytics.queries ++ Text.queries ++ Embed.queries ++
      Events.queries ++ Stats.queries

  /** Name → entry; fails naming every name given to more than one entry. */
  private[graft] def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate registry names: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  private lazy val byName: Map[String, Query] = index(registry)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.view.mapValues(_.build).toMap

  lazy val oracleSql: Map[String, String] =
    byName.view.mapValues(_.oracle).toMap

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own flagship is `keyDiff(old, new, [id])`
    * (`/root/reference/bin/key_diff.js:7-15`).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    KeyDiff.diff(ordersOld(spark, dir), ordersNew(spark, dir), Seq("o_orderkey"))
  }
}
