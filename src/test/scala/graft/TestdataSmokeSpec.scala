package graft

import java.io.File
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Smoke checks against the REAL driver-generated parquet at
  * `/root/testdata/sf0.001` — the rest of the suite builds inputs from
  * in-memory DataFrames, so nothing else exercises [[Tables]] against the
  * driver's actual file formats. Round 6 lost 13 oracle queries to a
  * silent events-timestamp unit flip that `sbt test` could not see; this
  * suite converts any future data-format drift into a named local failure.
  *
  * Skips (rather than fails) when the testdata directory is absent, so
  * the suite still runs on a bare checkout.
  */
class TestdataSmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private def available: Boolean = new File(sfDir).isDirectory

  lazy val spark: SparkSession = Sessions(4)

  // Stop the session so the next suite's builder applies its own STATIC
  // confs — a leaked getOrCreate session broke BucketingSpec downstream.
  override def afterAll(): Unit = spark.stop()

  test("every table loads with rows > 0") {
    assume(available, s"$sfDir not present")
    for (name <- Tables.names) {
      val n = Tables.load(spark, sfDir, name).count()
      assert(n > 0, s"table $name is empty")
    }
  }

  test("events.ts is TimestampType and spans the documented 2024 range") {
    assume(available, s"$sfDir not present")
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts decoded as ${ev.schema("ts").dataType}, want TimestampType")
    val row = ev.agg(min("ts"), max("ts"), count(lit(1))).head
    val (lo, hi) = (row.getTimestamp(0), row.getTimestamp(1))
    val floor = Timestamp.valueOf("2023-12-01 00:00:00")
    val ceil = Timestamp.valueOf("2025-01-01 00:00:00")
    assert(lo.after(floor) && lo.before(ceil),
      s"events.ts min=$lo outside the documented 2024 window — unit drift?")
    assert(hi.after(floor) && hi.before(ceil),
      s"events.ts max=$hi outside the documented 2024 window — unit drift?")
    // The generator writes a multi-day stream; a collapsed span means a
    // 1000x unit compression even if both endpoints land in-range.
    val spanDays = (hi.getTime - lo.getTime).toDouble / 86400000.0
    assert(spanDays > 1.0,
      f"events.ts span is $spanDays%.4f days — timestamps look compressed")
  }

  test("Tables.events unit probe: raw int64 millis/seconds/nanos decode to the same instants; garbage fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    // 2024-01-15 00:00:00 UTC and one hour later, in seconds
    val secs = Seq(1705276800L, 1705280400L)
    val tmp = java.nio.file.Files.createTempDirectory("events_unit_")
    def write(unit: Long, name: String): String = {
      val dir = s"$tmp/$name"
      secs.zipWithIndex.map { case (s, i) =>
        (i.toLong, s * unit, 1L, "click", 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      dir
    }
    def instants(dir: String): Seq[Long] =
      Tables.events(spark, dir).select("ts").collect()
        .map(_.getTimestamp(0).getTime).sorted.toSeq
    val fromSec = instants(write(1L, "sec"))
    val fromMs = instants(write(1000L, "ms"))
    val fromNanos = instants(write(1000000000L, "ns"))
    assert(fromSec == secs.map(_ * 1000L), s"seconds band decoded $fromSec")
    assert(fromMs == fromSec && fromNanos == fromSec,
      s"bands disagree: ms=$fromMs ns=$fromNanos sec=$fromSec")
    // a value outside every known epoch band must fail loudly, not guess
    val junk = s"$tmp/junk"
    Seq((0L, 12345L, 1L, "x", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$junk/events.parquet")
    val e = intercept[Exception](Tables.events(spark, junk).collect())
    assert(e.getMessage.contains("no known"),
      s"expected loud unit-probe failure, got: ${e.getMessage}")
  }

  test("driver-hash-safe type palette: no query output column may be DECIMAL (or any type outside the palette)") {
    assume(available, s"$sfDir not present")
    // Two consecutive rounds were lost to the driver's hash
    // canonicalization differing between its Spark and DuckDB read
    // paths on a TYPE, not a value: round 6 timestamp units, round 7
    // DECIMAL rendering (join_size_est, hourly_stream — value-identical,
    // hash-mismatched). This test makes the class impossible: every
    // query's OUTPUT schema must stay inside the palette that has only
    // ever hashed cleanly — integral/double/string/timestamp/date/
    // boolean and arrays/structs/maps thereof. Decimal arithmetic
    // INSIDE a query is fine (and used, for order-independent exact
    // sums); it must be cast to double/string before the final select.
    // Documented in TESTDATA.md ("output type palette").
    import org.apache.spark.sql.types._
    def bad(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType => Seq(s"$path: $dt (DECIMAL output defeats the driver hash)")
      case t if Seq(LongType, IntegerType, ShortType, ByteType, DoubleType,
        FloatType, StringType, BooleanType, TimestampType, TimestampNTZType,
        DateType, BinaryType, NullType).contains(t) => Nil
      case ArrayType(et, _) => bad(et, s"$path[]")
      case MapType(kt, vt, _) => bad(kt, s"$path.key") ++ bad(vt, s"$path.value")
      case StructType(fields) => fields.toSeq.flatMap(f => bad(f.dataType, s"$path.${f.name}"))
      case other => Seq(s"$path: $other (outside the driver-hash-safe palette)")
    }
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val schema =
          try fn(spark, sfDir).schema
          catch { case e: Throwable =>
            fail(s"$name failed to construct at $sfDir: ${e.getMessage}") }
        schema.fields.toSeq.flatMap(f => bad(f.dataType, s"$name.${f.name}"))
    }
    assert(violations.isEmpty,
      s"hash-unsafe output columns:\n  ${violations.mkString("\n  ")}")
  }

  test("key tables have the expected TPC-H-ish columns") {
    assume(available, s"$sfDir not present")
    val li = Tables.load(spark, sfDir, "lineitem")
    for (c <- Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"))
      assert(li.columns.contains(c), s"lineitem missing $c")
    val docs = Tables.load(spark, sfDir, "documents")
    assert(docs.columns.contains("text"), "documents missing text")
    val emb = Tables.load(spark, sfDir, "embeddings")
    assert(emb.columns.contains("embedding"), "embeddings missing embedding")
  }
}
