package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DiffConfig
import graft.ops.{KeyDiff, VennDiff}

/** Drives the custom Avro FileFormat against the reference's own fixtures
  * (read-only at /root/reference/avro — snappy-coded except userdata4,
  * FIXTURES.md).
  */
class AvroSourceSpec extends AnyFunSuite {

  private val fixtures = "/root/reference/avro"

  lazy val spark: SparkSession = Sessions(4)

  def avro(path: String) = spark.read.format("avro").load(path)

  test("reads snappy-coded userdata1 with full schema") {
    val df = avro(s"$fixtures/sample_avro/userdata1.avro")
    assert(df.count() == 1000)
    assert(df.columns.length == 13)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("salary").dataType.typeName == "double")
    // spot value from the Avro-JSON golden (userdata1.json row 1)
    val r = df.filter(col("id") === 1)
      .select("first_name", "salary").collect().head
    assert(r.getString(0) == "Amanda")
    assert(r.getDouble(1) == 49756.53)
  }

  test("reads null-codec userdata4 (codec auto-detect, no config flag)") {
    // README.txt claims 1000 rows, but the container block headers sum to
    // 1003 (verified independently) — trust the bytes, not the docs.
    assert(avro(s"$fixtures/sample_avro/userdata4.avro").count() == 1003)
  }

  test("column pruning reaches the Avro reader schema") {
    val df = avro(s"$fixtures/sample_avro/userdata1.avro").select("id", "email")
    assert(df.count() == 1000)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema") && scan.contains("id") && !scan.contains("salary"),
      s"expected pruned scan, got: $scan")
  }

  test("count(*) works with an empty required schema") {
    assert(avro(s"$fixtures/sample_avro/userdata2.avro").count() == 998)
  }

  test("avroSchema option acts as reader schema override (O3)") {
    val sub =
      """{"type":"record","name":"kylosample","fields":[
        |{"name":"id","type":"long"},
        |{"name":"email","type":"string"}]}""".stripMargin
    val df = spark.read.format("avro").option("avroSchema", sub)
      .load(s"$fixtures/sample_avro/userdata1.avro")
    assert(df.columns.toSeq == Seq("id", "email"))
    assert(df.count() == 1000)
  }

  test("nested record fixture: studentAssignments composite key diff") {
    val old = avro(s"$fixtures/fake_account_tc_guid_1/studentAssignments.avro")
    val neu = avro(s"$fixtures/fake_account_tc_guid_2/studentAssignments.avro")
    assert(old.schema("submission").dataType.typeName == "struct")
    val d = KeyDiff.diff(old, neu, Seq("studentId", "assignmentId"))
    val counts = KeyDiff.summary(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == d.count())
    assert(d.count() > 0)
  }

  test("map-of-record fixture: students venn + keyDiff via canonicalization") {
    // guid_2/students.avro (and guid_1/assetStudents.avro) are corrupted in
    // the reference repo — a text-encoding round-trip replaced non-UTF8
    // bytes with U+FFFD. Perturb the intact guid_1 file instead.
    val old = avro(s"$fixtures/fake_account_tc_guid_1/students.avro")
    assert(old.schema("weeklyMessageAggregates").dataType.typeName == "map")
    // self-venn: everything intersects, nothing added/removed
    val s = VennDiff.summary(old, old).collect().head
    assert(s.getLong(0) == 0 && s.getLong(1) == 0 && s.getLong(2) == old.count())
    // perturbed new side: one scalar bumped on a subset ⇒ changed rows
    val neu = old.withColumn("pageviewCount",
      when(col("globalStudentId").substr(-1, 1) === "1",
        col("pageviewCount") + 1).otherwise(col("pageviewCount")))
    val d = KeyDiff.diff(old, neu, Seq("globalStudentId"))
    val byStatus = KeyDiff.summary(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("changed", 0L) > 0)
    assert(byStatus.getOrElse("added", 0L) == 0 && byStatus.getOrElse("removed", 0L) == 0)
    val changedRow = d.filter(col(KeyDiff.StatusCol) === "changed").limit(1)
      .select(col(s"${KeyDiff.ChangedFieldsCol}"))
    assert(changedRow.collect().head.getMap[String, Any](0).keys.toSeq == Seq("pageviewCount"))
    // self-diff all unchanged even with map columns
    val selfD = KeyDiff.diff(old, old, Seq("globalStudentId"))
    assert(selfD.filter(col(KeyDiff.StatusCol) =!= "unchanged").isEmpty)
    // 3-level nested arrays-of-records fixture reads too (guid_2 copy intact)
    assert(avro(s"$fixtures/fake_account_tc_guid_2/assetStudents.avro").count() == 235)
  }

  test("flagship CLI parity: keyDiff(userdata1, userdata2, id)") {
    val old = avro(s"$fixtures/sample_avro/userdata1.avro")
    val neu = avro(s"$fixtures/sample_avro/userdata2.avro")
    val d = KeyDiff.diff(old, neu, Seq("id"))
    val counts = KeyDiff.summary(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 old rows vs 998 new rows, ids overlap ⇒ removed ≥ 2
    assert(counts.getOrElse("removed", 0L) >= 2)
    assert(counts.values.sum >= 1000)
    // argument-flip symmetry: added(o→n) == removed(n→o)
    val flipped = KeyDiff.summary(KeyDiff.diff(neu, old, Seq("id"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("added", 0L) == flipped.getOrElse("removed", 0L))
    assert(counts.getOrElse("changed", 0L) == flipped.getOrElse("changed", 0L))
  }

  test("keepFields/ignoreFields projection composes like the reference") {
    val cfg = DiffConfig(
      keepFields = Some(Seq("id", "first_name", "email")),
      ignoreFields = Some(Seq("email")))
    val df = cfg.project(avro(s"$fixtures/sample_avro/userdata1.avro"))
    assert(df.columns.toSeq == Seq("id", "first_name"))
  }

  test("nested dotted-path diff key (reference TODO src/index.js:24-25)") {
    import spark.implicits._
    // key on a field INSIDE a nested struct — impossible in the reference
    val old = Seq((1L, ("a", 10)), (2L, ("b", 20)))
      .toDF("id", "sub").select(col("id"),
        col("sub._1").as("k").as("k"), col("sub._2").as("v"))
      .select(col("id"), struct(col("k"), col("v")).as("sub"))
    val neu = Seq((1L, ("a", 10)), (3L, ("c", 30)))
      .toDF("id", "sub").select(col("id"),
        col("sub._1").as("k"), col("sub._2").as("v"))
      .select(col("id"), struct(col("k"), col("v")).as("sub"))
    val d = KeyDiff.diff(old, neu, Seq("sub.k"))
    assert(d.columns.head == "sub.k")
    val statuses = d.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses == Map("a" -> "unchanged", "b" -> "removed", "c" -> "added"))
  }

  test("avro write: flat round-trip through all four codecs") {
    val src = avro(s"$fixtures/sample_avro/userdata1.avro")
    for (codec <- Seq("null", "deflate", "snappy", "zstandard")) {
      val out = java.nio.file.Files.createTempDirectory(s"avro-rt-$codec").toString
      src.write.format("avro").option("codec", codec).mode("overwrite").save(out)
      val back = avro(out)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.count() == 1000)
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("avro write: partitionBy produces prunable directory layout") {
    import spark.implicits._
    val df = Seq((1L, "en", "aa"), (2L, "de", "bb"), (3L, "en", "cc"))
      .toDF("id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("avro-part").toString
    df.write.format("avro").partitionBy("lang").mode("overwrite").save(out)
    val back = avro(out)
    assert(back.count() == 3)
    // partition pruning: the lang=en filter must reach the file index,
    // reading only that directory
    val pruned = back.filter(col("lang") === "en")
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"partition filter not applied:\n$scan")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("avro as a streaming file sink: writeStream lands readable container files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("avro-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("avro-ckpt").toString
    val q = mem.toDF().toDF("id", "text")
      .writeStream.format("avro")
      .option("checkpointLocation", ckpt)
      .option("path", out).start()
    try {
      mem.addData((1L, "hello"), (2L, "world"))
      q.processAllAvailable()
      mem.addData((3L, "again"))
      q.processAllAvailable()
    } finally q.stop()
    val back = avro(out)
    assert(back.count() == 3)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("hello", "world", "again"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("mixed union [string,long,null] decodes as a member struct") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schemaJson =
      """{"type":"record","name":"u","fields":[
        |{"name":"id","type":"long"},
        |{"name":"val","type":["string","long","null"]}]}""".stripMargin
    val schema = new Schema.Parser().parse(schemaJson)
    val dir = java.nio.file.Files.createTempDirectory("avro-union").toFile
    val f = new java.io.File(dir, "u.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    def rec(id: Long, v: Any): GenericRecord = {
      val r = new GenericData.Record(schema)
      r.put("id", id); r.put("val", v); r
    }
    w.append(rec(1L, "a")); w.append(rec(2L, 7L)); w.append(rec(3L, null))
    w.close()

    val df = avro(f.getPath)
    val vt = df.schema("val")
    assert(vt.dataType.typeName == "struct" && vt.nullable)
    val st = vt.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("member0", "member1"))
    assert(st("member0").dataType.typeName == "string")
    assert(st("member1").dataType.typeName == "long")
    val rows = df.orderBy("id")
      .selectExpr("id", "val.member0", "val.member1", "val IS NULL AS vnull")
      .collect()
    assert(rows(0).getString(1) == "a" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getLong(2) == 7L)
    assert(rows(2).getBoolean(3)) // null branch → whole struct null
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("AvroTables.load wires cfg.schema as the reader schema (O19)") {
    val cfgSchema =
      """{"type":"record","name":"kylosample","fields":[
        |{"name":"id","type":"long"},
        |{"name":"first_name","type":"string"},
        |{"name":"email","type":"string"}]}""".stripMargin
    // cfg.schema alone: decoded columns = reader schema's, not the writer's 13
    val df = graft.io.AvroTables.load(spark,
      s"$fixtures/sample_avro/userdata1.avro", DiffConfig(schema = Some(cfgSchema)))
    assert(df.columns.toSeq == Seq("id", "first_name", "email"))
    assert(df.count() == 1000)
    assert(df.filter(col("id") === 1).select("first_name").collect()
      .head.getString(0) == "Amanda")
    // schema + keep/ignore compose: projection applies on top of the override
    val df2 = graft.io.AvroTables.load(spark,
      s"$fixtures/sample_avro/userdata1.avro",
      DiffConfig(schema = Some(cfgSchema), ignoreFields = Some(Seq("email"))))
    assert(df2.columns.toSeq == Seq("id", "first_name"))
    // no cfg: plain full-schema load
    assert(graft.io.AvroTables.load(spark,
      s"$fixtures/sample_avro/userdata1.avro").columns.length == 13)
  }

  test("avro write: decimal/date/timestamp logical types round-trip") {
    import spark.implicits._
    val df = Seq(
      (1L, BigDecimal("12345.67"), "2024-03-01", "2024-03-01 12:34:56.789"),
      (2L, BigDecimal("-0.01"), "1999-12-31", "1999-12-31 23:59:59.999"))
      .toDF("id", "amount", "d", "ts")
      .select(col("id"),
        col("amount").cast("decimal(10,2)").as("amount"),
        col("d").cast("date").as("d"),
        col("ts").cast("timestamp").as("ts"))
    val out = java.nio.file.Files.createTempDirectory("avro-logical").toString
    df.write.format("avro").mode("overwrite").save(out)
    val back = avro(out)
    // logical types survive the round-trip as the same Catalyst types
    assert(back.schema("amount").dataType.typeName == "decimal(10,2)")
    assert(back.schema("d").dataType.typeName == "date")
    assert(back.schema("ts").dataType.typeName == "timestamp")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("avro write: nested structs/arrays/maps round-trip") {
    val src = avro(s"$fixtures/fake_account_tc_guid_1/students.avro")
    val out = java.nio.file.Files.createTempDirectory("avro-rt-nested").toString
    src.write.format("avro").mode("overwrite").save(out)
    val back = avro(out)
    assert(back.count() == src.count())
    // map-typed columns block exceptAll — compare via canonical JSON
    import org.apache.spark.sql.functions.{md5, to_json, struct => fstruct}
    val cols = src.columns.sorted.map(col)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(to_json(fstruct(cols.toIndexedSeq: _*))).as("h"))
        .orderBy("h").collect().map(_.getString(0)).toSeq
    assert(digest(back) == digest(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }
}
