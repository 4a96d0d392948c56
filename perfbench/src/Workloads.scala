package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cli.Report
import graft.io.AvroTables
import graft.ops.{KeyDiff, VennDiff}

/** A check that failed: the operation ran but its result is wrong. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** What a workload sees while it runs. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: File) {
  val cores: Int = spark.sparkContext.defaultParallelism
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** One named workload: seeded inputs, a checked operation, and the layer
  * probes a traced run adds.
  */
trait Workload {
  def name: String
  /** Makes the inputs from the seed and returns the expected results. */
  def prepare(seed: Long, dir: File): Map[String, Long]
  /** Input rows and bytes, for the record. */
  def inputRows: Long
  def inputBytes: Long
  /** One operation. It returns the check, which the caller runs untimed
    * and which throws [[CheckFailed]] on a wrong result.
    */
  def op(ctx: Ctx, i: Int, expected: Map[String, Long]): () => Unit
  /** Per-layer probes for a traced run: metric name -> value. */
  def probes(ctx: Ctx): Map[String, Double]
  /** Calls of [[op]] that make one user-visible operation (a round). */
  def opsPerRound: Int = 1
  /** Registry families whose spans become `registry.<family>_s`. */
  def spanFamilies: Seq[String] = Nil
}

object Workloads {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Median wall seconds of `n` calls. */
  def timed(n: Int)(body: => Unit): Double = median((1 to n).map(_ => seconds(body)._1))

  def expect(what: String, got: Long, want: Long): Unit =
    if (got != want) throw new CheckFailed(s"$what: got $got, expected $want")

  def apply(name: String, args: Map[String, String]): Workload = name match {
    case "keydiff_flat" => new KeyDiffFlat(args("rows").toInt)
    case "venn_bags" => new VennBags(args("rows").toInt, args("distinct").toInt)
    case "registry_sweep" => new RegistrySweep(args("data"), args("queries"), args("oracle"))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workloads._

/** Shared by the Avro workloads: one generated snapshot pair. */
abstract class AvroPair extends Workload {
  protected var pair: Gen.Pair = _
  def inputRows: Long = pair.oldRows + pair.newRows
  def inputBytes: Long = pair.oldFile.length + pair.newFile.length
  protected def generate(seed: Long, dir: File): Gen.Pair

  def prepare(seed: Long, dir: File): Map[String, Long] = {
    pair = generate(seed, dir)
    pair.expected
  }

  protected def load(ctx: Ctx, f: File): DataFrame =
    ctx.tr.span("io.load")(AvroTables.load(ctx.spark, f.getPath))

  /** Driver-side load (header read, schema conversion) and full decode of
    * both inputs into the noop sink.
    */
  protected def avroProbes(ctx: Ctx): Map[String, Double] = {
    val loadS = timed(3) { load(ctx, pair.oldFile); load(ctx, pair.newFile) }
    val decodeS = timed(3) {
      ctx.noop(load(ctx, pair.oldFile)); ctx.noop(load(ctx, pair.newFile))
    }
    Map("avro.load_s" -> loadS, "avro.decode_s" -> decodeS,
      "avro.decode_rows_per_core_s" -> inputRows / (decodeS * ctx.cores))
  }
}

/** The flagship CLI path: keyed diff of two flat snapshots, printed. */
final class KeyDiffFlat(rows: Int) extends AvroPair {
  val name = "keydiff_flat"
  private val Keys = Seq("id")
  private val Line = """^(added|removed|changed|unchanged): (\d+) rows$""".r

  protected def generate(seed: Long, dir: File): Gen.Pair = Gen.flat(seed, rows, dir)

  def op(ctx: Ctx, i: Int, expected: Map[String, Long]): () => Unit = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      val d = ctx.tr.span("ops.keydiff") {
        KeyDiff.diff(load(ctx, pair.oldFile), load(ctx, pair.newFile), Keys)
      }
      ctx.tr.span("cli.report")(Report.printKeyDiff(d))
    }
    () => {
      val printed = out.toString("UTF-8").linesIterator.collect {
        case Line(status, n) => status -> n.toLong
      }.toMap
      Seq("added", "removed", "changed", "unchanged").foreach { s =>
        expect(s"printed $s", printed.getOrElse(s, -1L), expected(s))
      }
    }
  }

  /** The diff over both inputs already decoded and held in memory, and the
    * Avro encode of its changeset (Avro write minus noop write of the same
    * materialized rows).
    */
  def probes(ctx: Ctx): Map[String, Double] = {
    val o = load(ctx, pair.oldFile).cache()
    val n = load(ctx, pair.newFile).cache()
    o.count(); n.count()
    val planS = timed(3)(KeyDiff.diff(o, n, Keys).queryExecution.executedPlan)
    val diffS = timed(3)(ctx.noop(KeyDiff.diff(o, n, Keys)))
    val cs = KeyDiff.diff(o, n, Keys).filter(col(KeyDiff.StatusCol) =!= "unchanged").cache()
    cs.count()
    val dir = new File(ctx.work, "encode-probe")
    val avroS = timed(3) {
      ctx.tr.span("sources.avro.write")(cs.write.mode("overwrite").format("avro").save(dir.getPath))
    }
    val noopS = timed(3)(ctx.noop(cs))
    Seq(cs, o, n).foreach(_.unpersist(true))
    avroProbes(ctx) ++ Map("keydiff.plan_s" -> planS, "keydiff.s" -> diffS,
      "avro.encode_s" -> math.max(avroS - noopS, 0.0),
      "avro.write_mb" -> dir.listFiles().filter(_.getName.endsWith(".avro")).map(_.length).sum / 1e6)
  }
}

/** Key-less multiset diff: the three outputs of the reference's vennDiff. */
final class VennBags(rows: Int, distinct: Int) extends AvroPair {
  val name = "venn_bags"

  protected def generate(seed: Long, dir: File): Gen.Pair = Gen.bags(seed, rows, distinct, dir)

  def op(ctx: Ctx, i: Int, expected: Map[String, Long]): () => Unit = {
    val o = load(ctx, pair.oldFile)
    val n = load(ctx, pair.newFile)
    val r = ctx.tr.span("ops.venn.removed")(VennDiff.removed(o, n).count())
    val a = ctx.tr.span("ops.venn.added")(VennDiff.added(o, n).count())
    val c = ctx.tr.span("ops.venn.intersection")(VennDiff.intersection(o, n).count())
    () => {
      expect("removed rows", r, expected("removed"))
      expect("added rows", a, expected("added"))
      expect("intersection rows", c, expected("intersection"))
    }
  }

  def probes(ctx: Ctx): Map[String, Double] = {
    def plans(): Unit = {
      val o = load(ctx, pair.oldFile)
      val n = load(ctx, pair.newFile)
      Seq(VennDiff.removed(o, n), VennDiff.added(o, n), VennDiff.intersection(o, n))
        .foreach(_.queryExecution.executedPlan)
    }
    avroProbes(ctx) ++ Map(
      "venn.plan_s" -> timed(3)(plans()),
      "venn.counted_s" -> timed(3) {
        ctx.noop(VennDiff.counted(load(ctx, pair.oldFile), load(ctx, pair.newFile)))
      })
  }
}

/** A fixed sample of the query registry over the bundled parquet tables,
  * each query written to the noop sink; one pass over the sample is one
  * operation, and the seed permutes the order. Row counts are checked
  * against DuckDB runs of the registry's oracle SQL.
  *
  * @param queries `name:family` pairs, comma separated
  * @param oracle  command that, given the data directory, a `{name: sql}`
  *                JSON file and an output path, writes `{name: rows}` JSON
  */
final class RegistrySweep(data: String, queries: String, oracle: String) extends Workload {
  val name = "registry_sweep"
  val family: Map[String, String] = queries.split(",").map { q =>
    val Array(n, f) = q.split(":"); n -> f
  }.toMap
  private var order: IndexedSeq[String] = IndexedSeq.empty

  def inputRows: Long = 0L
  def inputBytes: Long = new File(data).listFiles().map(_.length).sum

  def queryAt(i: Int): String = order(i % order.length)
  override def opsPerRound: Int = family.size
  override def spanFamilies: Seq[String] = family.values.toSeq.distinct.sorted

  def prepare(seed: Long, dir: File): Map[String, Long] = {
    val missing = family.keySet -- SparkEntry.queries.keySet
    require(missing.isEmpty, s"queries not in the registry: $missing")
    order = new scala.util.Random(seed).shuffle(family.keys.toIndexedSeq.sorted)
    val sql = SparkEntry.oracleSql
    val json = family.keys.toSeq.sorted.map { q =>
      val s = sql.getOrElse(q, throw new IllegalArgumentException(s"$q has no oracle SQL"))
      s"${Json.str(q)}:${Json.str(s)}"
    }.mkString("{", ",", "}")
    val in = new File(dir, "oracle_sql.json")
    dir.mkdirs()
    java.nio.file.Files.write(in.toPath, json.getBytes("UTF-8"))
    val out = new File(dir, "oracle_rows.json")
    val p = new ProcessBuilder(oracle.split(" ").toSeq ++ Seq(data, in.getPath, out.getPath): _*)
      .inheritIO().start()
    require(p.waitFor() == 0, s"oracle row counts failed: $oracle")
    Json.longs(new String(java.nio.file.Files.readAllBytes(out.toPath), "UTF-8"))
  }

  def op(ctx: Ctx, i: Int, expected: Map[String, Long]): () => Unit = {
    val q = queryAt(i)
    val obs = Observation()
    ctx.tr.span(s"registry.${family(q)}") {
      ctx.noop(SparkEntry.queries(q)(ctx.spark, data).observe(obs, count(lit(1)).as("rows")))
    }
    () => expect(s"$q rows", obs.get("rows").asInstanceOf[Long], expected(q))
  }

  def probes(ctx: Ctx): Map[String, Double] = Map.empty
}
