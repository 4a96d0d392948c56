package graft.cli

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.DiffConfig
import graft.ops.{KeyDiff, VennDiff}

/** Shared session + colorized report printing (reference O15/O16,
  * reference `src/index.js:53-63,143-153`). A report is one pass:
  * one SQL execution whose single result job yields every bucket's count
  * and its first `limit` rows. Nothing is checkpointed or cached, and the
  * driver receives at most `buckets × limit` rows — never a collect-all
  * (100 TB posture, SURVEY §7.4.8).
  */
object Report {
  private val Green = "[32m"
  private val Red = "[31m"
  private val Yellow = "[33m"
  private val Reset = "[0m"

  def session(): SparkSession =
    graft.Sessions(graft.Sessions.cpus(32), sys.env.get("SPARK_MASTER"))

  private def printBucket(name: String, color: String, n: Long,
      rows: Seq[Row], limit: Int): Unit = {
    println(s"$color== $name: $n rows (showing up to $limit)$Reset")
    rows.foreach(r => println(s"$color  $r$Reset"))
  }

  /** A scan's partial result: per bucket, the summed weight and the first
    * rows, each tagged (partition, position) and repeated by its weight,
    * at most `limit` of them.
    */
  private final class Tally(val counts: Array[Long],
      val rows: Array[Vector[(Int, Long, InternalRow)]]) extends Serializable

  private def merge(limit: Int)(a: Tally, b: Tally): Tally = new Tally(
    a.counts.zip(b.counts).map { case (x, y) => x + y },
    a.rows.zip(b.rows).map { case (x, y) =>
      (x ++ y).sortBy(e => (e._1, e._2)).take(limit)
    })

  /** One pass over `df` as one SQL execution named `name` (listeners see
    * it like any action) with one result job: `weight(row, b)` is summed
    * per bucket `b`, and each bucket keeps its first `limit` rows in scan
    * order, a row repeated by its weight. Rows stay `InternalRow`s in the
    * scan; partition tallies merge by `treeAggregate`, so the driver's
    * result is bounded at any partition count, and only the kept rows are
    * deserialized, with the DataFrame's own Row encoder (the text
    * `collect()` would render).
    */
  private def scan(df: DataFrame, name: String, buckets: Int, limit: Int)(
      weight: (InternalRow, Int) => Long): (Array[Long], Array[Seq[Row]]) = {
    val qe = df.queryExecution
    val zero = new Tally(new Array[Long](buckets), Array.fill(buckets)(Vector.empty))
    val t = SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitionsWithIndex { (part, it) =>
        val counts = new Array[Long](buckets)
        val rows = Array.fill(buckets)(Vector.newBuilder[(Int, Long, InternalRow)])
        val kept = new Array[Int](buckets)
        var pos = 0L
        it.foreach { r =>
          var copy: InternalRow = null
          var b = 0
          while (b < buckets) {
            val w = weight(r, b)
            counts(b) += w
            val n = math.min(w, (limit - kept(b)).toLong).toInt
            if (n > 0) {
              if (copy == null) copy = r.copy()
              (0 until n).foreach(_ => rows(b) += ((part, pos, copy)))
              kept(b) += n
            }
            b += 1
          }
          pos += 1
        }
        Iterator.single(new Tally(counts, rows.map(_.result())))
      }.treeAggregate(zero)(merge(limit), merge(limit))
    }
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    (t.counts, t.rows.map(_.map(e => toRow(e._3))))
  }

  /** All four buckets, reference order and colors — green added, red
    * removed, yellow changed, plain (white) unchanged
    * (reference `src/index.js:143-153`) — then one summary line per
    * present status, status-sorted.
    *
    * Cost: the diff runs once, as one SQL execution; a single scan of the
    * join output counts every status and keeps each bucket's first
    * `limit` rows, comparing the status as raw UTF-8 bytes.
    */
  def printKeyDiff(d: DataFrame, limit: Int = 20): Unit = {
    val buckets = Seq("added" -> Green, "removed" -> Red,
      "changed" -> Yellow, "unchanged" -> Reset)
    val i = d.schema.fieldIndex(KeyDiff.StatusCol)
    val statuses = buckets.map(b => UTF8String.fromString(b._1)).toArray
    val (counts, rows) = scan(d, "printKeyDiff", buckets.size, limit) {
      (r, b) => if (r.getUTF8String(i) == statuses(b)) 1L else 0L
    }
    buckets.indices.foreach { b =>
      printBucket(buckets(b)._1, buckets(b)._2, counts(b), rows(b), limit)
    }
    buckets.map(_._1).zip(counts).filter(_._2 > 0).sortBy(_._1)
      .foreach { case (st, n) => println(s"$st: $n rows") }
  }

  /** Venn report — removed/added/intersection buckets, reference order
    * (`/root/reference/src/index.js:53-63`, label swap at :60-61 fixed).
    *
    * Cost: the single-shuffle `VennDiff.counted` union+aggregate runs
    * once, as one SQL execution; a single scan of its distinct rows sums
    * each bucket's multiplicities and keeps its first `limit` rows, each
    * repeated by its multiplicity (the multiset view `exceptAll` /
    * `intersectAll` print).
    */
  def printVennDiff(oldDf: DataFrame, newDf: DataFrame,
      cfg: DiffConfig = DiffConfig(), limit: Int = 20): Unit = {
    val c = VennDiff.counted(oldDf, newDf, cfg)
    val rowCols = c.columns.filterNot(VennDiff.ReservedCols).toSeq
    val n = rowCols.size
    val buckets = Seq(("removed (old ∖ new)", Red, "removed"),
      ("added (new ∖ old)", Green, "added"), ("intersection", Reset, "common"))
    val (totals, rows) = scan(
      c.select((rowCols ++ buckets.map(_._3)).map(col).toIndexedSeq: _*),
      "printVennDiff", buckets.size, limit)((r, b) => r.getLong(n + b))
    buckets.indices.foreach { b =>
      printBucket(buckets(b)._1, buckets(b)._2, totals(b),
        rows(b).map(r => Row.fromSeq(r.toSeq.take(n))), limit)
    }
  }
}

/** `key_diff <oldFile> <newFile> <comma,separated,key>` — arg-compatible
  * with `/root/reference/bin/key_diff.js:7-15`.
  */
object KeyDiffApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: KeyDiffApp <oldFile> <newFile> <key,fields>")
    val Array(oldFile, newFile, key) = args
    val spark = Report.session()
    spark.sparkContext.setLogLevel("WARN")
    val d = KeyDiff.diff(
      spark.read.format("avro").load(oldFile),
      spark.read.format("avro").load(newFile),
      key.split(',').toSeq)
    Report.printKeyDiff(d)
    spark.stop()
  }
}

/** `venn_diff <oldFile> <newFile>` — arg-compatible with
  * `/root/reference/bin/venn_diff.js:7-14`. Prints correct labels (the
  * reference swaps added/removed counts at `src/index.js:60-61`).
  */
object VennDiffApp {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: VennDiffApp <oldFile> <newFile>")
    val Array(oldFile, newFile) = args
    val spark = Report.session()
    spark.sparkContext.setLogLevel("WARN")
    val o = spark.read.format("avro").load(oldFile)
    val n = spark.read.format("avro").load(newFile)
    Report.printVennDiff(o, n)
    spark.stop()
  }
}

/** `corpus_clean <docsParquet> <outParquet> [--transitive]` — the
  * end-to-end training-corpus cleaning pipeline (quality gate → exact
  * dedup → LSH near-dup removal; `--transitive` switches the last stage
  * to connected-component survivors) as a spark-submit-able batch job:
  * parquet in, cleaned parquet + a printed keep/drop summary out.
  * Extended-scope CLI — the reference has no corpus surface.
  */
object CorpusCleanApp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CorpusCleanApp <docsParquet> <outParquet> [--transitive]")
    val in = args(0)
    val out = args(1)
    val transitive = args.contains("--transitive")
    val spark = Report.session()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(in)
    val cleaned =
      if (transitive) graft.ops.Dedup.cleanCorpusTransitive(docs, "doc_id", "text")
      else graft.ops.Dedup.cleanCorpus(docs, "doc_id", "text")
    cleaned.write.mode("overwrite").parquet(out)
    val nIn = docs.count()
    val nOut = spark.read.parquet(out).count()
    println(s"corpus_clean: kept $nOut of $nIn docs " +
      f"(${100.0 * nOut / math.max(nIn, 1L)}%.1f%%) -> $out" +
      (if (transitive) " [transitive]" else ""))
    spark.stop()
  }
}
