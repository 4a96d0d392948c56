package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

/** The generators' test: for a few small seeds, each manifest must equal an
  * independent recount over the generated records, read back with Apache
  * Avro's reader and diffed in plain maps (no Spark, no engine code).
  *
  * Usage: `SelfTest <workDir>`; exits 1 on any mismatch.
  */
object SelfTest {

  private def records(f: File): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try r.iterator().asScala.toList finally r.close()
  }

  /** Keyed diff by full-record equality (Avro maps compare as maps). */
  def keyed(p: Gen.Pair, keys: Seq[String]): Map[String, Long] = {
    def byKey(f: File) = records(f).map(g => keys.map(k => String.valueOf(g.get(k))) -> g).toMap
    val (o, n) = (byKey(p.oldFile), byKey(p.newFile))
    val both = o.keySet ++ n.keySet
    val status = both.toSeq.map { k =>
      (o.get(k), n.get(k)) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some(a), Some(b)) => if (a == b) "unchanged" else "changed"
      }
    }
    Seq("added", "removed", "changed", "unchanged").map(s => s -> status.count(_ == s).toLong).toMap
  }

  /** Multiset totals of the venn regions. */
  def venn(p: Gen.Pair): Map[String, Long] = {
    def bag(f: File) = records(f).groupBy(identity).map { case (g, gs) => g -> gs.size.toLong }
    val (o, n) = (bag(p.oldFile), bag(p.newFile))
    val rows = o.keySet ++ n.keySet
    def sum(f: (Long, Long) => Long) =
      rows.toSeq.map(r => f(o.getOrElse(r, 0L), n.getOrElse(r, 0L))).sum
    Map("removed" -> sum((a, b) => math.max(a - b, 0L)),
      "added" -> sum((a, b) => math.max(b - a, 0L)),
      "intersection" -> sum((a, b) => math.min(a, b)))
  }

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val cases = Seq(1L, 2L, 3L).flatMap { seed =>
      Seq(
        (s"keydiff_flat seed $seed", Gen.flat(seed, 3000, new File(work, s"flat$seed")), "flat"),
        (s"venn_bags seed $seed", Gen.bags(seed, 5000, 400, new File(work, s"bags$seed")), "bags"))
    }
    val bad = cases.filterNot { case (label, p, kind) =>
      val recount = kind match {
        case "flat" => keyed(p, Seq("id"))
        case _ => venn(p)
      }
      val ok = recount == p.expected && p.expected.values.forall(_ > 0)
      println(s"${if (ok) "PASS" else "FAIL"} $label manifest=${p.expected.toSeq.sorted} " +
        s"recount=${recount.toSeq.sorted}")
      ok
    }
    if (bad.nonEmpty) sys.exit(1)
  }
}
