package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Seeded generators for the three Avro snapshot pairs.
  *
  * Files are written with Apache Avro's own `DataFileWriter` (snappy), never
  * with the engine's Avro sink, so set-up does not depend on the encoder the
  * benchmark measures. Every row is a pure function of `(seed, row id)`, and
  * each generator returns the expected result of diffing its pair: status
  * counts for the keyed diffs, multiset totals for the venn diff.
  */
object Gen {

  /** One generated pair plus the expected result, by name. */
  final case class Pair(oldFile: File, newFile: File, expected: Map[String, Long],
      oldRows: Long, newRows: Long)

  /** Uniform [0, 1) hash of (seed, id, salt): decides each row's fate. */
  def unit(seed: Long, id: Long, salt: Long): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  private def rng(seed: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x632BE59BD9B4E019L ^ id)

  private def write(file: File, schema: Schema)(body: DataFileWriter[GenericRecord] => Unit): Unit = {
    file.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.snappyCodec())
    w.create(schema, file)
    try body(w) finally w.close()
  }

  /** Fate of a keyed row: 5% removed, 10% changed, the rest unchanged. */
  private def fate(seed: Long, id: Long): String = {
    val u = unit(seed, id, 1L)
    if (u < 0.05) "removed" else if (u < 0.15) "changed" else "unchanged"
  }

  // ---------------------------------------------------------------- flat --

  /** The reference's F1 `userdata` shape: 13 nullable top-level fields. */
  val FlatSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"userdata","fields":[
      |{"name":"registration_dttm","type":["null","string"]},
      |{"name":"id","type":["null","int"]},
      |{"name":"first_name","type":["null","string"]},
      |{"name":"last_name","type":["null","string"]},
      |{"name":"email","type":["null","string"]},
      |{"name":"gender","type":["null","string"]},
      |{"name":"ip_address","type":["null","string"]},
      |{"name":"cc","type":["null","string"]},
      |{"name":"country","type":["null","string"]},
      |{"name":"birthdate","type":["null","string"]},
      |{"name":"salary","type":["null","double"]},
      |{"name":"title","type":["null","string"]},
      |{"name":"comments","type":["null","string"]}]}""".stripMargin)

  private val First = Array("Amanda", "Albert", "Evelyn", "Denise", "Carlos",
    "Kathryn", "Samuel", "Harry", "Jose", "Emily", "Susan", "Alice", "Russell")
  private val Last = Array("Jordan", "Freeman", "Morgan", "Riley", "Burns",
    "White", "Holmes", "Howell", "Foster", "Stewart", "Perry", "Berry")
  private val Country = Array("Indonesia", "Canada", "Russia", "China",
    "Ukraine", "Portugal", "France", "Brazil", "Sweden", "Peru", "Japan")
  private val Title = Array("Internal Auditor", "Accountant IV",
    "Structural Engineer", "Senior Cost Accountant", "Account Executive",
    "Web Developer IV", "Geologist II", "Nurse", "Teacher", "VP Sales")
  private val Comment = Array("1E+02", "no comment", "()?{}",
    "<script>alert('hi')</script>", "null", "  ", "ÅÍÎÏ˝ÓÔÒÚÆ☃")

  private def two(i: Int): String = if (i < 10) "0" + i else i.toString

  private def flatRow(seed: Long, id: Int): GenericData.Record = {
    val r = rng(seed, id)
    val g = new GenericData.Record(FlatSchema)
    val first = First(r.nextInt(First.length))
    val last = Last(r.nextInt(Last.length))
    g.put("registration_dttm", s"2016-02-${two(1 + r.nextInt(28))}T${two(r.nextInt(24))}:" +
      s"${two(r.nextInt(60))}:${two(r.nextInt(60))}Z")
    g.put("id", id)
    g.put("first_name", first)
    g.put("last_name", last)
    g.put("email", s"${first.head.toLower}${last.toLowerCase}$id@example.org")
    g.put("gender", if (r.nextBoolean()) "Female" else "Male")
    g.put("ip_address",
      s"${1 + r.nextInt(254)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}")
    g.put("cc", if (r.nextInt(10) == 0) null
      else java.lang.Long.toString(r.nextLong(1000000000000000L, 9999999999999999L)))
    g.put("country", Country(r.nextInt(Country.length)))
    g.put("birthdate",
      if (r.nextInt(16) == 0) "" else s"${1 + r.nextInt(12)}/${1 + r.nextInt(28)}/${1950 + r.nextInt(50)}")
    g.put("salary",
      if (r.nextInt(16) == 0) null else java.lang.Double.valueOf(20000.0 + r.nextInt(26000000) / 100.0))
    g.put("title", Title(r.nextInt(Title.length)))
    g.put("comments", if (r.nextInt(5) == 0) Comment(r.nextInt(Comment.length)) else null)
    g
  }

  /** A changed row differs in one or two fields, chosen by the row's hash. */
  private def flatChange(seed: Long, g: GenericData.Record): GenericData.Record = {
    val id = g.get("id").asInstanceOf[Int].toLong
    unit(seed, id, 2L) match {
      case u if u < 0.4 =>
        val s = g.get("salary")
        g.put("salary",
          if (s == null) java.lang.Double.valueOf(1000.0)
          else java.lang.Double.valueOf(s.asInstanceOf[Double] + 0.5))
      case u if u < 0.7 =>
        g.put("title", g.get("title").toString + " (acting)")
      case _ =>
        g.put("email", s"moved$id@example.net")
        g.put("cc", null)
    }
    g
  }

  def flat(seed: Long, rows: Int, dir: File): Pair = {
    val old = new File(dir, "old.avro")
    val nu = new File(dir, "new.avro")
    val counts = scala.collection.mutable.Map("added" -> 0L, "removed" -> 0L,
      "changed" -> 0L, "unchanged" -> 0L)
    write(old, FlatSchema) { w => (1 to rows).foreach(id => w.append(flatRow(seed, id))) }
    val added = rows / 20
    var newRows = 0L
    write(nu, FlatSchema) { w =>
      (1 to rows).foreach { id =>
        val f = fate(seed, id)
        counts(f) += 1
        if (f != "removed") {
          val g = flatRow(seed, id)
          w.append(if (f == "changed") flatChange(seed, g) else g)
          newRows += 1
        }
      }
      (rows + 1 to rows + added).foreach { id =>
        w.append(flatRow(seed, id)); counts("added") += 1; newRows += 1
      }
    }
    Pair(old, nu, counts.toMap, rows.toLong, newRows)
  }

  // ---------------------------------------------------------------- bags --

  /** Six columns, no key; row `k` of the distinct universe is unique by `k`.
    * The `attrs` map makes the multiset diff canonicalize (maps are not
    * comparable in Spark), like the reference's map-bearing fixtures.
    */
  val BagSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"bag","namespace":"perfbench","fields":[
      |{"name":"k","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"grp","type":"int"},
      |{"name":"amount","type":"double"},
      |{"name":"note","type":["null","string"]},
      |{"name":"attrs","type":{"type":"map","values":"int"}}]}""".stripMargin)

  private val Tags = Array("late", "resubmit", "group", "honors", "flagged", "extension")

  /** Map order carries no meaning: the new side lists `attrs` in reverse,
    * so only a canonicalizing diff finds the common rows.
    */
  private def bagRow(seed: Long, k: Int, reverseMap: Boolean): GenericData.Record = {
    val r = rng(seed, k)
    val g = new GenericData.Record(BagSchema)
    g.put("k", k.toLong)
    g.put("name", s"item-${k % 977}-${r.nextInt(100)}")
    g.put("grp", k % 64)
    g.put("amount", r.nextInt(1000000) / 100.0)
    g.put("note", if (r.nextInt(3) == 0) null else Tags(r.nextInt(Tags.length)))
    val attrs = Tags.take(1 + r.nextInt(3)).map(t => t -> Int.box(r.nextInt(10)))
    val m = new java.util.LinkedHashMap[String, Integer]()
    (if (reverseMap) attrs.reverse else attrs).foreach { case (t, v) => m.put(t, v) }
    g.put("attrs", m)
    g
  }

  /** Old side draws skewed towards low `k`; the new side's draws are shifted
    * by an eighth of the universe, so all three venn regions are large, and
    * it has a tenth more rows, so `removed` and `added` differ.
    */
  def bags(seed: Long, rows: Int, distinct: Int, dir: File): Pair = {
    val old = new File(dir, "old.avro")
    val nu = new File(dir, "new.avro")
    val shift = distinct / 8
    def side(file: File, salt: Long, offset: Int, n: Int): Array[Int] = {
      val universe = (0 until distinct).map(k => bagRow(seed, k, reverseMap = offset > 0)).toArray
      val counts = new Array[Int](distinct)
      val r = new SplittableRandom(seed * 31 + salt)
      write(file, BagSchema) { w =>
        (0 until n).foreach { _ =>
          val u = r.nextDouble()
          val k = ((distinct * u * u).toInt + offset) % distinct
          counts(k) += 1
          w.append(universe(k))
        }
      }
      counts
    }
    val newRows = rows + rows / 10
    val o = side(old, 11L, 0, rows)
    val n = side(nu, 13L, shift, newRows)
    val removed = o.indices.map(k => math.max(o(k) - n(k), 0).toLong).sum
    val added = o.indices.map(k => math.max(n(k) - o(k), 0).toLong).sum
    val common = o.indices.map(k => math.min(o(k), n(k)).toLong).sum
    Pair(old, nu, Map("removed" -> removed, "added" -> added, "intersection" -> common),
      rows.toLong, newRows.toLong)
  }
}
