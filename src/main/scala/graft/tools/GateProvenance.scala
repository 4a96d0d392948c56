package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.immutable.SortedMap

/** Gate-provenance manifest (round-14 verdict item 3): the sf100
  * correctness evidence is spread across several rounds and data
  * generations, and nothing asserted that a query's ENGINE CODE hadn't
  * changed since its gate ran. This object is both the generator of
  * `tools/gates/provenance.json` and the hash library the
  * `RegistryMetaSpec` freshness test shares, so the two can't diverge.
  *
  * Per gated name the manifest records:
  *   - `wave`   — which tools/gates/sf100_wave*.txt list gated it;
  *   - `sha`    — repo HEAD when the entry was (re)generated;
  *   - `block_md5` — md5 of the name's `Query(...)` value in its
  *     registry family file under src/main/scala/graft/registry (its
  *     build lambda AND its oracle SQL, from the `Query("name"` marker to
  *     the matching close paren);
  *   - `deps`   — md5 per referenced engine source file, resolved by
  *     scanning the block for `Object.` tokens against the repo's
  *     object/class → file index (direct references only; transitive
  *     callees are covered by their own direct users, and a note field
  *     documents method-level rewrites adjudicated by differential
  *     specs instead of full re-gates);
  *   - `note`   — optional human adjudication (e.g. output-identical
  *     rewrite pinned by a differential spec + spot re-gate).
  *
  * The meta-test recomputes block/dep hashes from the CURRENT tree and
  * fails on any mismatch — the protocol is then: re-gate the name at
  * sf100 (or pin output-identity with a differential spec and spot
  * re-gate the family), and regenerate its entry with
  * `sbt "runMain graft.tools.GateProvenance refresh <name>... [--note text]"`.
  *
  * Helpers a query calls unqualified (e.g. `Shared.ordersNew`, a
  * family's private `bigramCe`) sit outside its block and are not
  * hashed into its entry.
  */
object GateProvenance {

  val ManifestPath = "tools/gates/provenance.json"

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** Names per wave, in wave order (sf100_wave*.txt only — the same
    * convention RegistryMetaSpec uses for gate placement).
    */
  def waveLists(): SortedMap[String, Seq[String]] = {
    val files = new File("tools/gates").listFiles()
      .filter(f => f.getName.startsWith("sf100_wave") && f.getName.endsWith(".txt"))
      .sortBy(_.getName)
    SortedMap(files.map { f =>
      f.getName.stripSuffix(".txt") ->
        read(f.getPath).linesIterator.map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    }.toIndexedSeq: _*)
  }

  private val RegistryDir = "src/main/scala/graft/registry"

  /** name → its `Query(...)` value, for every `Query("name"` marker in the
    * registry family files: the text from the marker to the paren that
    * closes it, skipping string literals and line comments (the registry
    * has no char literals or block comments inside a value). Comments and
    * helpers outside the value are in no block. Fails on a name marked
    * twice.
    */
  def blocks(): Map[String, String] = {
    val marker = """Query\("([a-z0-9_]+)"""".r
    val found = new File(RegistryDir).listFiles().toSeq.map(f => read(f.getPath))
      .flatMap { src =>
        marker.findAllMatchIn(src).map { m =>
          m.group(1) -> src.substring(m.start, valueEnd(src, m.start))
        }
      }
    val dups = found.groupBy(_._1).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"registry names marked twice: ${dups.mkString(", ")}")
    found.toMap
  }

  /** Index just past the `)` closing the first `(` at or after `from`. */
  private def valueEnd(src: String, from: Int): Int = {
    var depth = 0
    var i = from
    var end = -1
    while (end < 0) {
      if (src.startsWith("//", i)) i = src.indexOf('\n', i)
      else if (src.startsWith("\"\"\"", i)) {
        i = src.indexOf("\"\"\"", i + 3) + 3
        while (i < src.length && src(i) == '"') i += 1
      } else if (src(i) == '"') {
        i += 1
        while (src(i) != '"') i += (if (src(i) == '\\') 2 else 1)
        i += 1
      } else {
        if (src(i) == '(') depth += 1
        else if (src(i) == ')') { depth -= 1; if (depth == 0) end = i + 1 }
        i += 1
      }
    }
    end
  }

  /** object/class name → source path index over src/main/scala/graft,
    * minus the registry (covered by block_md5; its family objects would
    * shadow same-named operators, e.g. `Stats`).
    */
  def objectIndex(): Map[String, String] = {
    val decl = """(?m)^\s*(?:object|class|case class|trait)\s+(\w+)""".r
    def walk(dir: File): Seq[File] = {
      val fs = dir.listFiles()
      fs.filter(_.isFile).toSeq.filter(_.getName.endsWith(".scala")) ++
        fs.filter(d => d.isDirectory && d.getPath != RegistryDir).flatMap(walk)
    }
    walk(new File("src/main/scala/graft"))
      .flatMap { f =>
        decl.findAllMatchIn(read(f.getPath)).map(_.group(1) -> f.getPath)
      }
      .groupBy(_._1).view.mapValues(_.head._2).toMap
  }

  /** Engine source files a block references directly (`Object.` tokens
    * resolved against the index).
    */
  def blockDeps(block: String, index: Map[String, String]): Seq[String] = {
    val ref = """\b([A-Z][A-Za-z0-9_]*)\s*\.""".r
    ref.findAllMatchIn(block).map(_.group(1)).toSet
      .flatMap((n: String) => index.get(n))
      .toSeq.sorted
  }

  case class Entry(wave: String, sha: String, blockMd5: String,
      deps: SortedMap[String, String], note: String)

  /** Compute a fresh entry for `name` from the current tree;
    * `allBlocks` comes from [[blocks]].
    */
  def compute(name: String, wave: String, sha: String, note: String,
      allBlocks: Map[String, String], index: Map[String, String]): Entry = {
    val block = allBlocks.getOrElse(name,
      sys.error(s"no registry Query block found for '$name'"))
    val deps = SortedMap(
      blockDeps(block, index).map(p => p -> md5(read(p))): _*)
    Entry(wave, sha, md5(block), deps, note)
  }

  // --- manifest (de)serialization: flat, diff-friendly JSON ------------

  def render(entries: SortedMap[String, Entry]): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = entries.map { case (n, e) =>
      val deps = e.deps.map { case (p, h) => s""""${esc(p)}": "$h"""" }
        .mkString("{", ", ", "}")
      s"""  "$n": {"wave": "${e.wave}", "sha": "${e.sha}", """ +
        s""""block_md5": "${e.blockMd5}", "deps": $deps, """ +
        s""""note": "${esc(e.note)}"}"""
    }.mkString(",\n")
    s"{\n$body\n}\n"
  }

  def parse(json: String): SortedMap[String, Entry] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = JsonMethods.parse(json).asInstanceOf[JObject]
    SortedMap(m.obj.map { case (name, v) =>
      val o = v.asInstanceOf[JObject].obj.toMap
      def str(k: String) = o(k).asInstanceOf[JString].s
      val deps = SortedMap(o("deps").asInstanceOf[JObject].obj
        .map { case (p, h) => p -> h.asInstanceOf[JString].s }: _*)
      name -> Entry(str("wave"), str("sha"), str("block_md5"), deps,
        str("note"))
    }: _*)
  }

  def load(): SortedMap[String, Entry] =
    if (new File(ManifestPath).exists()) parse(read(ManifestPath))
    else SortedMap.empty

  private def headSha(): String = {
    val p = new ProcessBuilder("git", "rev-parse", "HEAD").start()
    val sha = scala.io.Source.fromInputStream(p.getInputStream).mkString.trim
    p.waitFor()
    if (sha.matches("[0-9a-f]{40}")) sha else "unknown"
  }

  /** `runMain graft.tools.GateProvenance init` — full (re)generation:
    * every wave-listed name hashed from the current tree, preserving
    * existing sha/note for names whose hashes are unchanged.
    * `runMain graft.tools.GateProvenance refresh <name>... [--note t]` —
    * recompute just those names (new sha, new hashes); the given note is
    * appended to the entry's existing note (`old; new`), keeping its
    * adjudication trail.
    */
  def main(args: Array[String]): Unit = {
    val index = objectIndex()
    val sha = headSha()
    val waves = waveLists()
    val nameToWave = waves.flatMap { case (w, ns) => ns.map(_ -> w) }
    val allBlocks = blocks()
    val existing = load()
    val updated: SortedMap[String, Entry] = args.toList match {
      case "init" :: Nil =>
        SortedMap(nameToWave.toSeq.map { case (n, w) =>
          val fresh = compute(n, w, sha, "", allBlocks, index)
          n -> (existing.get(n) match {
            // unchanged code keeps its recorded sha + note (older gate)
            case Some(old) if old.blockMd5 == fresh.blockMd5 &&
              old.deps == fresh.deps => old.copy(wave = w)
            case _ => fresh
          })
        }: _*)
      case "refresh" :: rest if rest.nonEmpty =>
        val (noteParts, names) = rest.span(_ != "--note") match {
          case (ns, "--note" :: t) => (t, ns)
          case (ns, _) => (Nil, ns)
        }
        val note = noteParts.mkString(" ")
        val bad = names.filterNot(nameToWave.contains)
        require(bad.isEmpty, s"not wave-listed: $bad")
        existing ++ names.map { n =>
          val trail = (existing.get(n).map(_.note).toSeq :+ note)
            .filter(_.nonEmpty).mkString("; ")
          n -> compute(n, nameToWave(n), sha, trail, allBlocks, index)
        }
      case other =>
        sys.error(s"usage: GateProvenance init | refresh <name>... " +
          s"[--note text]  (got: $other)")
    }
    Files.write(Paths.get(ManifestPath), render(updated).getBytes("UTF-8"))
    println(s"wrote ${updated.size} entries to $ManifestPath at $sha")
  }
}
