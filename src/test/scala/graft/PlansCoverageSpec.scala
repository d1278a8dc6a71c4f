package graft

import org.scalatest.funsuite.AnyFunSuite

/** The r16 gap class, closed permanently (VERDICT r16 #1): eight
  * queries shipped with no captured physical plan because PLANS.md's
  * capture set was a hand-maintained headline list. PlanDump now sweeps
  * the full catalog; this spec asserts the invariant so a new query
  * without a regenerated PLANS.md fails the build, the same way
  * NoDecimalOutputSpec turned the q177 decimal lesson into a
  * sweep-the-catalog gate.
  *
  * File-only (no Spark session): headings are parsed from PLANS.md
  * verbatim, so the spec also catches a truncated or hand-edited dump.
  */
class PlansCoverageSpec extends AnyFunSuite {

  test("every catalog query has a captured plan heading in PLANS.md") {
    val plans = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("PLANS.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val headings = plans.linesIterator
      .collect { case l if l.startsWith("## ") => l.drop(3).trim }
      .toSet
    val missing = SparkEntry.queries.keySet.diff(headings).toSeq.sorted
    assert(missing.isEmpty,
      s"catalog queries with no PLANS.md capture (run `sbt \"runMain " +
        s"graft.PlanDump\"`): ${missing.mkString(", ")}")
  }

  test("PLANS.md has no stale headings for queries no longer in the catalog") {
    val plans = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("PLANS.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val headings = plans.linesIterator
      .collect { case l if l.startsWith("## ") => l.drop(3).trim }
      .toSet
    val stale = headings.diff(SparkEntry.queries.keySet).toSeq.sorted
    assert(stale.isEmpty,
      s"PLANS.md headings with no catalog query: ${stale.mkString(", ")}")
  }

  test("PlanDump.splice refreshes named sections in place and appends missing ones") {
    import PlanDump.{section, splice}
    val head = "# PLANS\n\nheader text\n"
    val doc = head + Seq(section("q01_a", "Scan a\n+- Filter"), section("q02_b", "Scan b"),
      section("q03_c", "Scan c")).map("\n" + _).mkString
    // a middle section: everything else keeps its bytes
    assert(splice(doc, Seq("q02_b" -> section("q02_b", "Scan b2\n+- Sort"))) ===
      doc.replace("```\nScan b\n```", "```\nScan b2\n+- Sort\n```"))
    // the last section, and the first
    assert(splice(doc, Seq("q03_c" -> section("q03_c", "C"))) ===
      doc.replace("```\nScan c\n```", "```\nC\n```"))
    assert(splice(doc, Seq("q01_a" -> section("q01_a", "A"))) ===
      doc.replace("```\nScan a\n+- Filter\n```", "```\nA\n```"))
    // a section the file lacks goes at the end, in the full dump's layout
    assert(splice(doc, Seq("q04_d" -> section("q04_d", "D"))) === doc + "\n" + section("q04_d", "D"))
    // a section given its own text changes nothing
    assert(splice(doc, Seq("q02_b" -> section("q02_b", "Scan b"))) === doc)
    // a `## ` line inside a fenced plan is not a heading
    val fenced = head + "\n" + section("q05_e", "## q06_f\nScan e") + "\n" + section("q06_f", "F")
    assert(splice(fenced, Seq("q06_f" -> section("q06_f", "F2"))) ===
      fenced.replace("```\nF\n```", "```\nF2\n```"))
  }
}
