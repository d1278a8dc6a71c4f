package graft

import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r17 #4: PLANS.md coverage is spec-enforced
  * (PlansCoverageSpec); SCALING.md slope coverage was discipline-only —
  * post-r13 queries got measured sf0.1→sf1 rows because each round added
  * them, but nothing failed the build when one was missed, and 117
  * pre-r11 queries were covered only by family-level prose. This spec
  * makes the slope ledger a gate: every catalog query must appear in
  * SCALING.md as a measured row (the ledger convention renders
  * `q79_dedup_survivors` as "q79 dedup_survivors" — first underscore to
  * space — so both spellings are accepted).
  *
  * File-only (no Spark session), same as PlansCoverageSpec: the document
  * is read verbatim, so a truncated or hand-pruned SCALING.md fails too.
  */
class SlopeCoverageSpec extends AnyFunSuite {

  test("every catalog query has a slope row (or named adjudication) in SCALING.md") {
    val scaling = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SCALING.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    // Line-anchored ledger-row match (ADVICE r18): a query id appearing
    // in PROSE (a cross-reference like "q25 keeps the dynamic policy")
    // must not satisfy the gate — only a real measured row of the shape
    // `| qNNN name | <number>` counts, in either the raw-key or the
    // first-underscore-to-space ledger spelling.
    val missing = SparkEntry.queries.keySet.toSeq.sorted.filterNot { k =>
      val spellings = Seq(k, k.replaceFirst("_", " "))
        .map(java.util.regex.Pattern.quote)
      // an optional annotation may follow the name inside the cell
      // (e.g. "| q126 simhash_pairs_w64 (64-bit, 262,144 buckets) |")
      val re = ("(?m)^\\| (" + spellings.mkString("|") +
        ")[^|]* \\| *[0-9]").r
      re.findFirstIn(scaling).isDefined
    }
    assert(missing.isEmpty,
      "catalog queries with no SCALING.md slope row (measure sf0.1 vs " +
        "fixture_cache/sf1 with SPARK_GRAFT_ONLY and add a ledger row): " +
        missing.mkString(", "))
  }

  test("SCALING.md has no stale slope rows for queries no longer in the catalog") {
    val scaling = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SCALING.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    // keyed on the q-number, not the name: re-measure rows may spell a
    // query in short form ("| q178 containment (5-gram shingle sets) |")
    val numbers = SparkEntry.queries.keySet.map(_.drop(1).takeWhile(_.isDigit).toInt)
    val rows = "(?m)^\\| q([0-9]+)[^|]*\\| *[0-9]".r
      .findAllMatchIn(scaling).map(_.group(1).toInt).toSeq
    assert(rows.nonEmpty, "no ledger rows parsed from SCALING.md")
    val stale = rows.filterNot(numbers).distinct.sorted
    assert(stale.isEmpty,
      "SCALING.md slope rows with no catalog query: " + stale.map("q" + _).mkString(", "))
  }
}
