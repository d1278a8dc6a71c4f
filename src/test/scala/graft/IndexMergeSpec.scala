package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.WikiCorpus
import graft.index.InvertedIndex

/** Incremental index maintenance must be indistinguishable from a full
  * rebuild: merge(build(A, uncut), B, cutoff) == build(A ∪ B, cutoff),
  * postings order, offsets and df included. */
class IndexMergeSpec extends SparkSpec {
  import IndexBuildSpec.canon

  val corpus = Seq(
    "<title>1</title> [[2]] [[4]] <text>alpha beta gamma</text>",
    "<title>2</title> [[1]] [[3]] <text>beta beta delta</text>",
    "<title>4</title> <text>gamma epsilon beta</text>")

  lazy val corpusFile: String = {
    val f = Files.createTempFile("merge", ".txt")
    Files.writeString(f, corpus.mkString("\n") + "\n")
    f.toString
  }

  lazy val docs: DataFrame = WikiCorpus.ingest(spark, corpusFile).cache()

  test("merge(build(A), B) == build(A ∪ B), postings and offsets included") {
    val a = docs.filter(col("title") =!= "2")
    val b = docs.filter(col("title") === "2")
    val merged = InvertedIndex.merge(
      InvertedIndex.build(a, dfCutoff = Int.MaxValue), b)
    assert(canon(merged) === canon(InvertedIndex.build(docs)))
  }

  test("cutoff applies to the MERGED df (a delta can push a term over)") {
    val a = docs.filter(col("title") === "1") // beta df=1 in A
    val b = docs.filter(col("title") =!= "1") // beta in both delta docs
    val merged = InvertedIndex.merge(
      InvertedIndex.build(a, dfCutoff = Int.MaxValue), b, dfCutoff = 3)
    val terms = merged.select("term").collect().map(_.getString(0)).toSet
    assert(!terms.contains("beta"), "beta reaches df=3 only after the merge")
    assert(terms.contains("gamma")) // df=2 < 3 survives
    assert(canon(merged) === canon(InvertedIndex.build(docs, dfCutoff = 3)))
  }

  test("a delta title on two lines merges into one posting per term") {
    val f = Files.createTempFile("merge-dup", ".txt")
    Files.writeString(f, (corpus ++ Seq(
      "<title>5</title> [[1]] <text>beta zeta</text>",
      "<title>5</title> <text>zeta alpha zeta</text>")).mkString("\n") + "\n")
    val all = WikiCorpus.ingest(spark, f.toString)
    val merged = InvertedIndex.merge(
      InvertedIndex.build(all.filter(col("title") =!= "5"), dfCutoff = Int.MaxValue),
      all.filter(col("title") === "5"))
    val got = canon(merged)
    val zeta = got.find(_._1 == "zeta").get
    assert(zeta._2 === 1 && zeta._3.head._2 === 3, zeta)
    assert(got === canon(InvertedIndex.build(all)))
  }

  test("the delta is tokenized once: one per-title UDF Generate in the executed plan") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // a checkpointed index, as q59 passes it: only the delta's UDF remains.
    // The delta is read uncached, as from files: AQE reuses no shuffle
    // above a cached relation's scan.
    val fresh = WikiCorpus.ingest(spark, corpusFile)
    val existing = InvertedIndex.build(fresh.filter(col("title") =!= "2"),
      dfCutoff = Int.MaxValue).localCheckpoint()
    val merged = InvertedIndex.merge(existing, fresh.filter(col("title") === "2"))
    merged.collect()
    val plan = merged.queryExecution.executedPlan
    val gens = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case g: GenerateExec if g.generator.exists(_.isInstanceOf[ScalaUDF]) => g
    }
    assert(gens.size === 1, plan.toString)
    graft.core.Scoped.free(existing)
  }

  test("empty delta is the identity (minus the cutoff re-application)") {
    val merged = InvertedIndex.merge(
      InvertedIndex.build(docs, dfCutoff = Int.MaxValue),
      docs.filter(col("title") === "no_such_title"))
    assert(canon(merged) === canon(InvertedIndex.build(docs)))
  }
}
