package graft

import java.nio.file.Files
import graft.cli.{BuildIndex, RankPages, RunAll}
import graft.search.Search

/** `RunAll` composes the RankPages and BuildIndex stages over one cached
  * docs scan. On the golden corpus (FIXTURES.md §1a) its serving tables and
  * printed lines must equal those of the two CLI pipelines run one after
  * the other, followed by `Search.search` over the tables they wrote. */
class RunAllSpec extends SparkSpec {

  val corpus = Seq(
    "<title>1</title> [[2]] [[4]] <text>alpha beta gamma</text>",
    "<title>2</title> [[1]] [[3]] <text>beta beta delta</text>",
    "<title>4</title> <text>gamma epsilon</text>")

  lazy val corpusPath: String = {
    val f = Files.createTempFile("runall", ".txt")
    Files.writeString(f, corpus.mkString("\n") + "\n")
    f.toString
  }

  test("RunAll equals RankPages.pipeline + BuildIndex.pipeline + Search.search") {
    val composed = Files.createTempDirectory("runall-out").toString
    val separate = Files.createTempDirectory("pipelines-out").toString
    val terms = Seq("gamma", "beta", "omega") // omega is in no document

    val printed = new java.io.ByteArrayOutputStream()
    Console.withOut(printed)(RunAll.run(spark, corpusPath, composed, terms))
    val res = RankPages.pipeline(spark, corpusPath, separate)
    BuildIndex.pipeline(spark, corpusPath, separate)
    res.release()

    def rows(dir: String, table: String): Seq[String] = {
      val df = if (table == "ranked") spark.read.text(s"$dir/$table")
        else spark.read.parquet(s"$dir/$table")
      df.collect().map(_.toString).sorted.toSeq
    }
    Seq("docs", "pr", "ranked", "ii").foreach { t =>
      val expected = rows(separate, t)
      assert(expected.nonEmpty, t)
      assert(rows(composed, t) === expected, t)
    }

    def read(t: String) = spark.read.parquet(s"$separate/$t")
    val hits = Search.search(spark, terms, corpus.size, read("ii"), read("pr"), read("docs"))
      .collect().map { r =>
        s"${r.getAs[String]("term")}\t${r.getAs[String]("title")}\t" +
          f"${r.getAs[Double]("score")}%.6f"
      }.toSeq
    assert(hits.map(_.takeWhile(_ != '\t')) === Seq("gamma", "gamma", "beta", "beta"))
    val lines = printed.toString("UTF-8").linesIterator.toSeq
    assert(lines === s"pipeline done: iterations=${res.iterations} avgChange=${res.avgChange}" +: hits)
  }
}
