package graft

import java.nio.file.Files
import graft.cli.{BuildIndex, RankPages}

/** A corpus with no page — an empty file, or lines without a `<title>` —
  * still runs both pipelines. The graph is the NULL sentinel alone (n = 1),
  * so NULL has no out-edges: its rank settles at α/n = 0.15 and the loop
  * stops at the minimum 10 iterations. The index has no term. */
class EmptyCorpusSpec extends SparkSpec {

  Seq(
    "an empty file" -> "",
    "a file with no <title> lines" ->
      "no title here [[a]] <text>alpha beta</text>\n<text>gamma</text>\n"
  ).foreach { case (name, content) =>
    test(s"RankPages and BuildIndex on $name") {
      val input = Files.createTempFile("empty-corpus", ".txt")
      Files.writeString(input, content)
      val out = Files.createTempDirectory("empty-corpus-out").toString
      val res = RankPages.pipeline(spark, input.toString, out)
      BuildIndex.pipeline(spark, input.toString, out)
      res.release()
      assert(res.iterations === 10)
      val pr = spark.read.parquet(s"$out/pr").collect()
        .map(r => (r.getAs[String]("title"), r.getAs[Double]("pr"))).toSeq
      assert(pr === Seq(("NULL", 0.15)))
      assert(spark.read.parquet(s"$out/ii").isEmpty)
    }
  }
}
