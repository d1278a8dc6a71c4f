package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.corpus.WikiCorpus
import graft.index.InvertedIndex

/** `InvertedIndex.build` against [[IndexBuildSpec.Reference]], the
  * two-level occurrence aggregation it replaced: the same rows (postings
  * order and offsets included) and the same schema (nullability included)
  * on the golden corpus, a corpus where the df ≥ 3000 cutoff bites, titles
  * repeated across lines and files, a NULL body and a title-only line; and
  * the physical plan's aggregation shape. */
class IndexBuildSpec extends SparkSpec {
  import IndexBuildSpec._

  /** Writes `files` (each a list of lines) into a fresh directory and
    * ingests them together, so every file's line offsets start at 0. */
  def ingest(files: Seq[String]*): DataFrame = {
    val dir = Files.createTempDirectory("index-build")
    files.zipWithIndex.foreach { case (lines, i) =>
      Files.writeString(dir.resolve(s"part-$i.txt"), lines.mkString("\n") + "\n")
    }
    WikiCorpus.ingest(spark, dir.toString)
  }

  def assertSameIndex(docs: DataFrame, cutoffs: Int*): Unit =
    cutoffs.foreach { c =>
      val got = canon(InvertedIndex.build(docs, c))
      assert(got.nonEmpty, s"empty index at cutoff $c")
      assert(got === canon(Reference.build(docs, c)), s"cutoff $c")
    }

  val golden = Seq(
    "<title>1</title> [[2]] [[4]] <text>alpha beta gamma</text>",
    "<title>2</title> [[1]] [[3]] <text>beta beta delta</text>",
    "<title>4</title> <text>gamma epsilon</text>")

  test("golden corpus: rows equal the two-level build") {
    assertSameIndex(ingest(golden), InvertedIndex.DefaultDfCutoff, 2)
  }

  test("a term cut at df >= 3000: rows equal the two-level build") {
    val lines = (0 until 3100).map { i =>
      val words = Seq("common", "common") ++
        (if (i % 2 == 0) Seq("half") else Nil) ++
        (if (i % 97 == 0) Seq("rare", "common") else Nil)
      s"<title>p$i</title> <text>${words.mkString(" ")} tail</text>"
    }
    val docs = ingest(lines).cache()
    val ii = InvertedIndex.build(docs)
    assert(ii.filter(col("term") === "common").isEmpty)
    assert(ii.filter(col("term") === "half").head().getInt(1) === 1550)
    assertSameIndex(docs, InvertedIndex.DefaultDfCutoff)
    docs.unpersist()
  }

  test("one title on non-adjacent lines, a NULL body, a title-only line") {
    val docs = ingest(Seq(
      "<title>x</title> <text>aa bb aa</text>",
      "<title>y</title> <text>bb cc</text>",
      "<title>x</title> [[y]] no text element here",
      "<title>z</title>",
      "<title>x</title> <text>cc aa</text>",
      "<title>y</title> <text></text>",
      "<title>w</title> <text>aa dd</text>"))
    assert(docs.filter(col("body").isNull).count() === 3)
    val x = canon(InvertedIndex.build(docs)).find(_._1 == "aa").get._3
      .find(_._1 == "x").get
    assert(x._2 === 3 && x._3.map(_._1).distinct.size === 2, x)
    assertSameIndex(docs, InvertedIndex.DefaultDfCutoff, 3, 2)
  }

  test("two input files whose line offsets collide under one title") {
    // both `m` lines sit at offset 0 of their file; `aa` and `bb` interleave
    // by char offset across them, so the offsets need a real sort
    val docs = ingest(
      Seq("<title>m</title> <text>aa xx bb</text>", "<title>n</title> <text>aa</text>"),
      Seq("<title>m</title> <text>bb aa bb</text>", "<title>n</title> <text>zz</text>"))
    val offs = docs.filter(col("title") === "m").select("line_offset").collect()
    assert(offs.map(_.getLong(0)).toSeq === Seq(0L, 0L))
    val bb = canon(InvertedIndex.build(docs)).find(_._1 == "bb").get._3.head
    assert(bb._1 === "m" && bb._2 === 3)
    assert(bb._3.map(_._1).distinct === Seq(0L), bb)
    assertSameIndex(docs, InvertedIndex.DefaultDfCutoff, 2)
  }

  test("schema is pinned, nullability included") {
    val docs = ingest(golden)
    val ofs = ArrayType(StructType(Seq(
      StructField("line_off", LongType, nullable = false),
      StructField("char_off", LongType, nullable = true))), containsNull = false)
    val posting = StructType(Seq(
      StructField("title", StringType, nullable = true),
      StructField("tf", IntegerType, nullable = false),
      StructField("ofs", ofs, nullable = false)))
    val want = StructType(Seq(
      StructField("term", StringType, nullable = true),
      StructField("df", IntegerType, nullable = false),
      StructField("postings", ArrayType(posting, containsNull = false), nullable = false)))
    assert(InvertedIndex.build(docs).schema === want)
    assert(Reference.build(docs).schema === want)
  }

  test("plan: one aggregate on title, one on term, two hash exchanges") {
    val p = InvertedIndex.build(ingest(golden)).queryExecution.executedPlan.toString
    val keys = "Aggregate\\(keys=\\[([^\\]]*)\\]".r.findAllMatchIn(p)
      .map(_.group(1).split(",").map(_.trim.takeWhile(_ != '#')).toSet).toSet
    assert(keys === Set(Set("title"), Set("term")), p)
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .map(l => "hashpartitioning\\(([a-z_]+)#".r.findFirstMatchIn(l).map(_.group(1)))
      .toList
    assert(exchanges.sorted === List(Some("term"), Some("title")), p)
    assert(!p.contains("Join") && !p.contains("df_pre"), p)
    // the per-title UDF runs once per title: no filter re-evaluating it
    assert("UDF\\(lines".r.findAllIn(p).size === 1, p)
  }
}

object IndexBuildSpec {

  /** One row per term, postings in stored order, offsets included. */
  def canon(df: DataFrame): Seq[(String, Int, Seq[(String, Int, Seq[(Long, Long)])])] =
    df.collect().map { r =>
      (r.getString(0), r.getInt(1), r.getSeq[Row](2).map { p =>
        (p.getString(0), p.getInt(1), p.getSeq[Row](2).map(o => (o.getLong(0), o.getLong(1))))
      })
    }.sortBy(_._1).toSeq

  /** The build `InvertedIndex` used before postings were merged per title on
    * the map side: occurrences → `groupBy(term, title)` → `groupBy(term)`,
    * with a distinct df pre-pass semi-joined in front. Kept as the test's
    * reference for every row and for the schema. */
  object Reference {
    def build(docs: DataFrame, dfCutoff: Int = InvertedIndex.DefaultDfCutoff): DataFrame = {
      val occ = InvertedIndex.occurrences(docs)
      val keep = occ.select(col("term"), col("title")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df_pre"))
        .filter(col("df_pre") < dfCutoff)
        .select(col("term"))
      occ.join(keep, Seq("term"), "left_semi")
        .groupBy(col("term"), col("title"))
        .agg(count(lit(1)).cast("int").as("tf"),
          sort_array(collect_list(struct(col("line_off"), col("char_off")))).as("ofs"))
        .groupBy(col("term"))
        .agg(sort_array(collect_list(struct(col("title"), col("tf"), col("ofs")))).as("postings"),
          count(lit(1)).cast("int").as("df"))
        .filter(col("df") < dfCutoff)
        .select(col("term"), col("df"), col("postings"))
    }
  }
}
