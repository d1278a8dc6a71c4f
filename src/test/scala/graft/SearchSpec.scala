package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.WikiCorpus
import graft.graph.GraphBuilder
import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.search.Search

/** `Search` against [[SearchSpec.Reference]], the one-plan join formulation
  * it replaced, on the golden corpus and on a generated corpus where the
  * df ≥ 3000 cutoff bites; and the number of Spark jobs one query starts. */
class SearchSpec extends SparkSpec {
  import SearchSpec._

  /** The golden 3-doc corpus (FIXTURES.md §1a). */
  lazy val golden: Tables = {
    val f = Files.createTempFile("search-golden", ".txt")
    Files.writeString(f, Seq(
      "<title>1</title> [[2]] [[4]] <text>alpha beta gamma</text>",
      "<title>2</title> [[1]] [[3]] <text>beta beta delta</text>",
      "<title>4</title> <text>gamma epsilon</text>").mkString("\n") + "\n")
    val docs = WikiCorpus.ingest(spark, f.toString).cache()
    val res = PageRank.run(GraphBuilder.build(docs.select(col("title"), col("links"))),
      minIter = 5, maxIter = 5)
    val t = Tables(InvertedIndex.build(docs).localCheckpoint(),
      res.graph.select("title", "pr").localCheckpoint(),
      docs.select("title", "line").localCheckpoint(), docCount = 3)
    res.release()
    docs.unpersist()
    t
  }

  /** 3,100 pages, so `common` (on every page) is cut at df ≥ 3000 while
    * `half`, `third` and the `rare…` terms stay; every fifth body opens with
    * a non-BMP character before the first occurrence. Served from Parquet
    * like the CLI's tables; every seventh title is missing from `pr`,
    * every eleventh has a NULL pr, every thirteenth is missing from `docs`. */
  lazy val generated: Tables = {
    import spark.implicits._
    val n = 3100
    val lines = (0 until n).map { i =>
      val words = Seq("common") ++
        (if (i % 2 == 0) Seq.fill(1 + i % 4 / 2)("half") else Nil) ++
        (if (i % 3 == 0) Seq("third") else Nil) ++
        (if (i % 97 == 0) Seq("rare" + ('a' + i % 5).toChar) else Nil)
      val clef = if (i % 5 == 0) "𝄞 " else ""
      s"<title>p$i</title> [[p${(i * 7 + 1) % n}]] <text>$clef${words.mkString(" ")} tail</text>"
    }
    val dir = Files.createTempDirectory("search-generated").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/corpus.txt"), lines.mkString("\n") + "\n")
    val docs = WikiCorpus.ingest(spark, s"$dir/corpus.txt")
    InvertedIndex.build(docs).write.parquet(s"$dir/ii")
    docs.select("title", "line").filter(!col("title").isin(
      (0 until n by 13).map(i => s"p$i"): _*)).write.parquet(s"$dir/docs")
    (0 until n).filter(_ % 7 != 0)
      .map(i => (s"p$i", if (i % 11 == 0) None else Some(((i * 7919) % 1009) / 1009.0)))
      .toDF("title", "pr").write.parquet(s"$dir/pr")
    Tables(spark.read.parquet(s"$dir/ii"), spark.read.parquet(s"$dir/pr"),
      spark.read.parquet(s"$dir/docs"), docCount = n)
  }

  /** Parity rows are equal field for field (scores by ==), in the same
    * (term_idx, pos) order; rows that tie on that key (a title on several
    * `pr` or `docs` rows) may come in any order within the tie. */
  def assertParity(t: Tables, terms: Seq[String]): Array[Row] = {
    val got = Search.search(spark, terms, t.docCount, t.ii, t.pr, t.docs)
    val want = Reference.search(spark, terms, t.docCount, t.ii, t.pr, t.docs)
    assert(got.schema === want.schema)
    val (g, w) = (got.collect(), want.collect())
    def key(r: Row) = (r.getInt(1), r.getInt(2))
    assert(g.map(key).toSeq === w.map(key).toSeq, terms)
    assert(g.sortBy(_.toString).toSeq === w.sortBy(_.toString).toSeq, terms)
    g
  }

  /** Ranked results: same titles in the same order, same n_terms_hit and
    * snippets (as a multiset), scores within 1e-12. */
  def assertRanked(t: Tables, terms: Seq[String], k: Int): Unit = {
    val got = Search.searchRanked(spark, terms, t.docCount, t.ii, t.pr, t.docs, k)
    val want = Reference.searchRanked(spark, terms, t.docCount, t.ii, t.pr, t.docs, k)
    assert(got.schema.fieldNames === want.schema.fieldNames)
    val (g, w) = (got.collect(), want.collect())
    assert(g.map(r => (r.getString(0), r.getInt(2))).toSeq ===
      w.map(r => (r.getString(0), r.getInt(2))).toSeq, terms)
    g.zip(w).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-12, (terms, a.getString(0)))
      def snips(r: Row) = r.getSeq[String](3).map(String.valueOf(_: Any)).sorted
      assert(snips(a) === snips(b))
    }
  }

  test("golden corpus: search and searchRanked equal the join formulation") {
    for (terms <- Seq(Seq("beta", "gamma"), Seq("gamma", "omega", "beta"),
        Seq("beta", "beta"), Seq("alpha", "delta", "epsilon", "gamma"))) {
      assert(assertParity(golden, terms).nonEmpty)
      assertRanked(golden, terms, k = 20)
    }
    assertRanked(golden, Seq("beta", "gamma"), k = 1)
  }

  test("a query with no indexed term returns no rows") {
    assert(assertParity(golden, Seq("omega")).isEmpty)
    assertRanked(golden, Seq("omega", "zeta"), k = 20)
    assert(assertParity(generated, Seq("common", "absent")).isEmpty)
  }

  test("duplicate pr and docs titles multiply rows like the left joins") {
    import spark.implicits._
    val t = golden.copy(
      pr = golden.pr.union(Seq(("2", 0.25)).toDF("title", "pr")),
      docs = golden.docs.union(Seq(("1", "<text>beta</text>")).toDF("title", "line")))
    val rows = assertParity(t, Seq("beta", "gamma"))
    assert(rows.count(_.getString(3) == "1") === 4) // beta and gamma, two doc lines each
    assert(rows.count(_.getString(3) == "2") === 2) // beta, two pr rows
    assertRanked(t, Seq("beta", "gamma"), k = 20)
  }

  test("generated corpus: cut, absent and repeated terms; titles missing from pr and docs") {
    val queries = Seq(Seq("half"), Seq("third", "common", "half"), Seq("rarea", "absent", "rarea"),
      Seq("rareb", "third"), Seq("half", "third", "rarec", "rared", "raree"))
    for (terms <- queries) {
      assert(assertParity(generated, terms).nonEmpty)
      assertRanked(generated, terms, k = 20)
    }
    assertRanked(generated, Seq("third", "half"), k = 3000)
    val rows = Search.search(spark, Seq("half", "third"), generated.docCount,
      generated.ii, generated.pr, generated.docs).collect()
    assert(rows.count(_.getString(3) == "p7") === 0) // odd, not a multiple of 3
    assert(rows.exists(r => r.getString(3) == "p14" && r.getDouble(6) == 0.0)) // not in pr
    assert(rows.exists(r => r.getString(3) == "p22" && r.getDouble(6) == 0.0)) // NULL pr
    assert(rows.filter(_.getString(3) == "p26").forall(_.getSeq[String](8).forall(_ == null)))
    // a non-BMP character before the occurrence: substring counts code points
    assert(rows.exists(r => r.getString(3) == "p10" && r.getSeq[String](8).head.contains("𝄞")))
  }

  test("one query is two Spark jobs, or one when no query term is indexed") {
    val t = generated
    for ((terms, jobs) <- Seq(Seq("half", "rarea") -> 2, Seq("absent", "common") -> 1)) {
      assert(jobsOf(Search.search(spark, terms, t.docCount, t.ii, t.pr, t.docs).collect()) === jobs,
        s"search $terms")
      assert(jobsOf(Search.searchRanked(spark, terms, t.docCount, t.ii, t.pr, t.docs).collect()) === jobs,
        s"searchRanked $terms")
    }
  }

  private var measured = 0

  /** The Spark jobs that start while `f` runs. The listener bus is
    * asynchronous: a one-task marker job run after `f` is delivered after
    * `f`'s jobs, so once the listener sees it, it has seen them all. */
  def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    measured += 1
    val (group, marker) = (s"search-jobs-$measured", s"search-jobs-marker-$measured")
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      f
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!seen.contains(marker)) {
        assert(System.nanoTime() < deadline, "the listener bus did not drain")
        Thread.sleep(5)
      }
      seen.asScala.count(_ == group)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

object SearchSpec {
  final case class Tables(ii: DataFrame, pr: DataFrame, docs: DataFrame, docCount: Long)

  /** The join formulation `Search` used before its two-probe rewrite: query
    * terms ⋈ index ⋈ pr ⋈ docs as one lazy plan. Kept as the test's
    * reference for every output value. */
  object Reference {
    def search(spark: SparkSession, terms: Seq[String], docCount: Long,
        index: DataFrame, pr: DataFrame, docs: DataFrame): DataFrame = {
      import spark.implicits._
      val q = terms.zipWithIndex.toDF("term", "term_idx")
      index.filter(col("term").isin(terms: _*)).join(q, Seq("term"))
        .select(col("term"), col("term_idx"), col("df"),
          posexplode(col("postings")).as(Seq("pos", "p")))
        .select(col("term"), col("term_idx"), col("pos"), col("df"),
          col("p.title").as("title"), col("p.tf").as("tf"), col("p.ofs").as("ofs"))
        .join(pr, Seq("title"), "left_outer")
        .withColumn("pr", coalesce(col("pr"), lit(0.0)))
        .withColumn("score",
          lit(0.5) * (col("tf") * log(lit(docCount.toDouble) / col("df"))) +
            lit(0.5) * col("pr"))
        .join(docs.select(col("title"), col("line")), Seq("title"), "left_outer")
        .withColumn("snippets", expr(
          """transform(ofs, o ->
               substring(line,
                 cast(greatest(o.char_off - 20, 0) + 1 as int),
                 cast(o.char_off + 30 - greatest(o.char_off - 20, 0) as int)))"""))
        .select(col("term"), col("term_idx"), col("pos"), col("title"),
          col("tf"), col("df"), col("pr"), col("score"), col("snippets"))
        .orderBy(asc("term_idx"), asc("pos"))
    }

    def searchRanked(spark: SparkSession, terms: Seq[String], docCount: Long,
        index: DataFrame, pr: DataFrame, docs: DataFrame, k: Int): DataFrame =
      search(spark, terms, docCount, index, pr, docs)
        .groupBy(col("title"))
        .agg(sum(col("score")).as("score"),
          count(lit(1)).cast("int").as("n_terms_hit"),
          flatten(collect_list(col("snippets"))).as("snippets"))
        .orderBy(desc("score"), asc("title"))
        .limit(k)
  }
}
