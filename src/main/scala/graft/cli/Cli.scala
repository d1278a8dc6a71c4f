package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.WikiCorpus
import graft.graph.GraphBuilder
import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.search.Search

/** CLI mains mirroring the reference's three entry points
  * (/root/reference/README.md:15-68): RankPages ≈ PageRankMapReduce,
  * BuildIndex ≈ InvertedIndexMapReduce, SearchCli ≈ Query. The HBase
  * serving tables (S4–S6) are replaced by Parquet keyed tables — the
  * zero-egress, Spark-native serving layer (SURVEY.md §2.1).
  */
object Cli {
  def session(): SparkSession = graft.Session.build()

  /** The two leading positional arguments, or the usage line when fewer
    * were given; arguments after them are left to the caller. */
  private[graft] def twoArgs(args: Array[String], usage: String)
      : Either[String, (String, String)] =
    if (args.length >= 2) Right((args(0), args(1))) else Left(usage)

  /** The parsed arguments, or exit with status 2 and the usage line on
    * stderr — the `SPARK_GRAFT_ONLY` convention for a bad command line. */
  private[graft] def orExit[A](parsed: Either[String, A]): A =
    parsed.fold(usage => { System.err.println(usage); sys.exit(2) }, identity)
}

/** `RankPages <corpus> <outDir>` — ingest, build graph, run PageRank to the
  * reference's convergence policy, write the docs/pr serving tables and the
  * final `title \t pr` ranked list (ref stages A–D, pageRank.scala:331-393). */
object RankPages {
  /** The stage A–D chain, shared by `main` (the CLI surface) and the
    * q208 driver-gate entry (queries/CorpusSearch.scala), so the gate
    * exercises the CLI's OWN code path and artifacts, not a replica. */
  def pipeline(spark: SparkSession, input: String, out: String): PageRank.Result = {
    val docs = WikiCorpus.ingest(spark, input).cache()
    val res = rank(docs, out)
    docs.unpersist()
    res
  }

  /** Stages B–D over an ingested `docs` frame: graph, PageRank, then the
    * docs/pr/ranked sinks. `docs` is read by the graph build and again by
    * its sink, so callers pass it cached. */
  def rank(docs: DataFrame, out: String): PageRank.Result = {
    val graph = GraphBuilder.build(docs.select(col("title"), col("links")))
    val res = PageRank.run(graph)
    docs.write.mode("overwrite").parquet(s"$out/docs")
    res.graph.select(col("title"), col("pr"))
      .write.mode("overwrite").parquet(s"$out/pr")
    PageRank.ranked(res.graph)
      .select(concat_ws("\t", col("title"), col("pr")))
      .write.mode("overwrite").text(s"$out/ranked")
    res
  }

  def main(args: Array[String]): Unit = {
    val (input, out) = Cli.orExit(Cli.twoArgs(args, "usage: RankPages <corpus> <outDir>"))
    val spark = Cli.session()
    val res = pipeline(spark, input, out)
    println(s"iterations=${res.iterations} avgChange=${res.avgChange}")
    spark.stop()
  }
}

/** `BuildIndex <corpus> <outDir>` — positional inverted index with the df
  * cutoff, written as the `ii` Parquet serving table
  * (ref invertedIndex.scala:101-123). */
object BuildIndex {
  /** The build chain, shared by `main` (the CLI surface) and the q215
    * driver-gate entry (queries/CorpusSearch.scala) — the q208 pattern
    * applied to the reference's second main
    * (/root/reference/src/main/scala/invertedIndex.scala:101-123): the
    * gate drives the CLI's OWN code path and reads back its OWN `ii`
    * Parquet serving artifact, not a library replica. */
  def pipeline(spark: SparkSession, input: String, out: String): Unit =
    index(WikiCorpus.ingest(spark, input), out)

  /** The index build over an ingested `docs` frame, written to `out/ii`. */
  def index(docs: DataFrame, out: String): Unit =
    InvertedIndex.build(docs).write.mode("overwrite").parquet(s"$out/ii")

  def main(args: Array[String]): Unit = {
    val (input, out) = Cli.orExit(Cli.twoArgs(args, "usage: BuildIndex <corpus> <outDir>"))
    val spark = Cli.session()
    pipeline(spark, input, out)
    spark.stop()
  }
}

/** `RunAll <corpus> <outDir> [term…]` — the whole reference workflow in
  * one invocation: the RankPages and BuildIndex stages over one cached
  * docs scan, then (optionally) a search over the freshly written tables. */
object RunAll {
  /** Everything `main` does except stopping the session; prints the
    * iteration line and one `term \t title \t score` line per search hit. */
  def run(spark: SparkSession, input: String, out: String, terms: Seq[String]): Unit = {
    val docs = WikiCorpus.ingest(spark, input).cache()
    val res = RankPages.rank(docs, out)
    BuildIndex.index(docs, out)
    println(s"pipeline done: iterations=${res.iterations} avgChange=${res.avgChange}")
    if (terms.nonEmpty) {
      val hits = Search.search(spark,
        terms, docs.count(),
        spark.read.parquet(s"$out/ii"),
        spark.read.parquet(s"$out/pr"),
        spark.read.parquet(s"$out/docs"))
      hits.collect().foreach { r =>
        println(s"${r.getAs[String]("term")}\t${r.getAs[String]("title")}\t" +
          f"${r.getAs[Double]("score")}%.6f")
      }
    }
    docs.unpersist()
    res.release()
  }

  def main(args: Array[String]): Unit = {
    val (input, out) =
      Cli.orExit(Cli.twoArgs(args, "usage: RunAll <corpus> <outDir> [term...]"))
    val spark = Cli.session()
    run(spark, input, out, args.drop(2).toSeq)
    spark.stop()
  }
}

/** `SearchCli <serveDir> <docCount> [--ranked] <term> [term…]` — mirrors
  * the reference's Query surface (Query.scala:59-64): point-reads the
  * serving tables, scores 0.5·tfidf + 0.5·pr, prints posting-ordered
  * results with ±20/+30-char snippets. `--ranked` switches to the
  * extension: per-title merged scores, top-20, score-descending. */
object SearchCli {
  final case class Args(serveDir: String, docCount: Long, ranked: Boolean,
      terms: Seq[String])

  val Usage = "usage: SearchCli <serveDir> <docCount> [--ranked] <term> [term...]"

  /** `<docCount>` must be a positive integer and at least one term must
    * follow; `--ranked` may sit anywhere after `<docCount>`. A count ≤ 0
    * would make every idf `ln(docCount/df)` NULL, printed as 0.000000. */
  def parse(args: Array[String]): Either[String, Args] = {
    val rest = args.drop(2)
    val terms = rest.filterNot(_ == "--ranked").toSeq
    args.lift(1).flatMap(_.toLongOption) match {
      case Some(docCount) if docCount > 0 && terms.nonEmpty =>
        Right(Args(args(0), docCount, rest.contains("--ranked"), terms))
      case _ => Left(Usage)
    }
  }

  def main(args: Array[String]): Unit = {
    val Args(serveDir, docCount, ranked, terms) = Cli.orExit(parse(args))
    val spark = Cli.session()
    val ii = spark.read.parquet(s"$serveDir/ii")
    val pr = spark.read.parquet(s"$serveDir/pr")
    val docs = spark.read.parquet(s"$serveDir/docs")
    if (ranked) {
      Search.searchRanked(spark, terms, docCount, ii, pr, docs).collect()
        .foreach { r =>
          println(s"${r.getAs[String]("title")}\t" +
            f"${r.getAs[Double]("score")}%.6f\t${r.getAs[Int]("n_terms_hit")}\t" +
            r.getAs[scala.collection.Seq[String]]("snippets").mkString(" | "))
        }
    } else {
      Search.search(spark, terms, docCount, ii, pr, docs).collect()
        .foreach { r =>
          println(s"${r.getAs[String]("term")}\t${r.getAs[String]("title")}\t" +
            f"${r.getAs[Double]("score")}%.6f\t" +
            r.getAs[scala.collection.Seq[String]]("snippets").mkString(" | "))
        }
    }
    spark.stop()
  }
}
