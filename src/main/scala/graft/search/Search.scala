package graft.search

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Query-time scoring + snippets (SURVEY.md §3.3, §2.3 J2, §2.7 F4/F5/F9).
  *
  * The reference's query tool (its Query.scala:83-103) does a few HBase
  * point gets per term and one random-access file seek per hit for its
  * snippet. Here a query is two
  * Parquet probes and an assembly on the driver:
  *  1. one job reads the query terms' postings lists (`term IN (…)` pushes
  *     into the scan, so row groups without a query term are skipped);
  *  2. one job reads the hit titles' `pr` and `docs` rows, the two filtered
  *     scans as one union (skipped when no query term is indexed);
  *  3. the driver scores, cuts snippets and returns a local relation, so the
  *     caller's `collect()` starts no further job.
  * Two jobs is the floor: each Spark job costs a fixed dispatch time that
  * dwarfs the work of a point query.
  *
  * Scale: the index drops every term with df ≥ 3000 (InvertedIndex's cutoff,
  * invertedIndex.scala:93-94), so each query term brings fewer than 3,000
  * postings and doc lines to the driver at any corpus size — the same
  * client-side read the reference's query tool does.
  *
  * Score: `0.5·(tf·ln(docCount/df)) + 0.5·pagerank` (Query.scala:52,89),
  * in Spark's operation order with Spark's `ln` (StrictMath), so the value
  * is bit-identical to the same expression evaluated by Spark.
  * Snippet: chars `[off−20, off+30)` of the line, clipped at both ends like
  * Scala's slice (Query.scala:100), cut by Spark's own `substring`
  * (offsets count code points) — no file seeking (the docs line lives in
  * the corpus Parquet).
  *
  * Parity mode (SURVEY §1.4 #10): the reference prints results in posting
  * order — terms in input order, postings in title order, NO score sort and
  * no dedup across terms. `search` reproduces that exactly via (term_idx,
  * posting ordinal); score ranking is the `searchRanked` extension.
  * Both return what a left join of the hits with `pr` and `docs` returns: a
  * title missing from `pr` (or with a NULL pr) scores with pr 0.0, one
  * missing from `docs` gets NULL snippets, and a title on several rows of
  * either table gives one hit row per match.
  */
object Search {

  /** One output row of [[search]]; `tf` and `df` keep the index's types. */
  private final case class Hit(term: String, termIdx: Int, pos: Int, title: String,
      tf: Any, df: Any, pr: Double, score: java.lang.Double, snippets: Seq[String])

  /** index: ii(term, df, postings); pr: (title, pr); docs: (title, line).
    * Returns (term, term_idx, pos, title, tf, df, pr, score, snippets). */
  def search(spark: SparkSession, terms: Seq[String], docCount: Long,
      index: DataFrame, pr: DataFrame, docs: DataFrame): DataFrame = {
    val posting = index.schema("postings").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val schema = StructType(Seq(index.schema("term"),
      StructField("term_idx", IntegerType, nullable = false),
      StructField("pos", IntegerType, nullable = false),
      posting("title"), posting("tf"), index.schema("df"),
      StructField("pr", DoubleType, nullable = false), StructField("score", DoubleType),
      StructField("snippets", ArrayType(StringType), posting("ofs").nullable)))
    val rows = hits(terms, docCount, index, pr, docs).map(h =>
      Row(h.term, h.termIdx, h.pos, h.title, h.tf, h.df, h.pr, h.score, h.snippets))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The hits of [[search]], in (term_idx, pos) order. */
  private def hits(terms: Seq[String], docCount: Long,
      index: DataFrame, pr: DataFrame, docs: DataFrame): Seq[Hit] = {
    // probe 1: the postings lists of the query terms
    val lists = index.filter(col("term").isin(terms: _*))
      .select("term", "df", "postings").collect().toSeq.groupBy(_.getString(0))
    val postings = terms.zipWithIndex.flatMap { case (t, i) =>
      lists.getOrElse(t, Nil).flatMap { r =>
        r.getSeq[Row](2).zipWithIndex.map { case (p, pos) => (t, i, pos, r.get(1), p) }
      }
    }
    // probe 2: the pr and docs rows of the hit titles, one union scan
    val titles = postings.map(_._5.getAs[String]("title")).distinct
    val side = if (titles.isEmpty) Seq.empty[Row] else
      pr.filter(col("title").isin(titles: _*))
        .select(col("title"), lit(true).as("is_pr"), col("pr").cast(DoubleType).as("pr"),
          lit(null).cast(StringType).as("line"))
        .unionByName(docs.filter(col("title").isin(titles: _*))
          .select(col("title"), lit(false).as("is_pr"), lit(null).cast(DoubleType).as("pr"),
            col("line")))
        .collect().toSeq
    val (prRows, docRows) = side.partition(_.getBoolean(1))
    val prOf = prRows.groupMap(_.getString(0))(r => if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    val lineOf = docRows.groupMap(_.getString(0))(_.getString(3))
    for {
      (term, termIdx, pos, df, p) <- postings
      title = p.getAs[String]("title")
      tf = p.getAs[Any]("tf")
      rank <- prOf.getOrElse(title, Seq(0.0))
      line <- lineOf.getOrElse(title, Seq(null))
    } yield Hit(term, termIdx, pos, title, tf, df, rank,
      score(tf, df, docCount, rank), snippets(line, p.getSeq[Row](p.fieldIndex("ofs"))))
  }

  /** `0.5·(tf·ln(docCount/df)) + 0.5·pr`; NULL where Spark's `ln` is NULL
    * (a non-positive argument, i.e. docCount ≤ 0). */
  private def score(tf: Any, df: Any, docCount: Long, pr: Double): java.lang.Double = {
    val ratio = docCount.toDouble / df.asInstanceOf[Number].doubleValue
    if (ratio <= 0) null
    else 0.5 * (tf.asInstanceOf[Number].doubleValue * StrictMath.log(ratio)) + 0.5 * pr
  }

  /** Scala-slice clipping: from = max(off−20, 0), until = off+30; SQL
    * substring is 1-based with a length arg, so len = until − from. A
    * NULL line (title missing from docs) gives NULL snippets. */
  private def snippets(line: String, ofs: Seq[Row]): Seq[String] = {
    val s = UTF8String.fromString(line)
    ofs.map { o =>
      val off = o.getAs[Number]("char_off").longValue
      val from = math.max(off - 20, 0)
      if (s == null) null else s.substringSQL((from + 1).toInt, (off + 30 - from).toInt).toString
    }
  }

  /** ORDER BY score DESC NULLS LAST, title ASC, with Spark's comparisons:
    * doubles as SQL orders them (-0.0 = 0.0, NaN largest), strings by
    * their UTF-8 bytes. */
  private val rankOrder: Ordering[(Option[Double], UTF8String)] = {
    val sqlDouble: Ordering[Double] = (a, b) => SQLOrderingUtil.compareDoubles(a, b)
    val bytes: Ordering[UTF8String] = (a, b) => a.compareTo(b)
    Ordering.Tuple2(Ordering.Option(sqlDouble).reverse, bytes)
  }

  /** Extension (flagged OFF the parity path, SURVEY §7.2-4): disjunctive
    * multi-term ranking — the reference concatenates per-term results with
    * duplicate titles (Query.scala:83-90); this variant merges per-title,
    * summing term scores and concatenating snippets, then returns top-k.
    * Returns (title, score, n_terms_hit, snippets). */
  def searchRanked(spark: SparkSession, terms: Seq[String], docCount: Long,
      index: DataFrame, pr: DataFrame, docs: DataFrame,
      k: Int = 20): DataFrame = {
    require(k >= 0, s"k must be non-negative, got $k")
    val merged = hits(terms, docCount, index, pr, docs).groupBy(_.title).toSeq.map {
      case (title, hs) =>
        val scores = hs.flatMap(h => Option(h.score)).map(_.doubleValue)
        (title, if (scores.isEmpty) None else Some(scores.sum), hs.size, hs.flatMap(_.snippets))
    }
    val rows = merged.sortBy(m => (m._2, UTF8String.fromString(m._1)))(rankOrder).take(k)
      .map { case (title, score, n, snips) => Row(title, score.map(Double.box).orNull, n, snips) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("title", StringType), StructField("score", DoubleType),
      StructField("n_terms_hit", IntegerType, nullable = false),
      StructField("snippets", ArrayType(StringType)))))
  }
}
