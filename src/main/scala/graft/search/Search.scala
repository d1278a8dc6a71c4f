package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-time scoring + snippets (SURVEY.md §3.3, §2.3 J2, §2.7 F4/F5/F9).
  *
  * The reference's query tool does N+1 HBase point-gets per term/posting
  * (/root/reference/src/main/scala/Query.scala:83-90) and random-access
  * file seeks for snippets (Query.scala:96-103). Spark-first this is ONE
  * declarative three-way join — query terms ⋈ index ⋈ pagerank ⋈ docs.
  * The hit set (postings of a few query terms) is the runtime-small side;
  * AQE broadcasts it against the corpus-scaled pr/docs tables, so serving
  * stays shuffle-light at any corpus size.
  *
  * Score: `0.5·(tf·ln(docCount/df)) + 0.5·pagerank` (Query.scala:52,89).
  * Snippet: chars `[off−20, off+30)` of the line, clipped at both ends like
  * Scala's slice (Query.scala:100) — a pure substring expression, no file
  * seeking (the docs line lives in the corpus Parquet).
  *
  * Parity mode (SURVEY §1.4 #10): the reference prints results in posting
  * order — terms in input order, postings in title order, NO score sort and
  * no dedup across terms. `search` reproduces that exactly via (term_idx,
  * posting ordinal); score ranking is the `searchRanked` extension.
  */
object Search {

  /** index: ii(term, df, postings); pr: (title, pr); docs: (title, line).
    * Returns (term, title, tf, df, pr, score, snippets). */
  def search(spark: SparkSession, terms: Seq[String], docCount: Long,
      index: DataFrame, pr: DataFrame, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val q = terms.zipWithIndex.toDF("term", "term_idx")

    // probe by FILTER, not join: `term IN (…)` pushes into the parquet
    // scan (row-group skipping on the term column), so a point query reads
    // a sliver of the index instead of all postings; the tiny q DF joins
    // back after only to attach the term ordinal.
    index.filter(col("term").isin(terms: _*)).join(q, Seq("term"))
      .select(col("term"), col("term_idx"), col("df"),
        posexplode(col("postings")).as(Seq("pos", "p")))
      .select(col("term"), col("term_idx"), col("pos"), col("df"),
        col("p.title").as("title"), col("p.tf").as("tf"), col("p.ofs").as("ofs"))
      // no broadcast hint on pr: the rank table scales with the corpus
      // (one row per page). The small side here is `hits` (postings of a
      // handful of query terms); AQE sees its runtime size and broadcasts
      // THAT side, which stays valid at any corpus scale.
      .join(pr, Seq("title"), "left_outer")
      .withColumn("pr", coalesce(col("pr"), lit(0.0)))
      .withColumn("score",
        lit(0.5) * (col("tf") * log(lit(docCount.toDouble) / col("df"))) +
          lit(0.5) * col("pr"))
      .join(docs.select(col("title"), col("line")), Seq("title"), "left_outer")
      // Scala-slice clipping: from = max(off−20, 0), until = off+30; SQL
      // substring is 1-based with a length arg, so len = until − from.
      .withColumn("snippets", expr(
        """transform(ofs, o ->
             substring(line,
               cast(greatest(o.char_off - 20, 0) + 1 as int),
               cast(o.char_off + 30 - greatest(o.char_off - 20, 0) as int)))"""))
      .select(col("term"), col("term_idx"), col("pos"), col("title"),
        col("tf"), col("df"), col("pr"), col("score"), col("snippets"))
      .orderBy(asc("term_idx"), asc("pos"))
  }

  /** Extension (flagged OFF the parity path, SURVEY §7.2-4): disjunctive
    * multi-term ranking — the reference concatenates per-term results with
    * duplicate titles (Query.scala:83-90); this variant merges per-title,
    * summing term scores and concatenating snippets, then returns top-k. */
  def searchRanked(spark: SparkSession, terms: Seq[String], docCount: Long,
      index: DataFrame, pr: DataFrame, docs: DataFrame,
      k: Int = 20): DataFrame = {
    search(spark, terms, docCount, index, pr, docs)
      .groupBy(col("title"))
      .agg(sum(col("score")).as("score"),
        count(lit(1)).cast("int").as("n_terms_hit"),
        flatten(collect_list(col("snippets"))).as("snippets"))
      .orderBy(desc("score"), asc("title"))
      .limit(k)
  }
}
