package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from per-domain catalogs so each operator family
  * (relational / corpus+search / dedup+similarity / text / events) owns its
  * own Spark implementation and DuckDB oracle side by side.
  */
object SparkEntry {

  private def catalogs: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    graft.queries.Relational.catalog ++
      graft.queries.CorpusSearch.catalog ++
      graft.queries.DedupSim.catalog ++
      graft.queries.TextOps.catalog ++
      graft.queries.TextOps.catalogTrainer ++
      graft.queries.Events.catalog

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q20_tfidf_search")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalogs.map { case (n, q, _) => n -> q }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    catalogs.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  /** A `SPARK_GRAFT_ONLY` value (comma-separated query names, a filter
    * for local iteration) as the set of queries to run; None (run all)
    * when unset. Unknown or empty names are an error: a
    * typo'd filter would otherwise run zero queries and print a
    * clean-looking result. */
  private[graft] def parseOnly(raw: Option[String],
      known: collection.Set[String]): Either[String, Option[Set[String]]] =
    raw match {
      case None => Right(None)
      case Some(v) =>
        val names = v.split(",", -1).toSet
        val bad = names.filterNot(known) // "" is never a query name
        if (bad.isEmpty) Right(Some(names))
        else Left("SPARK_GRAFT_ONLY names unknown or empty queries: " +
          bad.toSeq.sorted.map(n => s"'$n'").mkString(", "))
    }

  /** [[parseOnly]] over the environment, for Bench and Verify: a bad
    * value exits with status 2 before any query runs. */
  def onlyFromEnv(tag: String): Option[Set[String]] =
    parseOnly(sys.env.get("SPARK_GRAFT_ONLY"), queries.keySet).fold(
      msg => { System.err.println(s"[$tag] $msg"); sys.exit(2) }, identity)
}
