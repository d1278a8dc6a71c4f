package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph construction with the reference's exact semantics
  * (SURVEY.md §1.4 parity traps #1–#3):
  *
  *  - edges whose target is not an existing page are dropped
  *    (/root/reference/src/main/scala/pageRank.scala:209) — expressed here
  *    as a declarative left-semi join (the reference simulates this with a
  *    tagged-key secondary-sort MR pass, pageRank.scala:143-178; Catalyst
  *    picks broadcast vs sort-merge automatically);
  *  - dangling pages get the single out-edge [NULL]; pages with ≥1 real
  *    out-link do NOT keep a NULL edge (pageRank.scala:266-272);
  *  - the sentinel NULL vertex links to every page (pageRank.scala:199-204);
  *  - links are deduplicated (toSet, pageRank.scala:253) — `collect_set`;
  *  - initial rank 1.0 per vertex, NOT 1/N (pageRank.scala:262-272).
  *
  * Scale notes (100 TB): `titles` is small relative to the edge set (one row
  * per page), so the semi-join broadcasts; the only wide shuffle is the
  * groupBy(src) adjacency build, partitioned on the natural key. The NULL
  * row's full-page list materializes V titles into one array — at web scale
  * that single row is the known hot key; the PageRank step handles it by
  * splitting the NULL vertex's contribution analytically (see PageRank).
  */
object GraphBuilder {
  val NullVertex = "NULL"

  /** docs: DataFrame(title: string, links: array<string>) — raw extracted
    * links, possibly referencing non-existent pages, possibly duplicated.
    * Returns graph(title, links, pr) with the semantics above. The NULL
    * row carries the full sorted title list — the reference's literal
    * shape, required by the q24 oracle; [[graft.pagerank.PageRank]] never
    * reads it (the NULL fan-out is computed analytically from pr(NULL)
    * and N). */
  def build(docs: DataFrame): DataFrame = {
    val titles = docs.select(col("title")).distinct()

    val edges = docs
      .select(col("title").as("src"), explode(col("links")).as("dst"))
      .join(titles.withColumnRenamed("title", "dst"), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))

    val adj = edges.groupBy(col("src").as("title"))
      .agg(sort_array(collect_set(col("dst"))).as("links"))

    val withDangling = titles.join(adj, Seq("title"), "left_outer")
      .select(col("title"),
        coalesce(col("links"), array(lit(NullVertex))).as("links"))

    val nullLinks = titles.agg(sort_array(collect_set(col("title"))).as("links"))
      .select(lit(NullVertex).as("title"), col("links"))

    withDangling.unionByName(nullLinks).withColumn("pr", lit(1.0))
  }
}
