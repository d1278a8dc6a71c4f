package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.corpus.WikiCorpus

/** Positional inverted index (SURVEY.md §2.4 A6/A7, §2.2 P5).
  *
  * Schema: `ii(term, df, postings: array<struct<title, tf,
  * ofs: array<struct<line_off, char_off>>>>)` — postings sorted by title
  * (the reference's (term,title) secondary sort,
  * /root/reference/src/main/scala/invertedIndex.scala:83-86), occurrence
  * offsets in (line_off, char_off) order, and postings lists with
  * df ≥ cutoff (3000) silently dropped (invertedIndex.scala:93-94).
  *
  * Spark-first shape: one aggregation level over postings, not occurrences.
  * The reference's hand-written combiner (invertedIndex.scala:68-76) folds
  * each document's occurrences into one `TermInfo(title, tf, offsets)`;
  * here a shuffle on title gathers each title's lines (every line with that
  * title, as the reference merges them), and one UDF call per title
  * tokenizes them and emits one `(term, tf, ofs)` posting per term. The one
  * `groupBy(term)` then assembles the postings, and `sort_array` reproduces
  * the secondary-sort title order without a custom partitioner/comparator.
  * The title shuffle moves one row per document line, where a per-token
  * plan would move one row per occurrence.
  *
  * Scale notes (100 TB): the term shuffle is where skewed hot terms bite;
  * the df cutoff bounds any single postings array that survives, and a
  * posting per (term, title) is bounded by the title's text. A title's
  * lines meet in one task, so a title with a pathological number of lines
  * is the other skew risk.
  */
object InvertedIndex {

  val DefaultDfCutoff = 3000

  private val tokUdf = udf { (body: String, bodyOff: Int) =>
    WikiCorpus.tokenize(body, bodyOff)
  }

  /** docs(title, line_offset, body_off, body) → occurrences
    * (term, title, line_off, char_off), one row per token occurrence. */
  def occurrences(docs: DataFrame): DataFrame =
    graft.core.Portable.explodeLean(
      docs.filter(col("body").isNotNull),
      Seq(col("title"), col("line_offset")),
      tokUdf(col("body"), col("body_off")), "t")
      .select(col("t._1").as("term"), col("title"),
        col("line_offset").as("line_off"), col("t._2").cast("long").as("char_off"))

  /** One title's postings, declared rather than inferred: a tuple UDF's
    * inferred type would make `tf`, `ofs` and `line_off` nullable
    * (IndexBuildSpec pins the schema). */
  private val PostingsType = ArrayType(StructType(Seq(
    StructField("term", StringType),
    StructField("tf", IntegerType, nullable = false),
    StructField("ofs", ArrayType(StructType(Seq(
      StructField("line_off", LongType, nullable = false),
      StructField("char_off", LongType))), containsNull = false), nullable = false))),
    containsNull = false)

  /** The combiner: all lines of one title, `(line_offset, body_off, body)`,
    * → one `(term, tf, ofs)` per term. Offsets are sorted, not just
    * concatenated: lines from two input files can share a line offset. */
  private val titlePostingsUdf = udf(new UDF1[collection.Seq[Row], Seq[Row]] {
    def call(lines: collection.Seq[Row]): Seq[Row] =
      lines.flatMap { l =>
        WikiCorpus.tokenize(l.getString(2), l.getInt(1)).map { case (term, c) =>
          (term, l.getLong(0), c.toLong)
        }
      }.groupBy(_._1).iterator.map { case (term, occ) =>
        Row(term, occ.size, occ.map(o => (o._2, o._3)).sorted.map(o => Row(o._1, o._2)))
      }.toSeq
  }, PostingsType)

  /** docs → one row per (term, title) with tf and offsets — shared by
    * [[build]] and [[merge]] so the posting shape cannot drift between the
    * batch and incremental paths. */
  private def postingsByDoc(docs: DataFrame): DataFrame =
    docs.filter(col("body").isNotNull)
      .groupBy(col("title"))
      .agg(collect_list(struct(col("line_offset"), col("body_off"), col("body"))).as("lines"))
      // plain explode: its element is NOT NULL, so p's fields keep their
      // declared nullability; the argument is not an attribute, so no
      // filter re-evaluating the UDF is inferred beneath it
      .select(col("title"), explode(titlePostingsUdf(col("lines"))).as("p"))
      .select(col("p.term").as("term"), col("title"), col("p.tf").as("tf"), col("p.ofs").as("ofs"))

  /** Full index build with the df cutoff: postings → one `groupBy(term)`.
    * The cut terms' postings are built and then dropped: a df pre-pass
    * that skips them costs an aggregation over every posting, and measured
    * slower at 4k and at 50k pages (ROADMAP item 1). */
  def build(docs: DataFrame, dfCutoff: Int = DefaultDfCutoff): DataFrame =
    postingsByDoc(docs)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("title"), col("tf"), col("ofs")))).as("postings"),
        count(lit(1)).cast("int").as("df"))
      .filter(col("df") < dfCutoff)
      .select(col("term"), col("df"), col("postings"))

  /** Incremental maintenance: fold a delta corpus into an existing index
    * without rebuilding it — `merge(build(A, uncut), B, cutoff)` ==
    * `build(A ∪ B, cutoff)` (IndexMergeSpec pins the equality on the
    * golden corpus; the q59 gate pins it against a full-rebuild oracle).
    *
    * The reference can only rebuild from scratch
    * (/root/reference/src/main/scala/invertedIndex.scala runs one batch
    * job over all inputs); this is the operator a growing corpus needs.
    *
    * Contract:
    *  - `existing` must be an UNCUT index (dfCutoff = Int.MaxValue at
    *    build): a term already dropped by a cutoff cannot be resurrected,
    *    so the cutoff belongs here (or at serving), applied to merged df.
    *  - delta titles must be new (disjoint from existing titles);
    *    re-ingesting a document is an upsert, not a merge, and would need
    *    a delete pass first.
    *
    * Because delta titles are new, a touched term's merged postings are
    * its old postings plus the delta's, re-sorted by title: the delta is
    * tokenized and aggregated per term once, and no existing posting is
    * unnested.
    *
    * Scale notes (100 TB index, small delta): the per-term delta table
    * joins the index twice, left-outer (every existing term) and anti
    * (terms new to the index). Both joins read the one shuffle of the
    * delta's postings, so its title UDF runs once per title
    * (IndexMergeSpec pins a single Generate); AQE does not reuse a shuffle
    * above a cached relation, so a cached delta is tokenized once per
    * join. A small delta broadcasts, so the index is scanned but never
    * shuffled, and only touched terms that pass the merged-df cutoff pay
    * a concat and sort. */
  def merge(existing: DataFrame, deltaDocs: DataFrame,
      dfCutoff: Int = DefaultDfCutoff): DataFrame = {
    // the left-outer join infers `term IS NOT NULL` on its delta side and
    // the anti join does not; stating it keeps the two delta subplans
    // equal, so they share one shuffle and the UDF runs once
    val delta = postingsByDoc(deltaDocs)
      .filter(col("term").isNotNull)
      .groupBy(col("term"))
      .agg(sort_array(collect_list(struct(col("title"), col("tf"), col("ofs")))).as("dpost"),
        count(lit(1)).cast("int").as("ddf"))
    val old = existing.join(delta, Seq("term"), "left_outer")
      .select(col("term"), (col("df") + coalesce(col("ddf"), lit(0))).as("df"),
        when(col("dpost").isNull, col("postings"))
          .otherwise(sort_array(concat(col("postings"), col("dpost")))).as("postings"))
    val added = delta.join(existing.select(col("term")), Seq("term"), "left_anti")
      .select(col("term"), col("ddf").as("df"), col("dpost").as("postings"))
    old.unionByName(added).filter(col("df") < dfCutoff)
  }
}
