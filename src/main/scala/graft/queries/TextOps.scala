package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Portable._
import graft.core.{Scoped, Tables}

/** Text-analysis operators a training-data pipeline needs at scale:
  * language-ID (stopword-ratio heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), rolling-hash document fingerprinting, and
  * corpus-level stats. All column-expression only (codegen'd, no UDFs);
  * every hash/fold is portable to the DuckDB oracle (see Portable).
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** q220's canonical per-row checksum hash — ONE definition shared by
    * the batch audit and [[graft.streaming.EventStreams.checksumStream]]
    * so stream and batch fingerprints are bit-identical by construction
    * (the cdcChunkHashArray / winnowFpsExpr contract). */
  private[graft] def checksumHash(docId: Column, text: Column, lang: Column): Column =
    hash32(concat_ws(":", docId.cast("string"), md5(text), lang))

  private val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  private val stopSparkArr = stop.map(x => s"'$x'").mkString("array(", ", ", ")")
  private val stopDuckList = stop.map(x => s"'$x'").mkString("[", ", ", "]")

  /** High-frequency English character trigrams (public linguistics
    * commonplace — the usual "the/and/ing/ion" family). None self-overlaps
    * (no g has g[0]==g[2]), which makes non-overlapping replace()-based
    * occurrence counting exact — see q45. */
  private val enTrigrams = Seq(
    "the", "he ", " th", "ing", "ng ", "and", "nd ", " an", " of", "of ",
    "ed ", " in", "ion", "on ", "is ", " is", "at ", " to", "to ", "er ",
    "es ", " co", "ent", "her", "as ", " be", " re", "in ", "re ", " ha")

  /** Corpus-frequency boilerplate removal (q127): segment each document
    * into fixed `unit`-token pieces, count each piece's DOCUMENT frequency
    * across the corpus, strip pieces appearing in >= `thr` docs, and
    * rebuild each document from its surviving pieces in position order.
    * Input: (doc_id, text); output one row per input doc —
    * (doc_id, n_segs, kept_segs, dropped_segs, clean_hash) where
    * clean_hash is md5 of the rebuilt text (md5('') when everything was
    * boilerplate). The drop side is at most |segments|/thr distinct
    * values — bounded by construction — so it broadcasts and the strip
    * is a map-side anti-join; see the q127 catalog comment for the full
    * scale argument. */
  /** The shared fixed-`unit`-token segmentation of q127's boilerplate
    * strip — one row per (doc, segment) with the doc's total segment
    * count; `carry` names extra columns to keep (the streaming twin
    * carries `ts`). Map-side only. */
  private[graft] def boilerplateSegments(docs: DataFrame, unit: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val base = docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_segs", expr(s"cast(ceil(size(tk) / $unit.0d) as bigint)"))
    explodeLean(base, Seq(col("doc_id"), col("n_segs")) ++ carry.map(col),
      expr(s"""transform(sequence(0, cast(n_segs as int) - 1),
               i -> named_struct('seg_idx', cast(i as bigint),
                 'seg', concat_ws(' ', slice(tk, i * $unit + 1, $unit))))"""), "sg")
      .select((Seq(col("doc_id"), col("n_segs")) ++ carry.map(col)) ++
        Seq(col("sg.seg_idx").as("seg_idx"), col("sg.seg").as("seg")): _*)
  }

  /** The segments appearing in >= `thr` distinct documents — the
    * boilerplate lexicon q127 strips and the streaming twin probes.
    * Bounded at |segments|/thr distinct values by construction. */
  private[graft] def boilerplateDropSet(docs: DataFrame, unit: Int, thr: Long): DataFrame =
    boilerplateSegments(docs, unit).groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= thr).select(col("seg"))

  private[graft] def boilerplateStrip(docs: DataFrame, unit: Int, thr: Long): DataFrame = {
    val base = docs
      .withColumn("tk", split(col("text"), " "))
      .withColumn("n_segs", expr(s"cast(ceil(size(tk) / $unit.0d) as bigint)"))
    val segs = boilerplateSegments(docs, unit)
      .select(col("doc_id"), col("seg_idx"), col("seg"))
    val dropSet = boilerplateDropSet(docs, unit, thr)
    val kept = segs.join(broadcast(dropSet), Seq("seg"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_segs"),
        collect_list(struct(col("seg_idx"), col("seg"))).as("lst"))
      .withColumn("clean_hash",
        md5(concat_ws(" ", expr("transform(array_sort(lst), x -> x.seg)"))))
    base.select(col("doc_id"), col("n_segs"))
      .join(kept.select(col("doc_id"), col("kept_segs"), col("clean_hash")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("kept_segs"), lit(0L)).as("kept_segs"),
        (col("n_segs") - coalesce(col("kept_segs"), lit(0L))).as("dropped_segs"),
        coalesce(col("clean_hash"), md5(lit(""))).as("clean_hash"))
  }

  /** q128's hashed-bigram feature space size. */
  private[graft] val DsirBuckets = 1024

  /** q98's sliding-window chunker (128-token windows, stride 96) as a
    * shared MAP-ONLY derivation: one row per chunk with its token count
    * and content hash. `carry` keeps extra columns (the streaming RAG
    * ingest twin carries `ts`), so batch rebuilds and ingest-time
    * chunking can never disagree on boundaries. */
  private[graft] def chunkRows(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    docs
      .select(Seq(col("doc_id")) ++ carry.map(col) :+
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"): _*)
      .withColumn("n", size(col("ws")).cast("long"))
      .filter(col("n") >= 1)
      .withColumn("nc",
        lit(1L) + expr("(greatest(n - 128L, 0L) + 95L) div 96L"))
      .select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(col("ws"), col("n"),
        explode(expr("sequence(0L, nc - 1)")).as("i")): _*)
      .select(Seq(col("doc_id")) ++ carry.map(col) ++ Seq(
        col("i").as("chunk_idx"),
        least(lit(128L), col("n") - col("i") * 96).as("n_chunk_tokens"),
        md5(expr("concat_ws(' ', slice(ws, cast(i * 96 + 1 as int), 128))"))
          .as("chunk_md5")): _*)

  /** 8-gram md5 fingerprints of a token array column `ws` — the rolling
    * fingerprint q145's attribution and q129's span dedup rank with,
    * shared so batch audits and the serving-time memorization guard
    * ([[graft.streaming.EventStreams.attributionStream]]) can never
    * disagree on what a gram is. */
  private[graft] val gram8Expr = expr(
    """if(size(ws) < 8, array(),
         transform(sequence(1, size(ws) - 7),
           i -> md5(concat_ws(' ', slice(ws, i, 8)))))""")

  /** The corpus-side gram index (doc_id, g) DISTINCT — the persistable
    * artifact attribution probes join against. */
  private[graft] def corpusGramIndex(docs: DataFrame): DataFrame =
    explodeLean(
      docs.select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws")),
      Seq(col("doc_id")), gram8Expr, "g").distinct()

  /** Per-probe DISTINCT gram rows, MAP-ONLY (`array_distinct` before the
    * explode, so no per-probe shuffle or state — the shape the streaming
    * guard needs). `carry` keeps extra columns (`ts` on a stream). */
  private[graft] def probeGramRows(probes: DataFrame,
      carry: Seq[String] = Nil): DataFrame =
    explodeLean(
      probes.select(Seq(col("probe_id")) ++ carry.map(col) :+
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"): _*),
      Seq(col("probe_id")) ++ carry.map(col), array_distinct(gram8Expr), "g")

  /** One row per word-BIGRAM occurrence of `text` (lowercased [a-z]+
    * tokens, space-joined pairs) — the shared map-side derivation under
    * BOTH corpus language models: q128's hashed DSIR features and q133's
    * bigram LM (and their ingest twins), so batch and stream can never
    * disagree on what a bigram is. `carry` keeps extra columns (the
    * streaming scorers carry `ts`). */
  private[graft] def bigramRows(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    explodeLean(
      docs.withColumn("ws", expr("regexp_extract_all(lower(text), '[a-z]+', 0)")),
      Seq(col("doc_id")) ++ carry.map(col),
      expr("""if(size(ws) < 2, array(),
               transform(sequence(1, size(ws) - 1),
                 i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))))"""),
      "bg")

  /** One row per hashed-bigram FEATURE OCCURRENCE of `text` — q128's
    * feature map ([[bigramRows]] folded onto the fixed bucket space). */
  private[graft] def dsirFeatureRows(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    bigramRows(docs, carry)
      .withColumn("b", hash32(col("bg")) % DsirBuckets)
      .drop("bg")

  /** q133's interpolated bigram LM assembled from an aggregable
    * (bg, c) occurrence-count table: per-bigram log-probability
    * lp4 = ⌊log(0.75·c/c(w1·) + 0.25·c(·w2)/N)·1e4 + 0.5⌋ — the model
    * both the batch perplexity ranking and
    * [[graft.streaming.EventStreams.pplScoreStream]] score against.
    * Marginal joins carry no broadcast hint (ADVICE r12): vocab-sized
    * sides are AQE's call, only the 1-row total is hinted. */
  private[graft] def bigramLmModel(bgCounts: DataFrame): DataFrame = {
    val model = bgCounts.groupBy(col("bg")).agg(sum(col("c")).as("cbi"))
      .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      .withColumn("w2", expr("split_part(bg, ' ', 2)"))
    val left = model.groupBy(col("w1")).agg(sum(col("cbi")).as("cl"))
    val right = model.groupBy(col("w2")).agg(sum(col("cbi")).as("cr"))
    val tot = model.agg(sum(col("cbi")).as("n_bi"))
    model
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("bg"),
        floor(log(lit(0.75) * (col("cbi").cast("double") / col("cl").cast("double"))
          + lit(0.25) * (col("cr").cast("double") / col("n_bi").cast("double")))
          * 1e4 + 0.5).as("lp4"))
  }

  val catalog: Seq[(String, Q, Option[String])] = Seq(

    // ---- language ID: English-stopword-ratio heuristic
    ("q40_langid",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("n_tokens", size(col("ws")).cast("long"))
          .withColumn("n_stop",
            expr(s"size(filter(ws, w -> array_contains($stopSparkArr, w)))").cast("long"))
          .withColumn("stop_ratio",
            round(col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1L)), 4))
          .withColumn("pred_lang",
            when(col("stop_ratio") >= 0.05, lit("en")).otherwise(lit("other")))
          .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_stop"),
            col("stop_ratio"), col("pred_lang"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, lang, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        e AS (SELECT doc_id, lang,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(ws, w -> list_contains($stopDuckList, w))) AS BIGINT) AS n_stop
          FROM d)
        SELECT doc_id, lang, n_tokens, n_stop,
          ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) AS stop_ratio,
          CASE WHEN ROUND(CAST(n_stop AS DOUBLE) / greatest(n_tokens, 1), 4) >= 0.05
               THEN 'en' ELSE 'other' END AS pred_lang
        FROM e ORDER BY doc_id""")),

    // ---- quality scoring: length / alpha-ratio / mean-word-length mix.
    // Rounding is floor(x·1e4 + 0.5)/1e4 — pure correctly-rounded IEEE ops,
    // bit-identical across engines (decimal-string ROUND() is not: Spark
    // and DuckDB disagree on half-way doubles, e.g. 0.72125).
    ("q41_quality",
      (s: SparkSession, dir: String) => {
        def r4(c: org.apache.spark.sql.Column) = floor(c * 1e4 + 0.5) / 1e4
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("n_tokens", size(col("ws")).cast("long"))
          .withColumn("n_alpha", length(array_join(col("ws"), "")).cast("long"))
          .withColumn("alpha_ratio",
            r4(col("n_alpha").cast("double") / greatest(length(col("text")).cast("long"), lit(1L))))
          .withColumn("avg_w_len",
            r4(col("n_alpha").cast("double") / greatest(col("n_tokens"), lit(1L))))
          .withColumn("quality_score",
            r4(lit(0.4) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
              + lit(0.3) * col("alpha_ratio")
              + lit(0.3) * least(col("avg_w_len") / 10.0, lit(1.0))))
          .select(col("doc_id"), col("n_tokens"), col("alpha_ratio"),
            col("avg_w_len"), col("quality_score"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, text, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        e AS (SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_alpha,
            CAST(length(text) AS BIGINT) AS n_chars
          FROM d),
        f AS (SELECT doc_id, n_tokens,
            floor(CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
            floor(CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) * 10000.0 + 0.5) / 10000.0 AS avg_w_len
          FROM e)
        SELECT doc_id, n_tokens, alpha_ratio, avg_w_len,
          floor((0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
            + 0.3 * alpha_ratio + 0.3 * least(avg_w_len / 10.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS quality_score
        FROM f ORDER BY doc_id""")),

    // ---- token counting: regex tokens, distinct tokens, type-token ratio,
    // BPE-ish subword count (letters-runs | digit-runs | other-non-space)
    ("q42_token_stats",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"),
            expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)").as("sub"))
          .select(col("doc_id"),
            size(col("ws")).cast("long").as("n_tokens"),
            size(array_distinct(col("ws"))).cast("long").as("n_unique"),
            round(size(array_distinct(col("ws"))).cast("double")
              / greatest(size(col("ws")), lit(1)), 4).as("ttr"),
            size(col("sub")).cast("long").as("n_subtokens"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
            regexp_extract_all(text, '[a-zA-Z]+') AS ws,
            regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]') AS sub
          FROM documents)
        SELECT doc_id,
          CAST(len(ws) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(ws)) AS BIGINT) AS n_unique,
          ROUND(CAST(len(list_distinct(ws)) AS DOUBLE) / greatest(len(ws), 1), 4) AS ttr,
          CAST(len(sub) AS BIGINT) AS n_subtokens
        FROM d ORDER BY doc_id""")),

    // ---- rolling-hash document fingerprint over the token stream
    // (order-sensitive, unlike the content-hash of q30)
    ("q43_fingerprint",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("hs", expr(
            "transform(ws, w -> cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint) % 2147483647)"))
          .withColumn("fingerprint", expr(
            "aggregate(hs, cast(0 as bigint), (acc, x) -> (acc * 31 + x) % 2147483647)"))
          .select(col("doc_id"), col("fingerprint"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        h AS (SELECT doc_id,
            list_transform(ws, w -> ('0x' || substr(md5(w), 1, 8))::BIGINT % 2147483647) AS hs
          FROM d)
        SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
            (acc, x) -> (acc * 31 + x) % 2147483647) AS fingerprint
        FROM h ORDER BY doc_id""")),

    // ---- language ID, n-gram variant: fraction of the document's
    // character trigrams that occur in a fixed English trigram profile
    // (the builder-prompt's "n-gram heuristic"; q40 is the cheaper
    // stopword-ratio heuristic). Pure codegen'd array expressions.
    // NOTE: the synthetic fixture text carries no language signal at the
    // character level (all langs score hit_ratio ≈ 0.06), so the threshold
    // is arbitrary here — the query exercises the n-gram plumbing and
    // engine parity, not classifier quality.
    // n_hit = Σ_g occurrences(g): because no profile trigram self-overlaps,
    // non-overlapping replace() counting equals the positional count —
    // 30 codegen'd string ops per doc instead of a per-position lambda
    // over millions of substrings (was the slowest catalog query).
    ("q45_langid_ngram",
      (s: SparkSession, dir: String) => {
        val hitSum = enTrigrams
          .map(g => s"(length(lt) - length(replace(lt, '$g', '')))")
          .mkString("(", " + ", ") div 3")
        t(s, dir, "documents")
          .withColumn("lt", lower(col("text")))
          .withColumn("n_tg", greatest(length(col("lt")) - 2, lit(0)).cast("long"))
          .withColumn("n_hit", expr(hitSum).cast("long"))
          .withColumn("hit_ratio",
            floor(col("n_hit").cast("double") / greatest(col("n_tg"), lit(1L)) * 1e4 + 0.5) / 1e4)
          .withColumn("pred_lang",
            when(col("hit_ratio") >= 0.18, lit("en")).otherwise(lit("other")))
          .select(col("doc_id"), col("lang"), col("n_tg"), col("n_hit"),
            col("hit_ratio"), col("pred_lang"))
          .orderBy(col("doc_id"))
      },
      Some {
        val hitSum = enTrigrams
          .map(g => s"(length(lt) - length(replace(lt, '$g', '')))")
          .mkString("(", " + ", ") // 3")
        s"""WITH d AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
          e AS (SELECT doc_id, lang,
              CAST(greatest(length(lt) - 2, 0) AS BIGINT) AS n_tg,
              CAST($hitSum AS BIGINT) AS n_hit
            FROM d)
          SELECT doc_id, lang, n_tg, n_hit,
            floor(CAST(n_hit AS DOUBLE) / greatest(n_tg, 1) * 10000.0 + 0.5) / 10000.0 AS hit_ratio,
            CASE WHEN floor(CAST(n_hit AS DOUBLE) / greatest(n_tg, 1) * 10000.0 + 0.5) / 10000.0 >= 0.18
                 THEN 'en' ELSE 'other' END AS pred_lang
          FROM e ORDER BY doc_id"""
      }),

    // ---- entity redaction (the PII-scrub shape every training-data
    // pipeline needs: regex match → count → replace → rehash). The
    // pattern's alternatives share no common prefix, so Java-regex
    // (leftmost-first) and RE2 (leftmost-longest) agree on every match.
    // Pure codegen'd string expressions — at 100 TB this is a narrow
    // map-only pass, no shuffle before the final presentation sort.
    ("q46_pii_redact",
      (s: SparkSession, dir: String) => {
        val pat = "customer|supplier|order"
        t(s, dir, "documents")
          .withColumn("n_hits",
            size(expr(s"regexp_extract_all(text, '$pat', 0)")).cast("long"))
          .filter(col("n_hits") > 0)
          .select(col("doc_id"), col("n_hits"),
            md5(regexp_replace(col("text"), pat, "[REDACTED]")).as("red_hash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(regexp_extract_all(text, 'customer|supplier|order')) AS BIGINT) AS n_hits,
            md5(regexp_replace(text, 'customer|supplier|order', '[REDACTED]', 'g')) AS red_hash
          FROM documents)
        SELECT doc_id, n_hits, red_hash FROM d
        WHERE n_hits > 0 ORDER BY doc_id""")),

    // ---- corpus-level stats rollup
    ("q44_corpus_stats",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("lang"), col("source"), col("n_chars"),
            size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).cast("long").as("n_tokens"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            sum(col("n_tokens")).cast("long").as("total_tokens"),
            round(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"))
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH d AS (SELECT lang, source, n_chars,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_tokens
          FROM documents)
        SELECT lang, source, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
          ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
        FROM d GROUP BY lang, source ORDER BY lang, source""")),

    // ---- per-language document-length histogram (100-char bins): the
    // data-quality profiling pass a training pipeline runs before setting
    // length filters. Pure integer arithmetic (div is exact in both
    // engines on the positive BIGINT column) and one partial-aggregated
    // groupBy — a map-side-combined single shuffle at any corpus size.
    ("q66_length_histogram",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("lang"), expr("n_chars div 100").as("bin"), col("n_chars"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy(col("lang"), col("bin"))
      },
      Some("""SELECT lang, n_chars // 100 AS bin, COUNT(*) AS n,
        MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY 1, 2 ORDER BY lang, bin""")),

    // ---- top-5 terms per language by DOCUMENT frequency (distinct docs
    // containing the term; ties broken by term). explode(array_distinct)
    // keeps the shuffle at one row per (doc, distinct term) — the same
    // pre-dedup that the inverted-index build uses — and the per-language
    // top-k is a partitioned window over the (much smaller) df aggregate.
    // At 100 TB the df aggregate is the only big shuffle and it is
    // map-side combined; the window runs per language, not globally.
    ("q72_top_terms_lang",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents")
          .select(col("lang"),
            explode(array_distinct(
              expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))).as("term"))
        d.groupBy(col("lang"), col("term")).agg(count(lit(1)).as("df"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("lang")).orderBy(desc("df"), asc("term"))))
          .filter(col("rk") <= 5)
          .select(col("lang"), col("rk").cast("long").as("rk"),
            col("term"), col("df"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH d AS (SELECT lang,
            unnest(list_distinct(regexp_extract_all(text, '[a-zA-Z]+'))) AS term
          FROM documents),
        f AS (SELECT lang, term, COUNT(*) AS df FROM d GROUP BY 1, 2),
        r AS (SELECT lang, term, df,
            row_number() OVER (PARTITION BY lang ORDER BY df DESC, term) AS rk
          FROM f)
        SELECT lang, CAST(rk AS BIGINT) AS rk, term, df
        FROM r WHERE rk <= 5 ORDER BY lang, rk""")),

    // ---- benchmark-contamination screening: flag training docs sharing
    // any word-13-gram with a benchmark set, and report the containment
    // fraction (shared / benchmark's grams) — the n-gram-overlap decontam
    // check every LLM training pipeline runs before training. The
    // benchmark set here is DERIVED (first-20-token prompts of doc_id%53
    // docs, re-keyed onto the 10^12 grid) so contamination exists by construction and the
    // gate verifies the hit path, exactly like q30/q36's planted dups.
    // Scale shape: benchmark n-grams are tiny (benchmarks are KBs-MBs, the
    // corpus is the 100 TB side) — they BROADCAST to the corpus n-gram
    // stream, so the corpus is touched once, map-side, with no corpus
    // self-join and no shuffle of corpus grams; only the (rare) hits
    // shuffle into the per-(bench,doc) count.
    ("q77_contamination",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        // per-doc gram dedup happens INSIDE the row (array_distinct on the
        // gram array, before the explode): doc_id is unique per input row,
        // so the exploded (doc_id, gram) stream is already globally
        // distinct — a post-explode .distinct() here would shuffle every
        // corpus gram and contradict the map-only broadcast-probe design
        // (it did, until r7: the one plan-level finding of VERDICT r6).
        // Grams ride the native 60-bit fingerprint (gram_hash60, r17 —
        // the probe only needs gram EQUALITY): no 13-token string is
        // ever materialized on the corpus side, and the broadcast set
        // carries longs instead of ~90-byte strings. A/B in SCALING.md.
        def grams13(d: DataFrame): DataFrame = explodeLean(
          d.select(col("doc_id"), expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
            .filter(size(col("ws")) >= 13),
          Seq(col("doc_id")),
          expr("array_distinct(gram_hash60(ws, 13))"),
          "gram")
        val bench = docs.filter(col("doc_id") % 53 === 0)
          .select((col("doc_id") + expr("5000000000000L")).as("doc_id"),
            expr("concat_ws(' ', slice(regexp_extract_all(text, '[a-zA-Z]+', 0), 1, 20))").as("text"))
        val bg = grams13(bench)
          .select(col("doc_id").as("bench_id"), col("gram"))
          .localCheckpoint() // feeds the sizes agg and the probe join
        Scoped.releaseAfterUse(bg)
        val sizes = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench"))
        grams13(docs)
          .join(broadcast(bg), Seq("gram"))
          .groupBy(col("bench_id"), col("doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .join(broadcast(sizes), Seq("bench_id"))
          .select(col("bench_id"), col("doc_id"), col("n_shared"),
            (floor(col("n_shared").cast("double") / col("n_bench") * 1e4 + 0.5) / 1e4).as("containment"))
          .orderBy(col("bench_id"), col("doc_id"))
      },
      Some("""WITH bench AS (SELECT doc_id + 5000000000000 AS doc_id,
            array_to_string(list_slice(regexp_extract_all(text, '[a-zA-Z]+'), 1, 20), ' ') AS text
          FROM documents WHERE doc_id % 53 = 0),
        bw AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM bench),
        bg AS (SELECT doc_id AS bench_id,
            unnest(list_distinct(list_transform(range(0, greatest(len(ws) - 12, 0)),
              i -> ('0x' || substr(md5(array_to_string(
                list_slice(ws, i + 1, i + 13), ' ')), 1, 15))::BIGINT))) AS gram
          FROM bw WHERE len(ws) >= 13),
        dw AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        dg AS (SELECT doc_id,
            unnest(list_distinct(list_transform(range(0, greatest(len(ws) - 12, 0)),
              i -> ('0x' || substr(md5(array_to_string(
                list_slice(ws, i + 1, i + 13), ' ')), 1, 15))::BIGINT))) AS gram
          FROM dw WHERE len(ws) >= 13),
        sizes AS (SELECT bench_id, COUNT(*) AS n_bench FROM bg GROUP BY 1),
        sh AS (SELECT bg.bench_id, dg.doc_id, COUNT(*) AS n_shared
               FROM dg JOIN bg ON dg.gram = bg.gram GROUP BY 1, 2)
        SELECT sh.bench_id, sh.doc_id, sh.n_shared,
          floor(CAST(n_shared AS DOUBLE) / n_bench * 10000.0 + 0.5) / 10000.0 AS containment
        FROM sh JOIN sizes ON sh.bench_id = sizes.bench_id
        ORDER BY sh.bench_id, sh.doc_id""")),

    // ---- within-document repetition ratio: fraction of duplicate word
    // 3-grams — the Gopher/MassiveText-style quality rule that screens
    // boilerplate/generated text before training. Pure per-row array
    // expressions (no explode, no shuffle): the 3-gram list and its
    // distinct count never leave the row, so this is a map-only pass at
    // any corpus size. The size(ws) >= 3 guard matters: Spark's
    // sequence(0, n) with n < 0 would generate a DESCENDING sequence,
    // not an empty one.
    ("q78_repetition",
      (s: SparkSession, dir: String) => {
        val r4 = (c: org.apache.spark.sql.Column) => floor(c * 1e4 + 0.5) / 1e4
        t(s, dir, "documents")
          .select(col("doc_id"), expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("g3", when(size(col("ws")) >= 3,
            expr("transform(sequence(0, size(ws)-3), i -> concat_ws(' ', slice(ws, i+1, 3)))"))
            .otherwise(expr("cast(array() as array<string>)")))
          .select(col("doc_id"),
            size(col("g3")).cast("long").as("n_3grams"),
            size(array_distinct(col("g3"))).cast("long").as("n_distinct"),
            r4((size(col("g3")) - size(array_distinct(col("g3")))).cast("double")
              / greatest(size(col("g3")), lit(1))).as("rep_ratio"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        g AS (SELECT doc_id,
            CASE WHEN len(ws) >= 3 THEN list_transform(range(0, len(ws) - 2),
              i -> array_to_string(list_slice(ws, i + 1, i + 3), ' '))
            ELSE [] END AS g3
          FROM d)
        SELECT doc_id,
          CAST(len(g3) AS BIGINT) AS n_3grams,
          CAST(len(list_distinct(g3)) AS BIGINT) AS n_distinct,
          floor(CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
            / greatest(len(g3), 1) * 10000.0 + 0.5) / 10000.0 AS rep_ratio
        FROM g ORDER BY doc_id""")),

    // ---- sequence packing: assign docs to fixed 2048-token context bins
    // by running token count in doc order — the batch-construction step
    // of a pretraining pipeline (greedy sequential packing; bin id =
    // floor((cumsum-1)/2048) so a doc ending exactly on the boundary
    // stays in its bin). Packing is per OUTPUT SHARD —
    // Window.partitionBy(shard).orderBy(doc_id), see [[sequencePacking]] —
    // so no corpus-wide single-partition window exists at any shard
    // count. The gate runs nShards=1 (the fixture's single logical
    // shard), where per-shard ≡ global packing (PropertySpec pins the
    // equivalence and exercises nShards=4).
    ("q84_sequence_packing",
      (s: SparkSession, dir: String) => sequencePacking(s, dir).drop("shard"),
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT doc_id, n_tok,
            SUM(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d)
        SELECT CAST((cum - 1) // 2048 AS BIGINT) AS bin,
          COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
          MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM c GROUP BY 1 ORDER BY bin""")),

    // ---- unigram-LM surprisal scoring (the cheap stand-in for a
    // perplexity quality filter): fit a unigram model over the corpus'
    // own tokens, then score each doc by average negative log-probability
    // and keep the 20 most surprising — exactly the "drop gibberish /
    // boilerplate outliers" filter step of an LLM data pipeline. Float
    // parity discipline: ln() is evaluated ONCE PER DISTINCT TERM on the
    // model side and immediately quantized to an integer 1e-4 grid, so
    // the per-doc aggregation is pure integer arithmetic (order-free) and
    // the final division is one IEEE-exact double op in both engines.
    // Scale: the model is vocabulary-sized — broadcast here; for a
    // web-scale vocabulary swap the broadcast for a shuffle join on term
    // (both sides already hash-partitioned by term) and checkpoint the
    // token stream instead of re-deriving it.
    ("q89_unigram_surprisal",
      (s: SparkSession, dir: String) => {
        def toks = explodeLean(t(s, dir, "documents"),
          Seq(col("doc_id"), col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "term")
        // the model is materialized once (vocabulary-sized) and feeds BOTH
        // the total and the per-term quantization — without the checkpoint,
        // deriving the corpus token total would cost a third full
        // tokenize pass over the documents scan
        val model = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        Scoped.releaseAfterUse(model)
        val total = model.agg(sum(col("cnt")).as("n_total"))
        val lp = model.crossJoin(broadcast(total))
          .select(col("term"),
            floor(log(col("cnt").cast("double") / col("n_total").cast("double"))
              * 1e4 + 0.5).as("lp4"))
        toks.join(broadcast(lp), Seq("term"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("lp4")).as("slp"))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            (floor(-col("slp") / col("n_tokens") + 0.5) / 1e4).as("avg_nll"))
          .orderBy(desc("avg_nll"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
          FROM documents),
        model AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_total FROM toks),
        lp AS (SELECT term,
            floor(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)) * 10000.0 + 0.5) AS lp4
          FROM model, tot),
        sc AS (SELECT doc_id, lang, COUNT(*) AS n_tokens,
            CAST(SUM(lp4) AS BIGINT) AS slp
          FROM toks JOIN lp USING (term) GROUP BY 1, 2)
        SELECT doc_id, lang, n_tokens,
          floor(-CAST(slp AS DOUBLE) / n_tokens + 0.5) / 10000.0 AS avg_nll
        FROM sc ORDER BY avg_nll DESC, doc_id LIMIT 20""")),

    // ---- training-mixture planning: given target language shares and a
    // token budget, derive the per-language sampling RATE (capped at 1 —
    // you cannot upsample what you don't have) and the planned token
    // yield. This is the aggregate-side companion to q48 (which APPLIES a
    // rate deterministically): one tiny per-language aggregate over the
    // corpus, then pure literal arithmetic — the planning step costs one
    // map-side-combined groupBy at any corpus size. Rates are quantized
    // to the 1e-6 grid with the floor(+0.5) idiom so both engines agree.
    ("q91_mixture_plan",
      (s: SparkSession, dir: String) => {
        val budget = 1000000.0
        val share = when(col("lang") === "en", 0.30)
          .when(col("lang") === "de", 0.20)
          .when(col("lang") === "fr", 0.20)
          .when(col("lang") === "es", 0.15)
          .otherwise(0.15)
        t(s, dir, "documents")
          .select(col("lang"),
            size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .cast("long").as("n_tok"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .withColumn("rate",
            floor(least(lit(1.0), share * budget / col("n_tokens")) * 1e6 + 0.5) / 1e6)
          .withColumn("planned_tokens",
            floor(col("rate") * col("n_tokens") + 0.5))
          .orderBy(col("lang"))
      },
      Some("""WITH a AS (SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        r AS (SELECT lang, n_docs, n_tokens,
            floor(least(1.0, (CASE lang WHEN 'en' THEN 0.30 WHEN 'de' THEN 0.20
              WHEN 'fr' THEN 0.20 WHEN 'es' THEN 0.15 ELSE 0.15 END) * 1000000.0
              / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS rate
          FROM a)
        SELECT lang, n_docs, n_tokens, rate,
          CAST(floor(rate * n_tokens + 0.5) AS BIGINT) AS planned_tokens
        FROM r ORDER BY lang""")),

    // ---- overlapping token chunking (the RAG / context-window ingest
    // primitive): split each document into 128-token chunks with 32-token
    // overlap (stride 96). The chunk COUNT is closed-form from the token
    // count, so the operator explodes a chunk-index sequence and slices —
    // one map-only pass, no self-join, no window; chunk content is gated
    // via md5 so the hash pins exact text reassembly (boundaries,
    // spacing) without shipping full chunk strings through the gate.
    // sequence(0, nc-1) is safe: nc >= 1 is enforced by the n >= 1
    // filter (sequence(a, b) with b < a would generate DESCENDING).
    ("q98_chunking",
      (s: SparkSession, dir: String) =>
        chunkRows(t(s, dir, "documents"))
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH d AS (SELECT doc_id,
            regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents),
        n AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n FROM d
              WHERE len(ws) >= 1),
        c AS (SELECT doc_id, ws, n,
            1 + (greatest(n - 128, 0) + 95) // 96 AS nc
          FROM n),
        e AS (SELECT doc_id, ws, n, unnest(range(0, nc)) AS i FROM c)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          least(128, n - i * 96) AS n_chunk_tokens,
          md5(array_to_string(list_slice(ws, CAST(i * 96 + 1 AS BIGINT),
            CAST(i * 96 + 128 AS BIGINT)), ' ')) AS chunk_md5
        FROM e ORDER BY doc_id, chunk_idx""")),

    // ---- quality-filter funnel accounting: how many docs each rule of
    // the keep-pipeline drops, CUMULATIVELY (the report every filtering
    // run produces before committing a corpus rebuild). One scan with
    // conditional aggregation — k cumulative predicates cost k counters
    // inside a single partial aggregate, NOT k passes; at 100 TB that is
    // the difference between one corpus read and four. Rules reuse the
    // catalog's quality vocabulary: length, alpha ratio, type-token
    // ratio (all integer/grid-exact, q41/q42 parity discipline).
    ("q99_filter_funnel",
      (s: SparkSession, dir: String) => {
        val pass1 = col("n_tokens") >= 50
        val pass2 = pass1 && col("n_alpha") * 10 >= col("n_chars") * 6
        val pass3 = pass2 && col("n_unique") * 10 >= col("n_tokens") * 3
        t(s, dir, "documents")
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"),
            length(col("text")).cast("long").as("n_chars"))
          .select(col("doc_id"), col("n_chars"),
            size(col("ws")).cast("long").as("n_tokens"),
            length(array_join(col("ws"), "")).cast("long").as("n_alpha"),
            size(array_distinct(col("ws"))).cast("long").as("n_unique"))
          .agg(count(lit(1)).as("total"),
            count(when(pass1, 1)).as("pass_len"),
            count(when(pass2, 1)).as("pass_alpha"),
            count(when(pass3, 1)).as("pass_ttr"))
          .select(lit("funnel").as("stage"), col("total"), col("pass_len"),
            col("pass_alpha"), col("pass_ttr"),
            (col("total") - col("pass_len")).as("drop_len"),
            (col("pass_len") - col("pass_alpha")).as("drop_alpha"),
            (col("pass_alpha") - col("pass_ttr")).as("drop_ttr"))
      },
      Some("""WITH d AS (SELECT doc_id,
            regexp_extract_all(text, '[a-zA-Z]+') AS ws,
            CAST(length(text) AS BIGINT) AS n_chars
          FROM documents),
        m AS (SELECT doc_id, n_chars,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_alpha,
            CAST(len(list_distinct(ws)) AS BIGINT) AS n_unique
          FROM d),
        f AS (SELECT COUNT(*) AS total,
            COUNT(CASE WHEN n_tokens >= 50 THEN 1 END) AS pass_len,
            COUNT(CASE WHEN n_tokens >= 50 AND n_alpha * 10 >= n_chars * 6
                  THEN 1 END) AS pass_alpha,
            COUNT(CASE WHEN n_tokens >= 50 AND n_alpha * 10 >= n_chars * 6
                  AND n_unique * 10 >= n_tokens * 3 THEN 1 END) AS pass_ttr
          FROM m)
        SELECT 'funnel' AS stage, total, pass_len, pass_alpha, pass_ttr,
          total - pass_len AS drop_len,
          pass_len - pass_alpha AS drop_alpha,
          pass_alpha - pass_ttr AS drop_ttr
        FROM f""")),

    // ---- mergeable cardinality sketch: KMV (k-minimum-values, k=64) per
    // language, vs the exact distinct count beside it. At 100 TB exact
    // per-group COUNT(DISTINCT token) shuffles every (group, token) pair;
    // the KMV sketch runs as a typed Aggregator whose buffer is the ≤ 64
    // smallest distinct hashes — partial-aggregated map-side, one k-long
    // buffer per (partition, group) into a single tiny shuffle, and the
    // same merge unions per-shard/day sketches. This is why warehouses
    // sketch cardinality instead of counting it. All integer except the
    // single estimator division (k-1)·2^32 / kth_min — one IEEE op,
    // bit-identical across engines (no rounding needed). The exact count
    // stays in the output so the gate ALSO pins the estimator's accuracy
    // contract against drift.
    ("q107_kmv_distinct",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val toks = explodeLean(t(s, dir, "documents"), Seq(col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val sk = toks.select(col("lang"), hash32(col("tok")).as("h"))
          .as[(String, Long)]
          .groupByKey(_._1).mapValues(_._2)
          .agg(new graft.functions.KmvSketch(64).toColumn.name("sk"))
          .toDF("lang", "sk")
          .select(col("lang"), col("sk.n_sketch").as("n_sketch"),
            col("sk.kth_min").as("kth_min"))
        toks.groupBy(col("lang")).agg(countDistinct(col("tok")).as("n_exact"))
          .join(sk, Seq("lang"))
          .withColumn("est_distinct",
            when(col("n_sketch") < 64, col("n_sketch").cast("double"))
              .otherwise(lit(63.0 * 4294967296.0) / col("kth_min")))
          .select(col("lang"), col("n_exact"), col("n_sketch"),
            col("kth_min"), col("est_distinct"))
          .orderBy(col("lang"))
      },
      Some("""WITH toks AS (SELECT lang,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        hv AS (SELECT DISTINCT lang,
            ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
        rk AS (SELECT lang, h,
            row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM hv),
        sk AS (SELECT lang, COUNT(*) AS n_sketch, MAX(h) AS kth_min
          FROM rk WHERE rk <= 64 GROUP BY lang),
        ex AS (SELECT lang, COUNT(DISTINCT tok) AS n_exact
          FROM toks GROUP BY lang)
        SELECT ex.lang, n_exact, n_sketch, kth_min,
          CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
               ELSE 63.0 * 4294967296.0 / kth_min END AS est_distinct
        FROM ex JOIN sk ON sk.lang = ex.lang ORDER BY ex.lang""")),

    // ---- mergeable frequency sketch: count-min (depth 4 × width 256),
    // probed for the exact top-10 terms so the gate pins the one-sided
    // error contract (cm_est >= n_exact always; equality when no
    // collision). The sketch build is ONE corpus pass with map-side
    // partial aggregation into ≤ 1024 counters — additive across
    // partitions/shards, which is the 100 TB replacement for a full
    // (term → count) shuffle when only heavy hitters matter. The probe
    // side broadcasts (10 terms × 4 rows against the 1024-row sketch).
    ("q108_cm_heavy_hitters",
      (s: SparkSession, dir: String) => {
        def cmCol(d: org.apache.spark.sql.Column, tok: org.apache.spark.sql.Column) =
          hash32(concat(d.cast("string"), lit(":"), tok)) % 256
        val toks = explodeLean(t(s, dir, "documents"), Seq(),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        // pre-aggregate term counts BEFORE the depth-4 fan-out: the
        // sketch cells are additive, so exploding the |vocab|-sized
        // count table ×4 instead of the corpus token stream ×4 removes
        // the only stage whose width exceeded the corpus scan — and the
        // same count table is the probe side's exact ranking, one
        // checkpointed pass feeding both consumers (3-run-median A/B:
        // sf1 10.71 → 2.79 s, sf0.1 2.00 → 2.04 s — the fan-out term
        // only bites at scale; slope 0.54× → 0.14×)
        val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val sketch = tf
          .select(col("tok"), col("cnt"), explode(expr("array(0, 1, 2, 3)")).as("d"))
          .withColumn("c", cmCol(col("d"), col("tok")))
          .groupBy(col("d"), col("c")).agg(sum(col("cnt")).as("cnt"))
        val out = tf.select(col("tok"), col("cnt").as("n_exact"))
          .orderBy(desc("n_exact"), asc("tok")).limit(10)
          .select(col("tok"), col("n_exact"), explode(expr("array(0, 1, 2, 3)")).as("d"))
          .withColumn("c", cmCol(col("d"), col("tok")))
          .join(broadcast(sketch), Seq("d", "c"))
          .groupBy(col("tok"), col("n_exact"))
          .agg(min(col("cnt")).as("cm_est"))
          .select(col("tok"), col("n_exact"), col("cm_est"))
          .orderBy(desc("n_exact"), asc("tok"))
        Scoped.releaseAfterUse(tf)
        out
      },
      Some("""WITH toks AS (SELECT
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
        sk AS (SELECT d,
            ('0x' || substr(md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 256 AS c,
            COUNT(*) AS cnt
          FROM toks, ds GROUP BY 1, 2),
        ex AS (SELECT tok, COUNT(*) AS n_exact FROM toks GROUP BY tok),
        top AS (SELECT tok, n_exact FROM ex ORDER BY n_exact DESC, tok LIMIT 10),
        probe AS (SELECT t.tok, t.n_exact, d.d,
            ('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || t.tok), 1, 8))::BIGINT % 256 AS c
          FROM top t, ds d)
        SELECT p.tok, p.n_exact, MIN(s.cnt) AS cm_est
        FROM probe p JOIN sk s ON s.d = p.d AND s.c = p.c
        GROUP BY p.tok, p.n_exact
        ORDER BY n_exact DESC, tok""")),

    // ---- mergeable cardinality REGISTERS: LogLog/HLL-style fixed-state
    // distinct-token estimate per source — the union-algebra complement
    // of q107's KMV: KMV's mergeable state is a k-sized SORTED SET
    // (merge = union-then-truncate), these 256 registers merge by
    // elementwise MAX, the shape that survives arbitrary shard unions
    // at 100 TB with 256 counters per group, period. Register index =
    // low 8 bits of the 32-bit md5 hash; rank = leading zeros of the
    // remaining 24-bit field + 1, computed EXACTLY via binary-string
    // length (bin(w) — integer/string ops, no log2 double rounding);
    // the estimate's harmonic sum rides an exact integer
    // S = Σ 2^(25 − M_j) (≤ 2^33), and the one double op is the final
    // C / S division with C a shared 17-digit literal — bit-identical
    // cross-engine. The gate pins the REGISTER STATE (m_hit, s_sum),
    // the estimate, and its signed ‱ error against the exact distinct.
    // The estimate is the corrected LogLog estimator: linear counting
    // m·ln(m/V) when empty registers V > 0 and raw ≤ 2.5·m = 640 (ln
    // cross-engine parity is the pinned q187/q191 discipline). Fixture
    // sources sit far above the branch point, so on the gate the branch
    // is dormant — LogLogSmallRangeSpec pins it live on a crafted
    // small-cardinality corpus, where linear counting is EXACT for
    // collision-free register sets.
    //
    // Scale: the sketch is ONE corpus pass with map-side partial MAX
    // into ≤ |sources|·256 cells — no token shuffle; only the exact
    // comparison column (the gate's ground truth) pays a distinct, and
    // a production run drops it.
    ("q210_loglog_registers",
      (s: SparkSession, dir: String) => {
        val C = "1579498136381.3938" // 0.7213/(1+1.079/256) * 2^41
        val toks = explodeLean(t(s, dir, "documents"), Seq(col("source")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val h = toks.select(col("source"), hash32(col("tok")).as("h"))
          .select(col("source"), (col("h") % 256).as("reg"),
            expr("h div 256").as("w"))
          .select(col("source"), col("reg"),
            when(col("w") === 0L, lit(25L))
              .otherwise(lit(25L) - length(expr("bin(w)"))).as("rank"))
        val regs = h.groupBy(col("source"), col("reg"))
          .agg(max(col("rank")).as("r"))
        val state = regs.groupBy(col("source"))
          .agg(count(lit(1)).as("m_hit"),
            sum(expr("shiftleft(1L, cast(25 - r as int))")).as("s_hit"))
          .select(col("source"), col("m_hit"),
            (col("s_hit") + (lit(256L) - col("m_hit")) * lit(1L << 25))
              .as("s_sum"))
        val exact = toks.groupBy(col("source"))
          .agg(countDistinct(col("tok")).as("n_exact"))
        state.join(exact, Seq("source"))
          .select(col("source"), col("n_exact"), col("m_hit"), col("s_sum"),
            (lit(C).cast("double") / col("s_sum").cast("double")).as("raw"),
            (lit(256L) - col("m_hit")).as("vz"))
          .select(col("source"), col("n_exact"), col("m_hit"), col("s_sum"),
            floor(when(col("vz") > 0L && col("raw") <= 640.0,
                lit(256.0) * log(lit(256.0) / col("vz").cast("double")))
              .otherwise(col("raw")) + 0.5).cast("long").as("ll_est"))
          .withColumn("err4",
            expr("(ll_est - n_exact) * 10000 div n_exact"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (SELECT source,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        h AS (SELECT source,
            ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS reg,
            ('0x' || substr(md5(tok), 1, 8))::BIGINT // 256 AS w
          FROM toks),
        rnk AS (SELECT source, reg,
            CASE WHEN w = 0 THEN 25 ELSE 25 - len(bin(w)) END AS rank
          FROM h),
        regs AS (SELECT source, reg, MAX(rank) AS r
          FROM rnk GROUP BY 1, 2),
        state AS (SELECT source, COUNT(*) AS m_hit,
            CAST(SUM(1::BIGINT << CAST(25 - r AS INTEGER)) AS BIGINT) AS s_hit
          FROM regs GROUP BY source),
        ex AS (SELECT source, COUNT(DISTINCT tok) AS n_exact
          FROM toks GROUP BY source),
        est AS (SELECT st.source, ex.n_exact,
            CAST(st.m_hit AS BIGINT) AS m_hit,
            CAST(st.s_hit + (256 - st.m_hit) * (1::BIGINT << 25) AS BIGINT)
              AS s_sum,
            256 - st.m_hit AS vz,
            1579498136381.3938 / CAST(st.s_hit
              + (256 - st.m_hit) * (1::BIGINT << 25) AS DOUBLE) AS raw
          FROM state st JOIN ex ON ex.source = st.source),
        est2 AS (SELECT source, n_exact, m_hit, s_sum,
            CAST(floor(CASE WHEN vz > 0 AND raw <= 640.0
                THEN 256.0 * ln(256.0 / CAST(vz AS DOUBLE)) ELSE raw END
              + 0.5) AS BIGINT) AS ll_est
          FROM est)
        SELECT source, n_exact, m_hit, s_sum, ll_est,
          (ll_est - n_exact) * 10000 // n_exact AS err4
        FROM est2 ORDER BY source""")),

    // ---- tokenizer training primitive: one BPE learn step — the most
    // frequent adjacent character pairs across the corpus (the pair a BPE
    // trainer would merge next). Pair extraction is a map-only
    // index-explode (bounded by token length); the count is one shuffle
    // with map-side combine on a vocabulary-sized key space. Iterating
    // this per merge is exactly how a distributed BPE trainer runs its
    // outer loop at corpus scale.
    ("q109_bpe_merge",
      (s: SparkSession, dir: String) => {
        explodeLean(
          explodeLean(t(s, dir, "documents"), Seq(),
            expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
            .filter(length(col("tok")) >= 2),
          Seq(),
          expr("transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"),
          "pair")
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), asc("pair"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        t2 AS (SELECT tok FROM toks WHERE length(tok) >= 2),
        idx AS (SELECT tok, unnest(range(1, length(tok))) AS i FROM t2),
        pairs AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair FROM idx)
        SELECT pair, COUNT(*) AS n FROM pairs
        GROUP BY pair ORDER BY n DESC, pair LIMIT 20""")),

    // ---- tokenizer vocabulary coverage: build the vocab from half the
    // corpus (doc_id parity = the training split), measure per-language
    // OOV occurrence rate on the other half — the go/no-go check before
    // committing a tokenizer to a 100 TB tokenization run. The OOV probe
    // is a left-anti join ON TOKEN (shuffle-hash at scale — the vocab of a
    // web corpus outgrows broadcast; Spark picks broadcast at fixture
    // size, which is the same plan a sampled vocab would use at 100 TB).
    // oov_rate is one IEEE division of exact integers — engine-exact.
    ("q110_vocab_coverage",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(t(s, dir, "documents"),
          Seq(col("doc_id"), col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val vocab = toks.filter(col("doc_id") % 2 === 0).select(col("tok")).distinct()
        val ev = toks.filter(col("doc_id") % 2 === 1)
        ev.groupBy(col("lang")).agg(count(lit(1)).as("n_tokens"))
          .join(ev.join(vocab, Seq("tok"), "left_anti")
            .groupBy(col("lang")).agg(count(lit(1)).as("n_oov")),
            Seq("lang"), "left")
          .withColumn("n_oov", coalesce(col("n_oov"), lit(0L)))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens"))
          .select(col("lang"), col("n_tokens"), col("n_oov"), col("oov_rate"))
          .orderBy(col("lang"))
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        vocab AS (SELECT DISTINCT tok FROM toks WHERE doc_id % 2 = 0),
        ev AS (SELECT lang, tok FROM toks WHERE doc_id % 2 = 1),
        tot AS (SELECT lang, COUNT(*) AS n_tokens FROM ev GROUP BY lang),
        oov AS (SELECT lang, COUNT(*) AS n_oov FROM ev
          WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY lang)
        SELECT t.lang, t.n_tokens, COALESCE(o.n_oov, 0) AS n_oov,
          CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / t.n_tokens AS oov_rate
        FROM tot t LEFT JOIN oov o ON o.lang = t.lang ORDER BY t.lang""")),

    // ---- curriculum ordering: quality quartiles (q41's score) × seed-free
    // within-bucket hash order — the "easy-to-hard" data schedule a
    // curriculum-training run reads, composed with q105's shard discipline
    // (deterministic, re-run-stable, decorrelated from crawl order within
    // each difficulty band). Bucketing is by PERCENTILE CUTOFFS computed
    // from the bounded score histogram (≤ 10⁴ grid values) — a map-only
    // comparison against three literals, no corpus-wide ntile window; see
    // [[curriculumOrder]]. PropertySpec pins cutoff-bucket ≡ ntile on
    // tie-free scores.
    ("q115_curriculum_order",
      (s: SparkSession, dir: String) => curriculumOrder(s, dir),
      Some("""WITH d AS (SELECT doc_id, text,
            regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        e AS (SELECT doc_id,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_alpha,
            CAST(length(text) AS BIGINT) AS n_chars
          FROM d),
        f AS (SELECT doc_id, n_tokens,
            floor(CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
            floor(CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) * 10000.0 + 0.5) / 10000.0 AS avg_w_len
          FROM e),
        g AS (SELECT doc_id,
            floor((0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
              + 0.3 * alpha_ratio + 0.3 * least(avg_w_len / 10.0, 1.0)) * 10000.0 + 0.5) / 10000.0 AS q
          FROM f),
        gi AS (SELECT doc_id, q,
            CAST(floor(q * 10000.0 + 0.5) AS BIGINT) AS qi FROM g),
        nn AS (SELECT COUNT(*) AS n FROM gi),
        hist AS (SELECT qi, COUNT(*) AS cnt FROM gi GROUP BY qi),
        cum AS (SELECT qi, SUM(cnt) OVER (ORDER BY qi) AS cumleq FROM hist),
        cuts AS (SELECT
            MIN(CASE WHEN cumleq >= 1 * (n // 4) + LEAST(1, n % 4) THEN qi END) AS c1,
            MIN(CASE WHEN cumleq >= 2 * (n // 4) + LEAST(2, n % 4) THEN qi END) AS c2,
            MIN(CASE WHEN cumleq >= 3 * (n // 4) + LEAST(3, n % 4) THEN qi END) AS c3
          FROM cum, nn),
        b AS (SELECT doc_id, q,
            1 + (CASE WHEN qi > c1 THEN 1 ELSE 0 END)
              + (CASE WHEN qi > c2 THEN 1 ELSE 0 END)
              + (CASE WHEN qi > c3 THEN 1 ELSE 0 END) AS bucket,
            ('0x' || substr(md5('curr:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM gi, cuts)
        SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, q AS quality_score,
          CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        FROM b ORDER BY bucket, pos""")),

    // ---- mixture EXECUTION: apply q91's planned per-language rates with
    // q48's deterministic md5-bucket mechanism — the step that actually
    // materializes the mixture a training run reads (q91 plans, q117
    // executes). Rates are a per-language aggregate (5 rows → broadcast);
    // sampling is a map-only bucket comparison against the 1e-6 rate grid
    // (integerized on both sides — rate*1e6 re-floored so no float edge);
    // the report is one tiny agg. At 100 TB: one corpus pass to plan
    // (map-side combined), one map-only pass to execute, seed-free and
    // re-run-stable like every sampling step in the catalog.
    ("q117_mixture_apply",
      (s: SparkSession, dir: String) => {
        val budget = 1000000.0
        val share = when(col("lang") === "en", 0.30)
          .when(col("lang") === "de", 0.20)
          .when(col("lang") === "fr", 0.20)
          .when(col("lang") === "es", 0.15)
          .otherwise(0.15)
        // one tokenize pass: the narrow (doc_id, lang, n_tok) projection
        // feeds BOTH the rate plan and the apply — materialized once
        // (at 100 TB this is the token-count column a pipeline persists
        // anyway), released on the gate's terminal action
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .cast("long").as("n_tok"))
          .localCheckpoint()
        Scoped.releaseAfterUse(d)
        val rates = d.groupBy(col("lang"))
          .agg(sum(col("n_tok")).as("n_tokens"))
          .withColumn("rate",
            floor(least(lit(1.0), share * budget / col("n_tokens")) * 1e6 + 0.5) / 1e6)
          .select(col("lang"), col("rate"))
        d.join(broadcast(rates), Seq("lang"))
          .withColumn("b",
            hash32(concat(lit("mix:"), col("doc_id").cast("string"))) % 1000000)
          .filter(col("b") < floor(col("rate") * 1e6 + 0.5))
          .groupBy(col("lang"), col("rate"))
          .agg(count(lit(1)).as("n_docs_kept"), sum(col("n_tok")).as("n_tokens_kept"))
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
            CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_tok
          FROM documents),
        a AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        r AS (SELECT lang,
            floor(least(1.0, (CASE lang WHEN 'en' THEN 0.30 WHEN 'de' THEN 0.20
              WHEN 'fr' THEN 0.20 WHEN 'es' THEN 0.15 ELSE 0.15 END) * 1000000.0
              / n_tokens) * 1000000.0 + 0.5) / 1000000.0 AS rate
          FROM a),
        k AS (SELECT d.lang, r.rate, d.n_tok FROM d JOIN r ON r.lang = d.lang
          WHERE (('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 1000000) < floor(r.rate * 1000000.0 + 0.5))
        SELECT lang, rate, COUNT(*) AS n_docs_kept,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept
        FROM k GROUP BY lang, rate ORDER BY lang""")),

    // ---- corpus-frequency boilerplate removal (CCNet-style "line" dedup):
    // segment every document into fixed 8-token units, count each unit's
    // DOCUMENT frequency across the whole corpus, and strip units that
    // repeat in >= 10 documents — the standard web-corpus stage that kills
    // cookie banners / nav bars / footers which doc-level dedup (q30-q34)
    // cannot touch because the surrounding document is unique. The fixture
    // has no natural boilerplate, so the query plants its own (both sides
    // identically): an 8-token footer PREPENDED to every third document.
    // Prepending a whole segment keeps the original content's segment
    // boundaries intact (everything shifts by exactly one unit), so the
    // gate proves surgical removal: planted docs lose exactly the footer,
    // nothing else anywhere changes (clean_hash pins the rebuilt text).
    //
    // Scale: segmentation is map-side; the df count is ONE combinable
    // shuffle of |segments| rows. The key asymmetry is the rewrite: a
    // segment needs df >= t to be boilerplate, so the DROP set has at most
    // |segments|/t distinct values — bounded, and tiny in practice — so it
    // BROADCASTS and the strip is a map-side anti-join (no second shuffle
    // of the corpus). Reassembly sorts each doc's surviving units by
    // position inside one groupBy(doc) — the only other corpus shuffle.
    // At 100 TB: segments-df is the same shape as a term count; the
    // broadcast stays small because t caps it, independent of corpus size.
    ("q127_boilerplate_strip",
      (s: SparkSession, dir: String) => {
        val footer = "cookie policy accept decline terms privacy subscribe newsletter"
        val planted = t(s, dir, "documents").select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(lit(footer + " "), col("text")))
            .otherwise(col("text")).as("text"))
        boilerplateStrip(planted, unit = 8, thr = 10L).orderBy(col("doc_id"))
      },
      Some("""WITH base AS (
          SELECT doc_id, CASE WHEN doc_id % 3 = 0
            THEN 'cookie policy accept decline terms privacy subscribe newsletter ' || text
            ELSE text END AS text
          FROM documents),
        tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM base),
        segs AS (
          SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
            array_to_string(tk[(CAST(u.i AS BIGINT)*8+1):(CAST(u.i AS BIGINT)*8+8)], ' ') AS seg
          FROM tk, UNNEST(range(CAST(ceil(len(tk)/8.0) AS BIGINT))) AS u(i)),
        df AS (SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg),
        kept AS (SELECT s.doc_id, s.seg_idx, s.seg
          FROM segs s JOIN df ON df.seg = s.seg WHERE df.df < 10),
        agg AS (SELECT doc_id, COUNT(*) AS kept_segs,
            md5(string_agg(seg, ' ' ORDER BY seg_idx)) AS clean_hash
          FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, CAST(ceil(len(tk)/8.0) AS BIGINT) AS n_segs FROM tk)
        SELECT t.doc_id, t.n_segs, COALESCE(a.kept_segs, 0) AS kept_segs,
          t.n_segs - COALESCE(a.kept_segs, 0) AS dropped_segs,
          COALESCE(a.clean_hash, md5('')) AS clean_hash
        FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id ORDER BY t.doc_id""")),

    // ---- (see dsirFeatureRows above the catalog for the shared q128 /
    // streaming-scorer feature map)
    // ---- DSIR-shaped data selection (importance resampling on hashed
    // n-gram features — the Xie et al. 2023 recipe): score every raw
    // document by how target-like its hashed-bigram distribution is,
    //   log w(d) = Σ_b c_d(b) · (log p_tgt(b) − log p_raw(b)),
    // with add-one smoothing over a FIXED space of B = 1024 feature
    // buckets, and keep the top-k. The "target" here is the corpus's own
    // English subset (select raw documents that look like curated
    // English) — the estimator only needs SOME target sample, and lang
    // is the one the fixture carries. Log-ratios are quantized on the
    // 1e4 grid (q89's floor(ln·1e4 + 0.5) idiom) so the per-doc weight
    // is an exact BIGINT dot product both engines agree on.
    //
    // Scale: ONE tokenize pass builds the per-(doc, bucket) count table
    // (a single combinable shuffle — the only corpus-wide shuffle in the
    // query); both bag-of-hashed-ngrams models AGGREGATE that table, and
    // because the bucket space is fixed at B, the models and the fused
    // log-ratio table are ≤ B rows — broadcast — so scoring is a
    // map-side join + one per-doc agg, and selection is a TakeOrdered.
    // At 100 TB nothing here grows except the two combinable shuffles;
    // the model stays 1024 rows no matter the corpus.
    ("q128_dsir_select",
      (s: SparkSession, dir: String) => {
        val B = DsirBuckets
        // one expensive pass materialized; everything downstream is small
        val db = dsirFeatureRows(t(s, dir, "documents"), carry = Seq("lang"))
          .groupBy(col("doc_id"), col("lang"), col("b"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        Scoped.releaseAfterUse(db)
        val raw = db.groupBy(col("b")).agg(sum(col("c")).as("cr"))
        val tgt = db.filter(col("lang") === "en")
          .groupBy(col("b")).agg(sum(col("c")).as("ct"))
        val nr = raw.agg(sum(col("cr")).as("n_raw"))
        val nt = tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("n_tgt"))
        val lr = raw.join(tgt, Seq("b"), "left")
          .crossJoin(broadcast(nr)).crossJoin(broadcast(nt))
          .select(col("b"),
            floor((log((coalesce(col("ct"), lit(0L)) + 1).cast("double")
                / (col("n_tgt") + B).cast("double"))
              - log((col("cr") + 1).cast("double")
                / (col("n_raw") + B).cast("double"))) * 1e4 + 0.5).as("lr4"))
        db.join(broadcast(lr), Seq("b"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("c")).as("n_feats"),
            sum(col("c") * col("lr4")).as("logw4"))
          .orderBy(desc("logw4"), col("doc_id"))
          .limit(30)
      },
      Some("""WITH toksr AS (SELECT doc_id, lang,
            regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        bg AS (SELECT doc_id, lang,
            unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS f
          FROM toksr),
        db AS (SELECT doc_id, lang,
            ('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS b, COUNT(*) AS c
          FROM bg GROUP BY 1, 2, 3),
        rawm AS (SELECT b, SUM(c) AS cr FROM db GROUP BY 1),
        tgtm AS (SELECT b, SUM(c) AS ct FROM db WHERE lang = 'en' GROUP BY 1),
        nr AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_raw FROM rawm),
        nt AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS n_tgt FROM tgtm),
        lr AS (SELECT rawm.b,
            CAST(floor((ln((COALESCE(tgtm.ct, 0) + 1) / CAST(nt.n_tgt + 1024 AS DOUBLE))
              - ln((rawm.cr + 1) / CAST(nr.n_raw + 1024 AS DOUBLE))) * 1e4 + 0.5) AS BIGINT) AS lr4
          FROM rawm LEFT JOIN tgtm ON tgtm.b = rawm.b, nr, nt)
        SELECT db.doc_id, db.lang, CAST(SUM(db.c) AS BIGINT) AS n_feats,
          CAST(SUM(db.c * lr.lr4) AS BIGINT) AS logw4
        FROM db JOIN lr ON lr.b = db.b
        GROUP BY 1, 2 ORDER BY logw4 DESC, doc_id LIMIT 30""")),

    // ---- interpolated bigram-LM perplexity (the CCNet/KenLM-style
    // perplexity filter, one model order up from q89's unigram
    // surprisal): every conditional the model needs derives from ONE
    // bigram count table — p(w2|w1) ≈ 0.75·c(w1,w2)/c(w1,·) +
    // 0.25·c(·,w2)/N, with the left-marginal, right-marginal and total
    // all aggregations of the same counts — and each DISTINCT bigram
    // type's log-prob is quantized once on the 1e4 grid (q89's
    // floor(ln·1e4+0.5) idiom), so per-doc scoring is an exact BIGINT
    // dot product. Gate = the 20 highest-perplexity docs (the ones a
    // perplexity filter would drop first).
    //
    // Scale: ONE tokenize pass builds the per-(doc, bigram) partial agg
    // (checkpointed — the corpus is not re-tokenized for the model);
    // the model and both marginals aggregate that table (combinable);
    // the marginal joins carry NO broadcast hint (ADVICE r12): marginals
    // are vocab-sized, and a web-corpus vocabulary is not guaranteed to
    // fit a broadcast any more than the bigram table is — they are plain
    // w1/w2 equi-joins, AQE broadcasts them at fixture scale and
    // shuffles them when the vocab outgrows the threshold. Only the
    // 1-row corpus total keeps its broadcast. The scoring join is a
    // bigram-keyed EQUI-join (the bigram table is vocab²-bounded, NOT
    // assumed broadcastable — at 100 TB it partitions by bigram hash
    // like any term table). Per-doc agg + TakeOrdered close it out.
    ("q133_bigram_ppl",
      (s: SparkSession, dir: String) => {
        val db = bigramRows(t(s, dir, "documents"), carry = Seq("lang"))
          .groupBy(col("doc_id"), col("lang"), col("bg"))
          .agg(count(lit(1)).as("c"))
          .localCheckpoint()
        Scoped.releaseAfterUse(db)
        val lp = bigramLmModel(db)
        db.join(lp, Seq("bg"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(sum(col("c")).as("n_bigrams"), sum(col("c") * col("lp4")).as("slp"))
          .select(col("doc_id"), col("lang"), col("n_bigrams"),
            (floor(-col("slp").cast("double") / col("n_bigrams") + 0.5) / 1e4)
              .as("avg_nll"))
          .orderBy(desc("avg_nll"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH toksb AS (SELECT doc_id, lang,
            regexp_extract_all(lower(text), '[a-z]+') AS ws FROM documents),
        bgr AS (SELECT doc_id, lang,
            unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS bg
          FROM toksb),
        db AS (SELECT doc_id, lang, bg, COUNT(*) AS c FROM bgr GROUP BY 1, 2, 3),
        model AS (SELECT bg, split_part(bg, ' ', 1) AS w1, split_part(bg, ' ', 2) AS w2,
            SUM(c) AS cbi FROM db GROUP BY 1),
        lft AS (SELECT w1, SUM(cbi) AS cl FROM model GROUP BY 1),
        rgt AS (SELECT w2, SUM(cbi) AS cr FROM model GROUP BY 1),
        tot AS (SELECT CAST(SUM(cbi) AS BIGINT) AS n_bi FROM model),
        lp AS (SELECT m.bg,
            CAST(floor(ln(0.75 * (CAST(m.cbi AS DOUBLE) / CAST(l.cl AS DOUBLE))
              + 0.25 * (CAST(r.cr AS DOUBLE) / CAST(tot.n_bi AS DOUBLE)))
              * 1e4 + 0.5) AS BIGINT) AS lp4
          FROM model m JOIN lft l ON l.w1 = m.w1 JOIN rgt r ON r.w2 = m.w2, tot),
        sc AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_bigrams,
            CAST(SUM(c * lp4) AS BIGINT) AS slp
          FROM db JOIN lp USING (bg) GROUP BY 1, 2)
        SELECT doc_id, lang, n_bigrams,
          floor(-CAST(slp AS DOUBLE) / n_bigrams + 0.5) / 1e4 AS avg_nll
        FROM sc ORDER BY avg_nll DESC, doc_id LIMIT 20""")),

    // ---- KMV cross-shard MERGE gate: the scale claim every sketch in
    // the catalog rides on — "per-shard sketches union into the global
    // sketch" — computed BOTH ways and pinned equal. The corpus splits
    // into 8 shards (doc_id % 8, the per-day/per-shard build a cluster
    // actually runs); each shard materializes its k-minimum VALUES
    // ([[graft.functions.KmvSketchValues]] — the artifact a shard would
    // write); the merge re-takes the k smallest distinct of the union.
    // KMV merge is mathematically EXACT (every global top-k minimum is
    // inside its own shard's top-k), so merged (count, kth-min) must
    // equal the direct whole-corpus sketch bit-for-bit — `merge_exact`
    // rides the gate so a broken buffer merge or a lossy shard artifact
    // fails the hash.
    //
    // Scale: per-shard state is ≤ k longs per (lang, shard) — map-side
    // combined; the merge step touches 8·k rows per language, nothing
    // corpus-sized; the only full scan is the one hash pass.
    ("q137_kmv_shard_merge",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val toks = explodeLean(t(s, dir, "documents"),
          Seq(col("doc_id"), col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val hs = toks.select(col("lang"), (col("doc_id") % 8).as("shard"),
          hash32(col("tok")).as("h"))
        val direct = hs.select(col("lang"), col("h")).as[(String, Long)]
          .groupByKey(_._1).mapValues(_._2)
          .agg(new graft.functions.KmvSketch(64).toColumn.name("sk"))
          .toDF("lang", "sk")
          .select(col("lang"), col("sk.n_sketch").as("n_sketch"),
            col("sk.kth_min").as("kth_min"))
        val shardVals = hs.as[(String, Long, Long)]
          .groupByKey(t => (t._1, t._2)).mapValues(_._3)
          .agg(new graft.functions.KmvSketchValues(64).toColumn.name("v"))
          .toDF("key", "v")
          .select(col("key._1").as("lang"), explode(col("v.vs")).as("h"))
        val w = Window.partitionBy(col("lang")).orderBy(col("h"))
        val merged = shardVals.distinct()
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 64)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_sketch_merged"),
            max(col("h")).as("kth_min_merged"))
        direct.join(merged, Seq("lang"))
          .withColumn("est_distinct",
            when(col("n_sketch") < 64, col("n_sketch").cast("double"))
              .otherwise(lit(63.0 * 4294967296.0) / col("kth_min")))
          .withColumn("merge_exact",
            col("n_sketch") === col("n_sketch_merged")
              && col("kth_min") === col("kth_min_merged"))
          .select(col("lang"), col("n_sketch"), col("kth_min"),
            col("n_sketch_merged"), col("kth_min_merged"),
            col("est_distinct"), col("merge_exact"))
          .orderBy(col("lang"))
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok FROM documents),
        hv AS (SELECT DISTINCT lang,
            ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
        drk AS (SELECT lang, h,
            row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM hv),
        direct AS (SELECT lang, COUNT(*) AS n_sketch, MAX(h) AS kth_min
          FROM drk WHERE rk <= 64 GROUP BY lang),
        shv AS (SELECT DISTINCT lang, doc_id % 8 AS shard,
            ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
        srk AS (SELECT lang, shard, h,
            row_number() OVER (PARTITION BY lang, shard ORDER BY h) AS rk FROM shv),
        mg AS (SELECT DISTINCT lang, h FROM srk WHERE rk <= 64),
        mrk AS (SELECT lang, h,
            row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM mg),
        merged AS (SELECT lang, COUNT(*) AS n_sketch_merged,
            MAX(h) AS kth_min_merged FROM mrk WHERE rk <= 64 GROUP BY lang)
        SELECT d.lang, d.n_sketch, d.kth_min, m.n_sketch_merged, m.kth_min_merged,
          CASE WHEN d.n_sketch < 64 THEN CAST(d.n_sketch AS DOUBLE)
               ELSE 63.0 * 4294967296.0 / d.kth_min END AS est_distinct,
          (d.n_sketch = m.n_sketch_merged AND d.kth_min = m.kth_min_merged) AS merge_exact
        FROM direct d JOIN merged m ON m.lang = d.lang ORDER BY d.lang""")),

    // ---- training-data ATTRIBUTION by n-gram overlap: given a generated
    // text, which corpus documents most plausibly contributed? The
    // provenance/memorization audit every serving stack wants: rank docs
    // by how many of the probe's distinct 8-gram fingerprints they
    // contain (plus the probe-coverage fraction on the 1e-4 integer
    // grid). The probe is DERIVED from the corpus — the first 30 tokens
    // of docs 3 and 7 spliced together, a stand-in for a generation that
    // quotes two sources — so both engines build it identically and the
    // expected attribution (docs 3 and 7 on top, their planted near-dups
    // trailing) is non-vacuous at every sf. Seam grams across the splice
    // are deliberately not formed (per-source gram sets union).
    //
    // Scale: corpus grams are q129's map-side rolling-fingerprint shape
    // (one tokenize pass, no all-pairs anything); the probe's ≤ 46
    // distinct grams BROADCAST by construction, so attribution is a
    // map-side semi-probe + ONE combinable doc-keyed count + TakeOrdered.
    // A serving deployment would persist the corpus gram index once and
    // amortize it across probes.
    ("q145_ngram_attribution",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        val probeGrams = docs.filter(col("doc_id").isin(3L, 7L))
          .select(expr(
            "slice(regexp_extract_all(lower(text), '[a-z]+', 0), 1, 30)").as("ws"))
          .select(explode(gram8Expr).as("g")).distinct()
        val corpusGrams = corpusGramIndex(docs)
        val nProbe = probeGrams.agg(count(lit(1)).as("n_probe"))
        corpusGrams.join(broadcast(probeGrams), Seq("g"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
          .crossJoin(broadcast(nProbe))
          .withColumn("frac4", expr("(n_overlap * 10000) div n_probe"))
          .select(col("doc_id"), col("n_overlap"), col("n_probe"), col("frac4"))
          .orderBy(desc("n_overlap"), col("doc_id")).limit(10)
      },
      Some("""WITH pw AS (SELECT
            list_slice(regexp_extract_all(lower(text), '[a-z]+'), 1, 30) AS ws
          FROM documents WHERE doc_id IN (3, 7)),
        pg AS (SELECT DISTINCT
            unnest(list_transform(range(1, greatest(len(ws) - 6, 1)),
              i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))) AS g
          FROM pw),
        cw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents),
        cg AS (SELECT DISTINCT doc_id,
            unnest(list_transform(range(1, greatest(len(ws) - 6, 1)),
              i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))) AS g
          FROM cw),
        np AS (SELECT COUNT(*) AS n_probe FROM pg),
        ov AS (SELECT cg.doc_id, COUNT(*) AS n_overlap
          FROM cg JOIN pg ON pg.g = cg.g GROUP BY 1)
        SELECT ov.doc_id, ov.n_overlap, np.n_probe,
          (ov.n_overlap * 10000) // np.n_probe AS frac4
        FROM ov, np
        ORDER BY ov.n_overlap DESC, ov.doc_id LIMIT 10""")),

    // ---- SEGMENT-level quality strip (paragraph-grade CCNet): score
    // every 8-token segment with the corpus unigram LM (q89's model) and
    // drop segments whose 1e-4-grid surprisal exceeds the corpus-mean
    // segment surprisal — the quality sibling of q127's FREQUENCY-based
    // strip (that one removes what repeats everywhere; this removes what
    // the LM finds incoherent, e.g. keyword stuffing and token salad,
    // even when unique). Same segmentation ([[boilerplateSegments]]) and
    // the same rebuild contract (kept segs in order → clean_hash), so
    // the two strips compose into one hygiene pass. Unscorable segments
    // (no [a-z] token) are KEPT — absence of evidence. The threshold is
    // integer-exact: mean = ⌊Σ nll4 / count + 0.5⌋ over BIGINTs.
    //
    // Scale: one tokenize pass for the model (combinable), one for the
    // segment scoring (combinable, keyed (doc, seg)); the model join is
    // a plain term equi-join (vocab-sized side — AQE's call, never a
    // hard-coded broadcast, ADVICE r12 discipline); threshold is a 1-row
    // broadcast; rebuild is one doc-keyed agg.
    ("q146_segment_quality_strip",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        val toks = explodeLean(docs, Seq(col("doc_id")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "term")
        val model = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        Scoped.releaseAfterUse(model)
        val total = model.agg(sum(col("cnt")).as("n_total"))
        val lp = model.crossJoin(broadcast(total))
          .select(col("term"),
            floor(log(col("cnt").cast("double") / col("n_total").cast("double"))
              * 1e4 + 0.5).cast("long").as("lp4"))
        val segs = boilerplateSegments(docs, unit = 8).localCheckpoint()
        val st = explodeLean(segs, Seq(col("doc_id"), col("seg_idx")),
          expr("regexp_extract_all(lower(seg), '[a-z]+', 0)"), "term")
        val nll = st.join(lp, Seq("term"))
          .groupBy(col("doc_id"), col("seg_idx"))
          .agg(count(lit(1)).as("n_tok"), sum(col("lp4")).as("slp"))
          .select(col("doc_id"), col("seg_idx"),
            floor(-col("slp").cast("double") / col("n_tok") + 0.5)
              .cast("long").as("nll4"))
          .localCheckpoint() // feeds the threshold AND the verdict join
        // the two checkpoints above serve multiple actions in one gate
        // run; arm their release now so the terminal write frees them
        Scoped.releaseAfterUse(segs, nll)
        val thr = nll.agg(
          floor(sum(col("nll4")).cast("double") / count(lit(1)) + 0.5)
            .cast("long").as("thr4"))
        segs.join(nll, Seq("doc_id", "seg_idx"), "left")
          .crossJoin(broadcast(thr))
          .withColumn("keep", coalesce(col("nll4") <= col("thr4"), lit(true)))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_segs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("kept_segs"),
            min(col("thr4")).as("mean_nll4"),
            expr("""md5(concat_ws(' ',
                transform(array_sort(collect_list(
                  case when keep
                    then named_struct('seg_idx', seg_idx, 'seg', seg) end)),
                  x -> x.seg)))""").as("clean_hash"))
          .withColumn("dropped_segs", col("n_segs") - col("kept_segs"))
          .select(col("doc_id"), col("n_segs"), col("kept_segs"),
            col("dropped_segs"), col("mean_nll4"), col("clean_hash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        segs AS (SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
            array_to_string(tk[(CAST(u.i AS BIGINT)*8+1):(CAST(u.i AS BIGINT)*8+8)], ' ') AS seg
          FROM tk, UNNEST(range(CAST(ceil(len(tk)/8.0) AS BIGINT))) AS u(i)),
        toksq AS (SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
          FROM documents),
        model AS (SELECT term, COUNT(*) AS cnt FROM toksq GROUP BY 1),
        tot AS (SELECT COUNT(*) AS n_total FROM toksq),
        lp AS (SELECT term,
            CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE))
              * 10000.0 + 0.5) AS BIGINT) AS lp4
          FROM model, tot),
        st AS (SELECT s.doc_id, s.seg_idx,
            unnest(regexp_extract_all(lower(s.seg), '[a-z]+')) AS term
          FROM segs s),
        sc AS (SELECT st.doc_id, st.seg_idx, COUNT(*) AS n_tok,
            CAST(SUM(lp.lp4) AS BIGINT) AS slp
          FROM st JOIN lp USING (term) GROUP BY 1, 2),
        nll AS (SELECT doc_id, seg_idx,
            CAST(floor(-CAST(slp AS DOUBLE) / n_tok + 0.5) AS BIGINT) AS nll4
          FROM sc),
        thr AS (SELECT CAST(floor(CAST(SUM(nll4) AS DOUBLE) / COUNT(*) + 0.5)
            AS BIGINT) AS thr4 FROM nll),
        verd AS (SELECT s.doc_id, s.seg_idx, s.seg,
            COALESCE(n.nll4 <= t.thr4, TRUE) AS keep
          FROM segs s LEFT JOIN nll n
            ON n.doc_id = s.doc_id AND n.seg_idx = s.seg_idx, thr t),
        agg AS (SELECT doc_id, COUNT(*) AS n_segs,
            CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_segs,
            md5(COALESCE(string_agg(CASE WHEN keep THEN seg END, ' '
              ORDER BY seg_idx), '')) AS clean_hash
          FROM verd GROUP BY doc_id)
        SELECT a.doc_id, a.n_segs, a.kept_segs,
          a.n_segs - a.kept_segs AS dropped_segs, t.thr4 AS mean_nll4,
          a.clean_hash
        FROM agg a, thr t ORDER BY a.doc_id""")),

    // ---- benchmark decontamination SURGERY: q77 finds contaminated
    // documents; this query FIXES them — every maximal token span whose
    // 13-grams appear in the benchmark set (q77's exact derivation and
    // probe) is EXCISED and the document rebuilt, the span-level
    // alternative to dropping whole documents that a 100 TB pipeline
    // prefers when contamination is a quoted snippet inside an otherwise
    // good page. Span merge is q129's start/end + running-max window
    // (per-doc partition, bounded); the rebuild keeps tokens outside
    // every span by INDEX (the token array is an attribute behind a join
    // boundary, so the index lambda reads a materialized column — not
    // the O(L²) expression re-evaluation trap). Gate = per contaminated
    // doc: token counts, spans, removed tokens, and the md5 of the
    // rebuilt text (pins the surgery is surgical). The planted benchmark
    // is each 53rd doc's own 20-token prefix, so every bench doc
    // contaminates at least its source — non-vacuous at every sf.
    //
    // Scale: bench grams are benchmark-sized → broadcast probe (q77's
    // shape); hits are one map-side join; the span window partitions by
    // doc; the rebuild is map-only over contaminated docs ONLY (a
    // left-semi-restricted minority).
    ("q152_decontaminate_spans",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(col("doc_id") % 53 === 0)
          .select(expr(
            "concat_ws(' ', slice(regexp_extract_all(text, '[a-zA-Z]+', 0), 1, 20))")
            .as("text"))
        // probe grams ride the native 60-bit fingerprint (gram_hash60,
        // r17): span marking only needs gram EQUALITY, so neither side
        // materializes 13-token strings (A/B in SCALING.md)
        val bg = explodeLean(
          bench.select(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
            .filter(size(col("ws")) >= 13),
          Seq(),
          expr("array_distinct(gram_hash60(ws, 13))"),
          "gram").distinct()
        val toks = docs
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("n_tokens", size(col("ws")).cast("long"))
        val grams = explodeLean(
          toks.filter(col("n_tokens") >= 13),
          Seq(col("doc_id")),
          expr("""transform(gram_hash60(ws, 13),
                   (g, i) -> named_struct('i', cast(i + 1 as bigint), 'g', g))"""),
          "gr")
          .select(col("doc_id"), col("gr.i").as("i"), col("gr.g").as("gram"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        val spans = grams.join(broadcast(bg), Seq("gram"))
          .select(col("doc_id"), col("i"), (col("i") + 12).as("e"))
          .withColumn("pmax", max(col("e")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("ns",
            when(col("pmax").isNull || col("i") > col("pmax"), 1L).otherwise(0L))
          .withColumn("sid", sum(col("ns")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("sid"))
          .agg(min(col("i")).as("sp_s"), max(col("e")).as("sp_e"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("sp_e") - col("sp_s") + 1).as("tokens_removed"),
            collect_list(struct(col("sp_s"), col("sp_e"))).as("sps"))
        toks.join(spans, Seq("doc_id")) // contaminated docs only
          .withColumn("cleaned", expr(
            """concat_ws(' ', transform(
                 filter(sequence(1L, n_tokens),
                   ix -> NOT exists(sps, sp -> ix >= sp.sp_s AND ix <= sp.sp_e)),
                 ix -> element_at(ws, cast(ix as int))))"""))
          .select(col("doc_id"), col("n_tokens"), col("n_spans"),
            col("tokens_removed"), md5(col("cleaned")).as("clean_hash"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH bench AS (SELECT
            array_to_string(list_slice(regexp_extract_all(text, '[a-zA-Z]+'), 1, 20), ' ') AS text
          FROM documents WHERE doc_id % 53 = 0),
        bw AS (SELECT regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM bench),
        bg AS (SELECT DISTINCT
            unnest(list_distinct(list_transform(range(0, greatest(len(ws) - 12, 0)),
              i -> ('0x' || substr(md5(array_to_string(
                list_slice(ws, i + 1, i + 13), ' ')), 1, 15))::BIGINT))) AS gram
          FROM bw WHERE len(ws) >= 13),
        tks AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_tokens
          FROM documents),
        grams AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
            ('0x' || substr(md5(array_to_string(
              ws[CAST(u.i AS BIGINT):(CAST(u.i AS BIGINT) + 12)], ' ')),
              1, 15))::BIGINT AS gram
          FROM tks, UNNEST(range(1, CAST(n_tokens AS BIGINT) - 11)) AS u(i)
          WHERE n_tokens >= 13),
        hits AS (SELECT g.doc_id, g.i, g.i + 12 AS e
          FROM grams g JOIN bg USING (gram)),
        mk AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM hits),
        mk2 AS (SELECT *, CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END AS ns FROM mk),
        mk3 AS (SELECT *, SUM(ns) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM mk2),
        spans AS (SELECT doc_id, sid, MIN(i) AS sp_s, MAX(e) AS sp_e
          FROM mk3 GROUP BY 1, 2),
        pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
            CAST(SUM(sp_e - sp_s + 1) AS BIGINT) AS tokens_removed,
            list({'sp_s': sp_s, 'sp_e': sp_e}) AS sps
          FROM spans GROUP BY doc_id)
        SELECT t.doc_id, t.n_tokens, pd.n_spans, pd.tokens_removed,
          md5(COALESCE(array_to_string(list_transform(
            list_filter(range(1, CAST(t.n_tokens AS BIGINT) + 1),
              ix -> len(list_filter(pd.sps,
                sp -> ix >= sp.sp_s AND ix <= sp.sp_e)) = 0),
            ix -> t.ws[ix]), ' '), '')) AS clean_hash
        FROM tks t JOIN pd ON pd.doc_id = t.doc_id
        ORDER BY t.doc_id""")),

    // ---- WEIGHTED sampling without replacement (Efraimidis–Spirakis
    // A-ES): the sampling primitive the mixture family (q48 stratified,
    // q88 minwise, q117/q141 recipes) lacks — draw k docs per language
    // with inclusion probability ∝ weight (n_chars: long docs
    // proportionally more likely), WITHOUT replacement, in one
    // distributed pass. Each doc gets an exponential race key
    // e = −ln(u)/w with u ∈ (0,1] derived from the portable md5 hash
    // (so both engines draw the SAME "randomness"); the k smallest keys
    // per stratum are the sample — provably equivalent to sequential
    // weighted draws. e is quantized to the 1e-9 grid (BIGINT) with a
    // doc_id tie-break, so cross-engine libm ulp drift cannot reorder.
    //
    // Scale: one map pass computes keys; the rank ≤ k filter compiles to
    // WindowGroupLimit, so each input partition forwards only its local
    // top-k per stratum before the shuffle — per-stratum work is
    // k-bounded, never corpus-sized, and a skewed giant language costs
    // its partition count × k rows on the wire, not its row count.
    ("q156_weighted_sample",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        val keyed = docs.select(col("lang"), col("doc_id"),
          col("n_chars").as("weight"),
          floor((-log((hash32(col("doc_id").cast("string")) + 1) /
              lit(4294967296.0)) / col("n_chars")) * 1e9 + 0.5)
            .cast("long").as("ekey"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("ekey"), col("doc_id"))
        keyed.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 8)
          .select(col("lang"), col("doc_id"), col("weight"), col("ekey"),
            col("rank"))
          .orderBy(col("lang"), col("rank"))
      },
      Some("""WITH keyed AS (SELECT lang, doc_id, n_chars AS weight,
            CAST(floor((-ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                1, 8))::BIGINT + 1) / 4294967296.0) / n_chars)
              * 1000000000.0 + 0.5) AS BIGINT) AS ekey
          FROM documents),
        r AS (SELECT *, row_number() OVER (PARTITION BY lang
            ORDER BY ekey, doc_id) AS rank FROM keyed)
        SELECT lang, doc_id, weight, ekey, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 8 ORDER BY lang, rank""")),

    // ---- small-files COMPACTION planner (lakehouse table maintenance —
    // the write-side sibling of q149's read-side layout report): ingest
    // leaves many small files per partition (here a "file" is the
    // per-(lang, source) slice of a 256-doc ingest batch, so file count
    // GROWS with the corpus like real crawl dumps), and the planner
    // assigns them to merge bins of ~target bytes by next-fit-DECREASING:
    // files ordered (bytes desc, key) within each lang partition, bin =
    // running-sum-before div target — the plan a compaction writer
    // executes, with per-bin fill ratios to judge it. All BIGINT floor
    // division.
    //
    // Scale: one combinable file-stats aggregate (corpus-sized input,
    // file-count output), then a files-sized window PARTITIONED BY the
    // table partition (lang) — planning cost tracks file counts, never
    // rows; the fill ratio exposes the one pathological case (a file >
    // target gets its own bin, fill4 > 10000) instead of hiding it.
    ("q159_compaction_plan",
      (s: SparkSession, dir: String) => {
        val target = 8192L
        val files = t(s, dir, "documents")
          .groupBy(col("lang"), col("source"),
            expr("doc_id div 256").as("batch"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(desc("bytes"), col("source"), col("batch"))
        files
          .withColumn("cum_before", coalesce(sum(col("bytes")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("bin", expr(s"cum_before div $target"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("n_docs")).as("n_docs"),
            sum(col("bytes")).as("bytes"))
          .withColumn("fill4", expr(s"bytes * 10000 div $target"))
          .orderBy(col("lang"), col("bin"))
      },
      Some("""WITH files AS (SELECT lang, source, doc_id // 256 AS batch,
            COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS bytes
          FROM documents GROUP BY 1, 2, 3),
        planned AS (SELECT lang, n_docs, bytes,
            CAST(COALESCE(SUM(bytes) OVER (PARTITION BY lang
              ORDER BY bytes DESC, source, batch
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) // 8192 AS bin
          FROM files)
        SELECT lang, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_files,
          CAST(SUM(n_docs) AS BIGINT) AS n_docs,
          CAST(SUM(bytes) AS BIGINT) AS bytes,
          CAST(CAST(SUM(bytes) AS BIGINT) * 10000 // 8192 AS BIGINT) AS fill4
        FROM planned GROUP BY 1, 2 ORDER BY lang, bin""")),

    // ---- token-budget DATA RECIPE with epoch up-sampling (the
    // Chinchilla/LLaMA-style mixture step q117 does NOT cover): each
    // language gets a TOKEN target (weight ‰ of a 1.5×-corpus budget,
    // integer arithmetic throughout); a language whose target exceeds its
    // stock is REPEATED — n_full = target div stock whole epochs — and
    // the remainder epoch is an EXACT deterministic prefix in content-
    // free hash order (cum_before < target mod stock), not a sampling
    // rate: the kept token count is exact to one document, re-run-stable,
    // and decorrelated from crawl order. Output: per-doc copy counts
    // (n_copies = 0 docs drop), the materialization plan a training-run
    // data loader consumes.
    //
    // Scale: the prefix needs a per-lang cumulative sum in (shard, h,
    // doc_id) order — computed TWO-PHASE: a window inside each (lang,
    // hash-shard) partition plus a 32-row-per-lang offset window over
    // shard subtotals, so no per-language global sort exists in the plan
    // (the canonical order is DEFINED as (shard, h, doc_id), which the
    // oracle's single window reproduces lexicographically — same result,
    // shard-parallel computation). Per-lang totals are a 5-row broadcast.
    ("q141_token_recipe",
      (s: SparkSession, dir: String) => {
        val wPm = "CASE lang WHEN 'en' THEN 225 WHEN 'de' THEN 375 " +
          "WHEN 'zh' THEN 375 WHEN 'fr' THEN 300 ELSE 225 END"
        val d = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .cast("long").as("n_tok"))
          .withColumn("h", hash32(concat(lit("rcp:"), col("doc_id").cast("string"))))
          .withColumn("shard", col("h") % 32)
          .localCheckpoint() // one tokenize pass feeds cumsum, totals, output
        Scoped.releaseAfterUse(d)
        val w1 = Window.partitionBy(col("lang"), col("shard"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val shardTot = d.groupBy(col("lang"), col("shard"))
          .agg(sum(col("n_tok")).as("st"))
        val w2 = Window.partitionBy(col("lang")).orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = shardTot
          .withColumn("off", coalesce(sum(col("st")).over(w2), lit(0L)))
          .select(col("lang"), col("shard"), col("off"))
        val langTot = d.groupBy(col("lang")).agg(sum(col("n_tok")).as("tot"))
        val grand = d.agg(sum(col("n_tok")).as("gt"))
        val targets = langTot.crossJoin(broadcast(grand))
          .withColumn("target", expr(s"($wPm * gt) div 1000"))
          .select(col("lang"), col("tot"), col("target"))
        d.withColumn("cum_in_shard", sum(col("n_tok")).over(w1))
          .join(broadcast(offsets), Seq("lang", "shard"))
          .withColumn("cum_before", col("off") + col("cum_in_shard") - col("n_tok"))
          .join(broadcast(targets), Seq("lang"))
          .withColumn("n_copies", // integer div — `/` on longs is double division
            expr("target div tot") +
              when(col("cum_before") < col("target") % col("tot"), 1L).otherwise(0L))
          .filter(col("n_copies") > 0)
          .select(col("doc_id"), col("lang"), col("n_tok"), col("n_copies"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH d AS (SELECT doc_id, lang,
            CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_tok,
            ('0x' || substr(md5('rcp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM documents),
        d2 AS (SELECT *, h % 32 AS shard FROM d),
        lt AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tot FROM d2 GROUP BY 1),
        g AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS gt FROM d2),
        tg AS (SELECT lt.lang, lt.tot,
            ((CASE lt.lang WHEN 'en' THEN 225 WHEN 'de' THEN 375
              WHEN 'zh' THEN 375 WHEN 'fr' THEN 300 ELSE 225 END) * g.gt) // 1000
              AS target
          FROM lt, g),
        cum AS (SELECT d2.*,
            SUM(n_tok) OVER (PARTITION BY lang ORDER BY shard, h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_before
          FROM d2)
        SELECT c.doc_id, c.lang, c.n_tok,
          (tg.target // tg.tot) +
            (CASE WHEN c.cum_before < (tg.target % tg.tot) THEN 1 ELSE 0 END) AS n_copies
        FROM cum c JOIN tg ON tg.lang = c.lang
        WHERE (tg.target // tg.tot) +
            (CASE WHEN c.cum_before < (tg.target % tg.tot) THEN 1 ELSE 0 END) > 0
        ORDER BY c.doc_id""")),

    // ---- vocabulary COVERAGE CURVE: the smallest vocabulary that covers
    // 50% / 90% / 99% of corpus token mass — the sizing analysis run
    // before committing a tokenizer vocab (complements the BPE trainer:
    // q109/q116 LEARN merges, this says how many entries are worth
    // learning). Computed with NO global vocab sort: terms of equal
    // frequency are interchangeable for coverage, so the curve needs only
    // the FREQUENCY-CLASS histogram ((count, n_terms) — O(distinct
    // frequencies) ≈ O(√tokens) rows) and a triangular self-join for the
    // suffix sums; the boundary class contributes ⌈deficit / c⌉ terms.
    // All integer arithmetic (targets in percent, cross-multiplied), so
    // both engines agree exactly. At 100 TB: one combinable term-count
    // shuffle + one tiny class aggregation; nothing vocab-ordered ever
    // shuffles, no window at all.
    ("q142_vocab_coverage",
      (s: SparkSession, dir: String) => {
        val terms = explodeLean(
          t(s, dir, "documents")
            .select(expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws")),
          Seq(), col("ws"), "tok")
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val classes = terms.groupBy(col("c")).agg(count(lit(1)).as("n_terms"))
          .withColumn("toks", col("c") * col("n_terms"))
          .localCheckpoint() // tiny; consumed by both sides of the suffix join
        Scoped.releaseAfterUse(classes)
        val suffix = classes.as("a")
          .join(classes.as("b"), col("b.c") >= col("a.c"))
          .groupBy(col("a.c").as("c"), col("a.n_terms").as("n_terms"),
            col("a.toks").as("toks"))
          .agg(sum(col("b.toks")).as("cumtok"),
            sum(col("b.n_terms")).as("cumvocab"))
        val total = classes.agg(sum(col("toks")).as("tt"))
        val tgt = s.range(1).select(
          explode(expr("array(50, 90, 99)")).as("pct"))
        suffix.crossJoin(broadcast(total)).crossJoin(broadcast(tgt))
          // the smallest frequency class c where taking ALL terms of
          // frequency >= c reaches the target; the boundary class only
          // needs ceil(deficit / c) of its terms
          .filter(col("cumtok") * 100 >= col("pct") * col("tt") &&
            (col("cumtok") - col("toks")) * 100 < col("pct") * col("tt"))
          .withColumn("vocab_size", // integer ceil-div, exact in both engines
            expr("""cumvocab - n_terms + (pct * tt - (cumtok - toks) * 100
                + c * 100 - 1) div (c * 100)"""))
          .select(col("pct"), col("vocab_size"),
            col("tt").as("total_tokens"), col("c").as("boundary_freq"))
          .orderBy(col("pct"))
      },
      Some("""WITH toks AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        terms AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        cls AS (SELECT c, COUNT(*) AS n_terms, c * COUNT(*) AS toks
          FROM terms GROUP BY c),
        sfx AS (SELECT a.c, a.n_terms, a.toks,
            CAST(SUM(b.toks) AS BIGINT) AS cumtok,
            CAST(SUM(b.n_terms) AS BIGINT) AS cumvocab
          FROM cls a JOIN cls b ON b.c >= a.c
          GROUP BY a.c, a.n_terms, a.toks),
        tt AS (SELECT CAST(SUM(toks) AS BIGINT) AS tt FROM cls),
        tgt AS (SELECT unnest([50, 90, 99]) AS pct)
        SELECT CAST(tgt.pct AS INT) AS pct,
          (sfx.cumvocab - sfx.n_terms +
            (tgt.pct * tt.tt - (sfx.cumtok - sfx.toks) * 100
              + sfx.c * 100 - 1) // (sfx.c * 100)) AS vocab_size,
          tt.tt AS total_tokens, sfx.c AS boundary_freq
        FROM sfx, tt, tgt
        WHERE sfx.cumtok * 100 >= tgt.pct * tt.tt
          AND (sfx.cumtok - sfx.toks) * 100 < tgt.pct * tt.tt
        ORDER BY pct""")),

    // ---- classifier CALIBRATION report (ECE): the q40 language-ID
    // heuristic emits a CONFIDENCE (its stop-ratio, scaled so the 0.05
    // decision threshold maps to 0.5); this op measures whether that
    // confidence MEANS anything before it is used as a keep/drop filter —
    // 10 equal-width confidence bins, each with its mean stated
    // confidence, its empirical accuracy against the labeled `lang`
    // column, and the per-bin gap; plus the corpus Expected Calibration
    // Error Σ n_b·|acc_b − conf_b| / N broadcast onto every row. The
    // number that decides whether "keep docs with p(en) ≥ 0.8" is a
    // calibrated filter or a lie before it runs over 100 TB. All shares
    // are BIGINT ‱ floor division — cross-engine exact, no float drift.
    //
    // Scale: one map-only doc pass (the q40 token expressions) → a
    // 10-row combinable aggregate → a 1-row ECE broadcast back onto the
    // bins. Aggregate state is the BIN count, never rows.
    ("q174_calibration_report",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents")
          .select(col("lang"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("n_tokens", size(col("ws")).cast("long"))
          .withColumn("n_stop",
            expr(s"size(filter(ws, w -> array_contains($stopSparkArr, w)))")
              .cast("long"))
          // confidence = stop_ratio / 0.10 clamped to [0,1], on the 1e4
          // integer grid (so q40's 0.05 cut sits at conf4 = 5000)
          .withColumn("conf4",
            least(expr("n_stop * 100000 div greatest(n_tokens, 1)"),
              lit(10000L)))
          .withColumn("hit", when(col("lang") === "en", 1L).otherwise(0L))
          .withColumn("bin", least(expr("conf4 div 1000"), lit(9L)))
        val bins = d.groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            expr("sum(conf4) div count(1)").as("avg_conf4"),
            expr("sum(hit) * 10000 div count(1)").as("acc4"))
          .withColumn("gap4", abs(col("acc4") - col("avg_conf4")))
        val ece = bins.agg(expr("sum(n * gap4) div sum(n)").as("ece4"))
        bins.crossJoin(broadcast(ece))
          .select(col("bin"), col("n"), col("avg_conf4"), col("acc4"),
            col("gap4"), col("ece4"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH d AS (SELECT lang,
            regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        e AS (SELECT lang, CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(len(list_filter(ws, w -> list_contains($stopDuckList, w))) AS BIGINT) AS n_stop
          FROM d),
        c AS (SELECT
            least(n_stop * 100000 // greatest(n_tokens, 1), 10000) AS conf4,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS hit FROM e),
        b AS (SELECT least(conf4 // 1000, 9) AS bin, COUNT(*) AS n,
            CAST(SUM(conf4) // COUNT(*) AS BIGINT) AS avg_conf4,
            CAST(SUM(hit) * 10000 // COUNT(*) AS BIGINT) AS acc4
          FROM c GROUP BY 1),
        g AS (SELECT bin, n, avg_conf4, acc4,
            abs(acc4 - avg_conf4) AS gap4 FROM b),
        ece AS (SELECT CAST(SUM(n * gap4) // SUM(n) AS BIGINT) AS ece4 FROM g)
        SELECT CAST(bin AS BIGINT) AS bin, n, avg_conf4, acc4, gap4, ece.ece4
        FROM g, ece ORDER BY bin""")),

    // ---- Poisson-bootstrap confidence interval (metric uncertainty at
    // corpus scale): classical bootstrap resampling is impossible at
    // 100 TB — you cannot draw n rows with replacement B times — but the
    // Poisson approximation needs only ONE scan: each row enters
    // replicate b with weight w ~ Poisson(1), derived here
    // deterministically from md5(doc_id, b) pushed through the
    // Poisson(1) inverse CDF on a 1e4 grid (thresholds are the floored
    // CDF values; the grid saturates at k = 6), bit-identical in both
    // engines. B = 64 weighted means of n_chars; the CI is the rank-2 /
    // rank-63 order statistics of the replicate means (2.5% / 97.5%).
    //
    // Scale: the explode(0..63) inflation never reaches a shuffle —
    // map-side partial aggregation collapses it to ≤ 64 rows per
    // partition, and the final aggregate state is 64 (Σwx, Σw) pairs
    // regardless of corpus size. The order-statistic pull is a 64-row
    // collect_list, bounded by B by construction.
    ("q175_bootstrap_ci",
      (s: SparkSession, dir: String) => {
        val B = 64
        val reps = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .withColumn("b", explode(expr(s"sequence(0, ${B - 1})")))
          .withColumn("u4", expr(
            """cast(conv(substring(md5(concat(cast(doc_id as string), ':',
               cast(b as string))), 1, 8), 16, 10) as bigint) % 10000"""))
          .withColumn("w", expr(
            """cast(case when u4 < 3679 then 0 when u4 < 7358 then 1
               when u4 < 9197 then 2 when u4 < 9811 then 3
               when u4 < 9964 then 4 when u4 < 9995 then 5
               else 6 end as bigint)"""))
          .groupBy(col("b"))
          .agg(expr("sum(w * n_chars) * 10000 div greatest(sum(w), 1)")
            .as("mean4"))
        val base = t(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs"),
            expr("sum(n_chars) * 10000 div count(1)").as("est4"))
        val ci = reps.agg(
          count(lit(1)).as("n_replicates"),
          expr("element_at(sort_array(collect_list(mean4)), 2)").as("lo4"),
          expr(s"element_at(sort_array(collect_list(mean4)), ${B - 1})")
            .as("hi4"))
        base.crossJoin(broadcast(ci))
          .select(col("n_docs"), col("n_replicates"), col("est4"),
            col("lo4"), col("hi4"), (col("hi4") - col("lo4")).as("width4"))
      },
      Some("""WITH u AS (
          SELECT n_chars, r0.b,
            ('0x' || substr(md5(doc_id::VARCHAR || ':' || r0.b::VARCHAR), 1, 8))::BIGINT
              % 10000 AS u4
          FROM documents, (SELECT unnest(range(0, 64)) AS b) r0),
        wt AS (SELECT b, n_chars,
            CASE WHEN u4 < 3679 THEN 0 WHEN u4 < 7358 THEN 1
                 WHEN u4 < 9197 THEN 2 WHEN u4 < 9811 THEN 3
                 WHEN u4 < 9964 THEN 4 WHEN u4 < 9995 THEN 5
                 ELSE 6 END AS w
          FROM u),
        reps AS (SELECT b,
            CAST(SUM(w * n_chars) * 10000 // greatest(SUM(w), 1) AS BIGINT) AS mean4
          FROM wt GROUP BY b),
        base AS (SELECT COUNT(*) AS n_docs,
            CAST(SUM(n_chars) * 10000 // COUNT(*) AS BIGINT) AS est4
          FROM documents),
        ci AS (SELECT COUNT(*) AS n_replicates,
            list_sort(list(mean4))[2] AS lo4,
            list_sort(list(mean4))[63] AS hi4
          FROM reps)
        SELECT n_docs, n_replicates, est4, lo4, hi4, hi4 - lo4 AS width4
        FROM base, ci""")),

    // ---- cross-source score-quantile ALIGNMENT (threshold transfer):
    // quality scores are only comparable within the source that produced
    // them — "keep score ≥ 0.8" is a different severity per crawl. This
    // op aligns them: per-source exact quantiles at 9 probe points vs
    // the pooled-corpus quantiles, the per-probe gap, and the
    // threshold-transfer number — the share of each source that a cut at
    // the GLOBAL p-quantile keeps. The decision artifact before applying
    // one filter threshold across heterogeneous sources at 100 TB.
    //
    // Scale: scores live on q41's 1e4 grid, so the distribution state is
    // the (source, score4) HISTOGRAM — domain-bounded (≤ 10001 rows per
    // source), never row count (the q172 lesson applied to quantiles).
    // One map-only scoring pass → one combinable histogram aggregate;
    // quantiles are min-over-a-9-probe-filter on the bounded histogram;
    // the only window is source-partitioned over histogram rows; the
    // pooled cumulative uses the q142 bounded self-join, NOT an
    // unpartitioned window (the PlanSpec whitelist stays at two sites).
    ("q176_score_quantile_align",
      (s: SparkSession, dir: String) => {
        def r4(c: org.apache.spark.sql.Column) = floor(c * 1e4 + 0.5) / 1e4
        val scored = t(s, dir, "documents")
          .select(col("source"), col("text"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .withColumn("n_tokens", size(col("ws")).cast("long"))
          .withColumn("n_alpha", length(array_join(col("ws"), "")).cast("long"))
          .withColumn("alpha_ratio",
            r4(col("n_alpha").cast("double")
              / greatest(length(col("text")).cast("long"), lit(1L))))
          .withColumn("avg_w_len",
            r4(col("n_alpha").cast("double") / greatest(col("n_tokens"), lit(1L))))
          // q41's quality_score, kept as its 1e4-grid integer numerator
          .withColumn("score4",
            floor((lit(0.4) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
              + lit(0.3) * col("alpha_ratio")
              + lit(0.3) * least(col("avg_w_len") / 10.0, lit(1.0))) * 1e4 + 0.5)
              .cast("long"))
        val hist = scored.groupBy(col("source"), col("score4"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint() // feeds totals, the per-source cum, the pooled
                             // histogram AND the kept-share pass
        Scoped.releaseAfterUse(hist)
        val tot = hist.groupBy(col("source")).agg(sum(col("n")).as("nt"))
        val wsrc = Window.partitionBy(col("source")).orderBy(col("score4"))
        val cum = hist.withColumn("cum", sum(col("n")).over(wsrc))
          .join(broadcast(tot), Seq("source"))
        val probes = s.range(1).select(explode(expr(
          "array(100L, 500L, 1000L, 2500L, 5000L, 7500L, 9000L, 9500L, 9900L)"))
          .as("p"))
        val srcq = cum.crossJoin(broadcast(probes))
          .filter(col("cum") * 10000 >= col("p") * col("nt"))
          .groupBy(col("source"), col("p"))
          .agg(min(col("score4")).as("src_q4"))
        val ghist = hist.groupBy(col("score4")).agg(sum(col("n")).as("n"))
        val gcum = ghist.as("a")
          .join(ghist.as("b"), col("b.score4") <= col("a.score4"))
          .groupBy(col("a.score4").as("score4"))
          .agg(sum(col("b.n")).as("cum"))
        val gtot = ghist.agg(sum(col("n")).as("gt"))
        val gq = gcum.crossJoin(broadcast(gtot)).crossJoin(broadcast(probes))
          .filter(col("cum") * 10000 >= col("p") * col("gt"))
          .groupBy(col("p")).agg(min(col("score4")).as("glob_q4"))
        val kept = hist.crossJoin(broadcast(gq))
          .groupBy(col("source"), col("p"), col("glob_q4"))
          .agg(sum(when(col("score4") > col("glob_q4"), col("n"))
            .otherwise(0L)).as("n_kept"))
          .join(broadcast(tot), Seq("source"))
          .withColumn("kept4", expr("n_kept * 10000 div nt"))
        srcq.join(kept, Seq("source", "p"))
          .select(col("source"), col("p"), col("src_q4"), col("glob_q4"),
            (col("src_q4") - col("glob_q4")).as("gap4"), col("kept4"))
          .orderBy(col("source"), col("p"))
      },
      Some("""WITH d AS (SELECT source, text,
            regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        e AS (SELECT source,
            CAST(len(ws) AS BIGINT) AS n_tokens,
            CAST(length(array_to_string(ws, '')) AS BIGINT) AS n_alpha,
            CAST(length(text) AS BIGINT) AS n_chars
          FROM d),
        f AS (SELECT source, n_tokens,
            floor(CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1) * 10000.0 + 0.5) / 10000.0 AS alpha_ratio,
            floor(CAST(n_alpha AS DOUBLE) / greatest(n_tokens, 1) * 10000.0 + 0.5) / 10000.0 AS avg_w_len
          FROM e),
        sc AS (SELECT source,
            CAST(floor((0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
              + 0.3 * alpha_ratio + 0.3 * least(avg_w_len / 10.0, 1.0))
              * 10000.0 + 0.5) AS BIGINT) AS score4
          FROM f),
        hist AS (SELECT source, score4, COUNT(*) AS n
          FROM sc GROUP BY source, score4),
        tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nt
          FROM hist GROUP BY source),
        cum AS (SELECT source, score4, n,
            CAST(SUM(n) OVER (PARTITION BY source ORDER BY score4) AS BIGINT) AS cum
          FROM hist),
        probes AS (SELECT CAST(unnest([100, 500, 1000, 2500, 5000, 7500,
            9000, 9500, 9900]) AS BIGINT) AS p),
        srcq AS (SELECT c.source, p.p, MIN(c.score4) AS src_q4
          FROM cum c JOIN tot t USING (source), probes p
          WHERE c.cum * 10000 >= p.p * t.nt
          GROUP BY c.source, p.p),
        ghist AS (SELECT score4, CAST(SUM(n) AS BIGINT) AS n
          FROM hist GROUP BY score4),
        gcum AS (SELECT score4, CAST(SUM(n) OVER (ORDER BY score4) AS BIGINT) AS cum
          FROM ghist),
        gtot AS (SELECT CAST(SUM(n) AS BIGINT) AS gt FROM ghist),
        gq AS (SELECT p.p, MIN(g.score4) AS glob_q4
          FROM gcum g, gtot, probes p
          WHERE g.cum * 10000 >= p.p * gtot.gt
          GROUP BY p.p),
        kept AS (SELECT h.source, gq.p, gq.glob_q4,
            CAST(SUM(CASE WHEN h.score4 > gq.glob_q4 THEN h.n ELSE 0 END)
              AS BIGINT) AS n_kept
          FROM hist h, gq
          GROUP BY h.source, gq.p, gq.glob_q4)
        SELECT s.source, s.p, s.src_q4, k.glob_q4,
          s.src_q4 - k.glob_q4 AS gap4,
          CAST(k.n_kept * 10000 // t.nt AS BIGINT) AS kept4
        FROM srcq s JOIN kept k ON s.source = k.source AND s.p = k.p
        JOIN tot t ON t.source = s.source
        ORDER BY s.source, s.p"""))
  )

  /** BPE trainer-loop round 2 (q116): learn merge #1 from the iteration-1
    * pair counts (q109's numbers), APPLY it, re-count — the step that turns
    * a pair counter into a TRAINER (VERDICT r6 #8). Declared next to the
    * catalog for Scaladoc visibility; appended to [[catalog]] below. */
  val catalogTrainer: Seq[(String, Q, Option[String])] = Seq(
    // ---- the classic trainer shape: operate on word TYPES weighted by
    // frequency, not token occurrences — the corpus is read ONCE to build
    // the (tok, cnt) vocab (one combinable shuffle of |tokens| rows), and
    // every later round touches only |vocab| rows. At 100 TB that is the
    // difference between re-scanning 100 TB per merge and iterating over
    // a few-MB type table. The learned merge is a 1-row broadcast scalar
    // (no driver collect); applying it is a map-only greedy left-to-right
    // non-overlapping fold per type (the BPE apply contract), O(L) rows ×
    // O(L²) char work on ≤ word-length arrays; the re-count is one
    // combinable (sym_a, sym_b) shuffle. Gate = top-20 iteration-2 pairs,
    // where merged symbols appear as multi-char units — a broken argmax,
    // apply, or re-count all move the top-20.
    ("q116_bpe_train2",
      (s: SparkSession, dir: String) => {
        val types = explodeLean(t(s, dir, "documents"), Seq(),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
          .filter(length(col("tok")) >= 2)
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val m1 = types
          .select(col("cnt"), explode(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
          .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
          .orderBy(desc("n"), asc("pair")).limit(1)
          .select(substring(col("pair"), 1, 1).as("s1"),
            substring(col("pair"), 2, 1).as("s2"))
        // greedy LTR fold: merge when the PREVIOUS emitted symbol is s1
        // and the current char is s2 — a symbol already produced by a
        // merge in this pass can't be re-used as a left operand because
        // it string-differs from the single-char s1
        val merged = types.crossJoin(broadcast(m1))
          .withColumn("syms", expr(
            """aggregate(
                 transform(sequence(1, length(tok)), i -> substring(tok, i, 1)),
                 cast(array() as array<string>),
                 (acc, c) -> if(size(acc) > 0 AND element_at(acc, -1) = s1 AND c = s2,
                   concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))),
                   concat(acc, array(c))))"""))
          .filter(size(col("syms")) >= 2) // a fully-merged 2-char type has no it2 pair
        merged
          // zip_with binds element VALUES (no per-index re-eval of syms)
          .select(col("cnt"), explode(expr(
            """zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1),
                 (a, b) -> named_struct('sym_a', a, 'sym_b', b))""")).as("p"))
          .select(col("p.sym_a"), col("p.sym_b"), col("cnt"))
          .groupBy(col("sym_a"), col("sym_b")).agg(sum(col("cnt")).as("n"))
          .orderBy(desc("n"), asc("sym_a"), asc("sym_b")).limit(20)
      },
      // DuckDB has no list fold, so the oracle applies the merge with the
      // gaps-and-islands parity rule: within each run of CONSECUTIVE match
      // positions keep the 0th, 2nd, ... — exactly greedy left-to-right
      // non-overlapping (proved equivalent to the fold in PropertySpec)
      Some("""WITH toks AS (SELECT
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        types AS (SELECT tok, COUNT(*) AS cnt FROM toks
          WHERE length(tok) >= 2 GROUP BY tok),
        it1 AS (SELECT substr(tok, CAST(i AS INT), 2) AS pair, SUM(cnt) AS n
          FROM (SELECT tok, cnt, unnest(range(1, length(tok))) AS i FROM types)
          GROUP BY pair),
        m1 AS (SELECT substr(pair, 1, 1) AS s1, substr(pair, 2, 1) AS s2
          FROM it1 ORDER BY n DESC, pair LIMIT 1),
        chars AS (SELECT tok, cnt, CAST(i AS BIGINT) AS i,
            substr(tok, CAST(i AS INT), 1) AS sym
          FROM (SELECT tok, cnt, unnest(range(1, length(tok) + 1)) AS i FROM types)),
        mt AS (SELECT c.tok, c.i FROM chars c
          JOIN chars d ON d.tok = c.tok AND d.i = c.i + 1
          CROSS JOIN m1 WHERE c.sym = m1.s1 AND d.sym = m1.s2),
        isl AS (SELECT tok, i,
            i - ROW_NUMBER() OVER (PARTITION BY tok ORDER BY i) AS grp
          FROM mt),
        keep AS (SELECT tok, i FROM (
            SELECT tok, i, (i - MIN(i) OVER (PARTITION BY tok, grp)) % 2 AS par
            FROM isl) WHERE par = 0),
        ns AS (SELECT c.tok, c.cnt, c.i,
            CASE WHEN k.i IS NOT NULL THEN m.s1 || m.s2 ELSE c.sym END AS sym
          FROM chars c CROSS JOIN m1 m
          LEFT JOIN keep k ON k.tok = c.tok AND k.i = c.i
          LEFT JOIN keep k2 ON k2.tok = c.tok AND k2.i = c.i - 1
          WHERE k2.i IS NULL),
        seq AS (SELECT tok, cnt, sym,
            ROW_NUMBER() OVER (PARTITION BY tok ORDER BY i) AS j
          FROM ns),
        it2 AS (SELECT a.sym AS sym_a, b.sym AS sym_b, SUM(a.cnt) AS n
          FROM seq a JOIN seq b ON b.tok = a.tok AND b.j = a.j + 1
          GROUP BY a.sym, b.sym)
        SELECT sym_a, sym_b, CAST(n AS BIGINT) AS n
        FROM it2 ORDER BY n DESC, sym_a, sym_b LIMIT 20""")),

    // ---- the FULL trainer loop (k = 3 rounds): count → argmax → apply →
    // recount, iterated — q116's single step driven to a real merge-table
    // build, the distributed analog of a BPE tokenizer trainer's main
    // loop. Every round: one combinable (sym_a, sym_b)-keyed shuffle over
    // the TYPE table for counts, a 1-row broadcast argmax (no driver
    // collect of data — only the per-round checkpoint of a 1-row merge),
    // a map-only greedy fold to re-symbolize, and a localCheckpoint so
    // round r+1 doesn't re-execute rounds 1..r (the PageRank loop's
    // materialize-and-free discipline; the corpus itself is never
    // re-read after the vocab build). In rounds ≥ 2 the merge operands
    // are themselves multi-char merged symbols — the fold's
    // last-emitted-symbol test stays exact because a merged symbol
    // (s1||s2, s2 non-empty) can never string-equal the s1 that formed
    // it. Gate = the learned merge table (round, s1, s2, n) — the
    // trainer's actual artifact.
    ("q119_bpe_train_loop",
      (s: SparkSession, dir: String) => {
        val (tops, finalSeq) = bpeTrain(s, dir, rounds = 3)
        Scoped.free(finalSeq) // the merges, not the final seq, are the artifact
        val merges = tops.zipWithIndex.map { case (tp, i) =>
          tp.withColumn("round", lit((i + 1).toLong)) }
        val out = merges.reduce(_ unionByName _)
          .select(col("round"), col("s1"), col("s2"), col("n"))
          .orderBy(col("round"))
        Scoped.releaseAfterUse(merges: _*)
        out
      },
      Some(
        s"""WITH $bpeTrainSqlCtes
          SELECT CAST(r AS BIGINT) AS round, s1, s2, CAST(n AS BIGINT) AS n FROM (
            SELECT 1 AS r, s1, s2, n FROM m_1
            UNION ALL SELECT 2, s1, s2, n FROM m_2
            UNION ALL SELECT 3, s1, s2, n FROM m_3)
          ORDER BY round""")),

    // ---- tokenizer APPLY (the serving side of q119): encode the corpus
    // with the learned merge table and report per-language symbol counts
    // and the char-per-symbol compression the tokenizer achieves — the
    // go/no-go number before committing a vocab to a 100 TB tokenization
    // run. Shape: the trainer runs on the TYPE table (tiny); per-type
    // final symbol counts then join the corpus token stream (vocab-sized
    // build side — broadcast at fixture scale, shuffle-hash beyond) and
    // aggregate per language. Tokens shorter than 2 chars never merge and
    // count as one symbol. The oracle reuses the trainer CTEs' final
    // symbolization (seq_4) directly.
    ("q120_bpe_apply_corpus",
      (s: SparkSession, dir: String) => {
        val (tops, finalSeq) = bpeTrain(s, dir, rounds = 3)
        // merge values are already baked into finalSeq's fold rounds
        tops.foreach(Scoped.free(_))
        Scoped.releaseAfterUse(finalSeq)
        val typeCounts = finalSeq
          .select(col("tok"), size(col("syms")).cast("long").as("n_syms"))
        val dt = explodeLean(t(s, dir, "documents"), Seq(col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        dt.join(typeCounts, Seq("tok"), "left")
          .withColumn("n_syms", coalesce(col("n_syms"), lit(1L)))
          .withColumn("n_chars", length(col("tok")).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("n_chars")).as("n_chars"),
            sum(col("n_syms")).as("n_syms"))
          .withColumn("compression",
            floor(col("n_chars").cast("double") / col("n_syms") * 1e4 + 0.5) / 1e4)
          .orderBy(col("lang"))
      },
      Some(
        s"""WITH $bpeTrainSqlCtes,
          tcount AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_syms
            FROM seq_4 GROUP BY tok),
          dt AS (SELECT lang,
              unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
            FROM documents),
          j AS (SELECT lang, tok, CAST(length(tok) AS BIGINT) AS n_chars,
              COALESCE(t.n_syms, 1) AS n_syms
            FROM dt LEFT JOIN tcount t USING (tok))
          SELECT lang, COUNT(*) AS n_tokens,
            CAST(SUM(n_chars) AS BIGINT) AS n_chars,
            CAST(SUM(n_syms) AS BIGINT) AS n_syms,
            floor(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_syms) * 10000.0 + 0.5)
              / 10000.0 AS compression
          FROM j GROUP BY lang ORDER BY lang""")),

    // ---- DETERMINISTIC GLOBAL SHUFFLE ORDER for reproducible training:
    // every doc's position in the epoch-0 data order is the rank of its
    // seeded hash (md5-derived, so re-runs, engines, and resumed jobs
    // agree bit-for-bit), and shard/pos_in_shard follow by round-robin —
    // the data-loading contract that makes a training run replayable
    // from any step. The SCALE point is HOW the rank is computed: a
    // global row_number() is a single-task window at 100 TB, so this
    // runs the two-phase enumeration instead — range-partition by hash,
    // per-partition rank via a pid-PARTITIONED window, and ≤ |partitions|
    // per-partition counts pulled driver-side (the I3 bounded-pull
    // pattern) into broadcast offsets. Output is invariant to where the
    // sampled range boundaries land, because offsets absorb them.
    ("q186_shuffle_order",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val parted = t(s, dir, "documents")
          .select(col("doc_id"),
            hash60(concat(lit("epoch0:"), col("doc_id").cast("string"))).as("h"))
          .repartitionByRange(32, col("h"), col("doc_id"))
          .sortWithinPartitions(col("h"), col("doc_id"))
          .withColumn("pid", spark_partition_id())
          .localCheckpoint()
        val counts = parted.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        // armed only AFTER the driver-side counts pull: releaseAfterUse
        // fires on the next completed action, and the bounded collect
        // above IS an action — arming first frees the checkpoint under
        // the real consumer (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
        Scoped.releaseAfterUse(parted)
        var acc = 0L
        val offs = counts.map { case (pid, c) => val o = (pid, acc); acc += c; o }
        val w = Window.partitionBy(col("pid")).orderBy(col("h"), col("doc_id"))
        parted
          .withColumn("rk", row_number().over(w))
          .join(broadcast(offs.toSeq.toDF("pid", "off")), Seq("pid"))
          .select(col("doc_id"),
            (col("off") + col("rk") - 1L).as("position"))
          .select(col("doc_id"), col("position"),
            (col("position") % 8L).as("shard"),
            expr("position div 8").as("pos_in_shard"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (SELECT doc_id,
            CAST(('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM documents),
        p AS (SELECT doc_id,
            row_number() OVER (ORDER BY h, doc_id) - 1 AS position
          FROM h)
        SELECT doc_id, position, position % 8 AS shard,
          position // 8 AS pos_in_shard
        FROM p ORDER BY doc_id""")),

    // ---- HEAPS' LAW vocabulary-growth curve + fitted exponent: V(n) ≈
    // K·n^β measured at 10 geometric doc-id prefixes (maxid >> 9 ... >>
    // 0), with β and ln K from an integer-exact least-squares fit over
    // (ln n_tokens, ln vocab) — the corpus scaling diagnostic that says
    // whether a tokenizer vocab / hash space sized on a sample will hold
    // at 100 TB (β drifting up = open vocabulary growing faster than the
    // sample suggested; the fixture's bounded synthetic vocab fits a
    // near-zero β — the report EXPOSES the fixture artifact that drove
    // the q154/q178/q181 candidate transitions).
    //
    // Cross-engine discipline: vocab-at-prefix needs NO cumulative
    // window — each term folds to its FIRST doc id (one combinable min),
    // each prefix count is a broadcast 10-row theta-join; ln values live
    // on the 1e-6 grid (the q133/q165 pattern) and the regression is
    // exact integer sums with ONE widened division per coefficient
    // (decimal(38,0)/HUGEINT — m·Σxy·1e4 overflows int64). Prefixes with
    // zero vocab are reported but excluded from the fit (ln undefined).
    ("q187_heaps_law",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(t(s, dir, "documents"), Seq(col("doc_id")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
          .localCheckpoint()
        Scoped.releaseAfterUse(toks)
        val ts = toks.agg(max(col("doc_id")).as("m"))
          .select(explode(expr("sequence(1, 10)")).as("k"), col("m"))
          .select(col("k").cast("long").as("k"),
            expr("shiftright(m, 10 - k)").as("t"))
        val firstDoc = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("fd"))
        val vocabK = broadcast(ts).join(firstDoc, col("fd") <= col("t"))
          .groupBy(col("k"), col("t")).agg(count(lit(1)).as("vocab"))
        val docTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
        val sizeK = broadcast(ts).join(docTok, col("doc_id") <= col("t"))
          .groupBy(col("k"), col("t"))
          .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        val curve = ts.join(vocabK, Seq("k", "t"), "left")
          .join(sizeK, Seq("k", "t"), "left")
          .select(col("k"), col("t"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
            coalesce(col("vocab"), lit(0L)).as("vocab"))
          .localCheckpoint()
        Scoped.releaseAfterUse(curve)
        val fit = curve
          .filter(col("vocab") > 0L && col("n_tokens") > 0L)
          .select(
            expr("cast(floor(ln(cast(n_tokens as double)) * 1e6 + 0.5) as bigint)").as("x6"),
            expr("cast(floor(ln(cast(vocab as double)) * 1e6 + 0.5) as bigint)").as("y6"))
          .agg(count(lit(1)).as("m"), sum(col("x6")).as("sx"),
            sum(col("y6")).as("sy"),
            sum(expr("x6 * y6")).as("sxy"), sum(expr("x6 * x6")).as("sxx"))
          // exact-remainder division (on BOTH engines):
          // Spark's decimal div rounds its intermediate quotient at scale
          // 6 (and integer `//`/`div` semantics, though measured identical
          // across engines — ADVICE r20 — are convention-sensitive on
          // negatives) — subtracting num % den first makes the quotient
          // exact, where every convention agrees
          .withColumn("bn", expr("cast(m * sxy - sx * sy as decimal(38,0)) * 10000 " +
            "+ (m * sxx - sx * sx) div 2"))
          .withColumn("bd", expr("m * sxx - sx * sx"))
          .select(expr("cast((bn - bn % bd) div bd as bigint)").as("beta4"),
            col("m"), col("sx"), col("sy"))
          .withColumn("kn", expr("cast(sy as decimal(38,0)) * 10000 " +
            "- cast(beta4 as decimal(38,0)) * sx"))
          .withColumn("kd", expr("m * 1000000"))
          .select(col("beta4"),
            expr("cast((kn - kn % kd) div kd as bigint)").as("lnk4"))
        curve.crossJoin(broadcast(fit)).orderBy(col("k"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        ts AS (SELECT CAST(k AS BIGINT) AS k,
            (SELECT MAX(doc_id) FROM toks) >> CAST(10 - k AS INTEGER) AS t
          FROM (SELECT unnest(range(1, 11)) AS k)),
        fd AS (SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok),
        vk AS (SELECT ts.k, ts.t, COUNT(*) AS vocab
          FROM ts JOIN fd ON fd.fd <= ts.t GROUP BY 1, 2),
        dt AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
        sk AS (SELECT ts.k, ts.t, COUNT(*) AS n_docs,
            CAST(SUM(nt) AS BIGINT) AS n_tokens
          FROM ts JOIN dt ON dt.doc_id <= ts.t GROUP BY 1, 2),
        curve AS (SELECT ts.k, ts.t,
            COALESCE(sk.n_docs, 0) AS n_docs,
            COALESCE(sk.n_tokens, 0) AS n_tokens,
            COALESCE(vk.vocab, 0) AS vocab
          FROM ts LEFT JOIN vk ON vk.k = ts.k
          LEFT JOIN sk ON sk.k = ts.k),
        pts AS (SELECT
            CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x6,
            CAST(floor(ln(CAST(vocab AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y6
          FROM curve WHERE vocab > 0 AND n_tokens > 0),
        agg AS (SELECT COUNT(*) AS m, SUM(x6) AS sx, SUM(y6) AS sy,
            SUM(x6 * y6) AS sxy, SUM(x6 * x6) AS sxx FROM pts),
        fit0 AS (SELECT m, sx, sy,
            CAST(m * sxx - sx * sx AS HUGEINT) AS bd,
            CAST(m * sxy - sx * sy AS HUGEINT) * 10000
              + (m * sxx - sx * sx) // 2 AS bn
          FROM agg),
        fit1 AS (SELECT m, sx, sy,
            CAST((bn - bn % bd) // bd AS BIGINT) AS beta4 FROM fit0),
        fit2 AS (SELECT beta4,
            CAST(sy AS HUGEINT) * 10000 - CAST(beta4 AS HUGEINT) * sx AS kn,
            CAST(m * 1000000 AS HUGEINT) AS kd
          FROM fit1),
        fit AS (SELECT beta4,
            CAST((kn - kn % kd) // kd AS BIGINT) AS lnk4 FROM fit2)
        SELECT c.k, c.t, c.n_docs, c.n_tokens, c.vocab, f.beta4, f.lnk4
        FROM curve c, fit f ORDER BY c.k""")),

    // ---- ZIPF RANK-FREQUENCY FIT — q187's sibling on the other
    // corpus-scaling law: ln(freq) vs ln(rank) over the top-100 terms,
    // slope ≈ −1 for natural text (a corpus whose slope drifts is
    // template-generated, deduplicated into distortion, or mis-tokenized
    // — the smoke test before trusting token-budget extrapolations).
    // Same integer-exact fit discipline as q187: 1e-6-nat ln grid, all
    // sums exact integers, slope/intercept via the exact-remainder
    // division both engines agree on.
    //
    // Scale/shape: term counting is one combinable fold; top-100 is a
    // distributed TakeOrdered (never a corpus-wide window); RANK is
    // assigned on the 100-row checkpointed head by a |top|² row-local
    // self-join (the q202 bounded-relation pattern — the oracle uses
    // row_number at fixture scale, same result, different cost class),
    // so no unpartitioned window exists at any corpus size.
    ("q211_zipf_fit",
      (s: SparkSession, dir: String) => {
        val tf = explodeLean(t(s, dir, "documents"), Seq(),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
          .groupBy(col("tok")).agg(count(lit(1)).as("f"))
        val top = tf.orderBy(desc("f"), asc("tok")).limit(100)
          .localCheckpoint()
        Scoped.releaseAfterUse(top)
        val ranked = top.as("a")
          .join(top.as("b"),
            col("b.f") > col("a.f") ||
              (col("b.f") === col("a.f") && col("b.tok") < col("a.tok")),
            "left")
          .groupBy(col("a.tok").as("tok"), col("a.f").as("f"))
          .agg((count(col("b.tok")) + 1L).as("rank"))
        val fit = ranked
          .select(
            expr("cast(floor(ln(cast(rank as double)) * 1e6 + 0.5) as bigint)").as("x6"),
            expr("cast(floor(ln(cast(f as double)) * 1e6 + 0.5) as bigint)").as("y6"))
          .agg(count(lit(1)).as("m"), sum(col("x6")).as("sx"),
            sum(col("y6")).as("sy"),
            sum(expr("x6 * y6")).as("sxy"), sum(expr("x6 * x6")).as("sxx"))
          // exact-remainder division (the q187 lesson)
          .withColumn("bn", expr("cast(m * sxy - sx * sy as decimal(38,0)) * 10000 " +
            "+ (m * sxx - sx * sx) div 2"))
          .withColumn("bd", expr("m * sxx - sx * sx"))
          .select(expr("cast((bn - bn % bd) div bd as bigint)").as("zipf4"),
            col("m"), col("sx"), col("sy"))
          .withColumn("kn", expr("cast(sy as decimal(38,0)) * 10000 " +
            "- cast(zipf4 as decimal(38,0)) * sx"))
          .withColumn("kd", expr("m * 1000000"))
          .select(col("zipf4"),
            expr("cast((kn - kn % kd) div kd as bigint)").as("lnc4"))
        ranked.crossJoin(broadcast(fit))
          .select(col("rank"), col("tok"), col("f"), col("zipf4"), col("lnc4"))
          .orderBy(col("rank"))
      },
      Some("""WITH toks AS (SELECT
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        tf AS (SELECT tok, COUNT(*) AS f FROM toks GROUP BY tok),
        top AS (SELECT tok, f FROM tf ORDER BY f DESC, tok LIMIT 100),
        ranked AS (SELECT tok, f,
            CAST(row_number() OVER (ORDER BY f DESC, tok) AS BIGINT) AS rank
          FROM top),
        pts AS (SELECT
            CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x6,
            CAST(floor(ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y6
          FROM ranked),
        agg AS (SELECT COUNT(*) AS m, SUM(x6) AS sx, SUM(y6) AS sy,
            SUM(x6 * y6) AS sxy, SUM(x6 * x6) AS sxx FROM pts),
        fit0 AS (SELECT m, sx, sy,
            CAST(m * sxx - sx * sx AS HUGEINT) AS bd,
            CAST(m * sxy - sx * sy AS HUGEINT) * 10000
              + (m * sxx - sx * sx) // 2 AS bn
          FROM agg),
        fit1 AS (SELECT m, sx, sy,
            CAST((bn - bn % bd) // bd AS BIGINT) AS zipf4 FROM fit0),
        fit2 AS (SELECT zipf4,
            CAST(sy AS HUGEINT) * 10000 - CAST(zipf4 AS HUGEINT) * sx AS kn,
            CAST(m * 1000000 AS HUGEINT) AS kd
          FROM fit1),
        fit AS (SELECT zipf4,
            CAST((kn - kn % kd) // kd AS BIGINT) AS lnc4 FROM fit2)
        SELECT r.rank, r.tok, r.f, f.zipf4, f.lnc4
        FROM ranked r, fit f ORDER BY r.rank""")),

    // ---- TEMPERATURE-MIXTURE EPOCH PLANNER with cap-and-redistribute
    // waterfilling — the repeat-epochs dimension q91 (rate planning) and
    // q117 (mixture apply) lack: α = 0.5 temperature weights
    // (w ∝ √n_tokens — upweights small domains), a 2×-corpus token
    // budget, and a 4-epoch repetition cap per domain (the
    // Gopher/Llama-recipe rule that data repeated too often hurts);
    // over-cap excess REDISTRIBUTES to uncapped domains proportionally,
    // iterated to the fixed point (≤ |domains| rounds; 5 pinned).
    //
    // Scale/shape: the distributed work is ONE combinable (lang →
    // n_tokens) fold; the waterfill itself runs driver-side over the
    // DOMAINS-sized table (a bounded pull — domains number in the
    // hundreds at 100 TB, the I3 pattern) in exact BigInt, and the
    // oracle replays it as a recursive CTE with window aggregates per
    // round. √n is IEEE-correctly-rounded in both engines; everything
    // after the 1e-4 weight grid is exact integer arithmetic.
    ("q188_mixture_epochs",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val langs = t(s, dir, "documents")
          .select(col("lang"),
            size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .cast("long").as("nt"))
          .groupBy(col("lang")).agg(sum(col("nt")).as("n_tokens"))
          .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
        val budget = 2L * langs.map(_._2).sum
        val w4 = langs.map { case (l, n) =>
          (l, n, math.floor(math.sqrt(n.toDouble) * 1e4 + 0.5).toLong)
        }
        // each round recomputes remaining/sumW from the CURRENT capped
        // set and caps anyone whose proportional share would exceed 4
        // epochs; the loop only grows `capped` (the fixed point)
        def shares(capped: Set[String]): (BigInt, BigInt) = {
          val remaining = BigInt(budget) -
            w4.filter(t => capped(t._1)).map(t => BigInt(4L) * t._2).sum
          val sumW = w4.filterNot(t => capped(t._1)).map(t => BigInt(t._3)).sum
          (remaining, sumW)
        }
        var capped = Set.empty[String]
        for (_ <- 1 to 5) {
          val (remaining, sumW) = shares(capped)
          capped = capped ++ w4.collect {
            case (l, n, w) if !capped(l) && sumW > 0 &&
              remaining * w / sumW > BigInt(4L) * n => l
          }
        }
        // emit from the FINAL capped set — remaining/sumW recomputed once
        // more after the loop, exactly as the oracle's `fin` CTE does
        // (ADVICE r15: alloc from the round-4 set left a round-5-capped
        // domain clamped with its excess never redistributed)
        val (remF, sumWF) = shares(capped)
        w4.map { case (l, n, w) =>
          val a = if (capped(l)) 4L * n
          else if (sumWF > 0) (remF * w / sumWF).toLong
          else 0L
          (l, n, w, a, a * 10000L / n, capped(l))
        }.toSeq
          .toDF("lang", "n_tokens", "w4", "alloc_tokens", "epochs4", "capped")
          .orderBy(col("lang"))
      },
      Some("""WITH RECURSIVE base AS (
          SELECT lang, CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY lang),
        b AS (SELECT 2 * SUM(n_tokens) AS budget FROM base),
        w AS (SELECT lang, n_tokens,
            CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e4 + 0.5) AS BIGINT) AS w4
          FROM base),
        state AS (
          SELECT 0 AS iter, lang, n_tokens, w4, FALSE AS capped FROM w
          UNION ALL
          SELECT iter + 1, lang, n_tokens, w4,
            capped OR COALESCE(
              CAST((SELECT budget FROM b)
                   - SUM(CASE WHEN capped THEN 4 * n_tokens ELSE 0 END) OVER ()
                   AS HUGEINT) * w4
                // NULLIF(SUM(CASE WHEN NOT capped THEN w4 END) OVER (), 0)
              > 4 * n_tokens, FALSE) AS capped
          FROM state WHERE iter < 5),
        fin AS (SELECT lang, n_tokens, w4, capped,
            CAST((SELECT budget FROM b)
                 - SUM(CASE WHEN capped THEN 4 * n_tokens ELSE 0 END) OVER ()
                 AS HUGEINT) AS remaining,
            NULLIF(SUM(CASE WHEN NOT capped THEN w4 END) OVER (), 0) AS sumw
          FROM state WHERE iter = 5),
        alloc AS (SELECT lang, n_tokens, w4, capped,
            CASE WHEN capped THEN 4 * n_tokens
                 ELSE CAST(COALESCE(remaining * w4 // sumw, 0) AS BIGINT)
            END AS alloc_tokens
          FROM fin)
        SELECT lang, n_tokens, w4, alloc_tokens,
          alloc_tokens * 10000 // n_tokens AS epochs4, capped
        FROM alloc ORDER BY lang""")),

    // ---- GOPHER-STYLE QUALITY RULE SCORECARD (Rae et al. 2021 §A1.1,
    // the MassiveText repetition-rule family q78 already implements one
    // member of): five deterministic per-document rules —
    //   word_count      50 ≤ |words| ≤ 100 000
    //   mean_word_len   3 ≤ mean ≤ 10   (as integers: 3n ≤ chars ≤ 10n)
    //   alpha_ratio     ≥ 80% of words contain a letter (5a ≥ 4n)
    //   symbol_ratio    (# chars + "..." runs) ≤ |words| / 10  (10s ≤ n)
    //   stopword_hits   ≥ 2 of {the,be,to,of,and,that,have,with} present
    // — evaluated entirely map-side (every threshold multiplied through
    // to integer comparisons, no division), then melted to one bounded
    // (rule → n_docs, n_pass) aggregate plus the all-rules conjunction.
    // The scorecard a 100 TB curation run reads BEFORE choosing which
    // rules to enforce (each rule's forfeit is visible separately —
    // q185's operating-curve discipline applied to quality filtering).
    //
    // Scale: one scan, one map-side-combinable aggregate; output is
    // 6 rows regardless of corpus size.
    ("q190_gopher_rules",
      (s: SparkSession, dir: String) => {
        val d = gopherFlags(t(s, dir, "documents"))
        d.select(col("rule"), col("pass"))
          .groupBy(col("rule"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
          .withColumn("pass4", expr("n_pass * 10000 div n_docs"))
          .orderBy(col("rule"))
      },
      Some {
        val hits = GopherStops.map(w =>
          s"CASE WHEN list_contains(lw, '$w') THEN 1 ELSE 0 END").mkString(" + ")
        val rules = Seq("r_word_count", "r_mean_word_len", "r_alpha_ratio",
          "r_symbol_ratio", "r_stopword_hits", "r_all")
        val melt = rules.map(r =>
          s"SELECT '$r' AS rule, $r AS pass FROM flags")
          .mkString("\n          UNION ALL ")
        s"""WITH base AS (
            SELECT regexp_extract_all(text, '\\S+') AS ws,
              len(regexp_extract_all(text, '\\.{3}'))
                + len(text) - len(replace(text, '#', '')) AS syms,
              regexp_extract_all(lower(text), '[a-z]+') AS lw
            FROM documents),
          m AS (SELECT CAST(len(ws) AS BIGINT) AS nw,
              CAST(len(array_to_string(ws, '')) AS BIGINT) AS chars,
              CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-zA-Z]')))
                AS BIGINT) AS alpha,
              CAST(syms AS BIGINT) AS syms,
              CAST($hits AS BIGINT) AS stop_hits
            FROM base),
          flags AS (SELECT
              nw >= 50 AND nw <= 100000 AS r_word_count,
              chars >= nw * 3 AND chars <= nw * 10 AS r_mean_word_len,
              alpha * 5 >= nw * 4 AS r_alpha_ratio,
              syms * 10 <= nw AS r_symbol_ratio,
              stop_hits >= 2 AS r_stopword_hits,
              (nw >= 50 AND nw <= 100000) AND (chars >= nw * 3 AND chars <= nw * 10)
                AND (alpha * 5 >= nw * 4) AND (syms * 10 <= nw)
                AND (stop_hits >= 2) AS r_all
            FROM m)
          SELECT rule, COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
            CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) * 10000
              // COUNT(*) AS pass4
          FROM ($melt) GROUP BY rule ORDER BY rule"""
      }),

    // ---- PER-SOURCE UNIGRAM KL DRIFT: KL(source ‖ pooled corpus) over
    // the unigram token distribution — the language-level counterpart of
    // q143/q150's numeric drift profiles. A crawl source whose token
    // distribution diverges from the pool (template spam, language mix
    // shift, boilerplate flood) surfaces as a high-KL row BEFORE any
    // model is trained on it. Decomposition keeps everything exact
    // until one final division:
    //   KL = (1/n)·Σ_t c_t·[ln c_t − ln C_t]  +  [ln N − ln n]
    // Each bracket is gridded to 1e-6 nats (floor(x·1e6 + 0.5) — the
    // q187 cross-engine ln discipline), the Σ accumulates c_t·x6 as
    // DECIMAL(38,0) internally (the q177 contract: wide sums can't
    // wrap; output stays integer), and the division is one
    // correctly-rounded double op per source.
    //
    // Scale: token counts are one map-side-combinable (source, tok)
    // aggregate; the pooled counts derive from the SAME aggregate
    // (checkpointed once, two consumers); the join is tok-keyed; output
    // is |sources| rows. N is a 1-long driver pull (I3).
    ("q191_unigram_kl_drift",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(
          t(s, dir, "documents").select(col("source"), col("text")),
          Seq(col("source")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val st = toks.groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val ct = st.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
        val ns = st.groupBy(col("source"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
        val totN = ns.agg(sum(col("n"))).head().getLong(0)
        // armed AFTER the totN pull — that pull is itself an action and
        // would otherwise fire the release while the main query still
        // reads st (the Verify-concurrency hazard class)
        Scoped.releaseAfterUse(st)
        val kl = st.join(ct, Seq("tok"))
          .select(col("source"),
            (col("c") * floor((log(col("c").cast("double"))
              - log(col("ct").cast("double"))) * 1e6 + 0.5).cast("long"))
              .cast("decimal(38,0)").as("term"))
          .groupBy(col("source")).agg(sum(col("term")).as("kl_num"))
        ns.join(kl, Seq("source"))
          .select(col("source"), col("n").as("n_tokens"), col("n_types"),
            (floor(col("kl_num").cast("double") / col("n").cast("double")
              + 0.5).cast("long")
              + floor((log(lit(totN.toDouble))
                - log(col("n").cast("double"))) * 1e6 + 0.5).cast("long"))
              .as("kl6"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
          SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        ct AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY tok),
        ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
            COUNT(*) AS n_types FROM st GROUP BY source),
        tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM ns),
        terms AS (SELECT st.source,
            CAST(st.c AS HUGEINT)
              * CAST(floor((ln(CAST(st.c AS DOUBLE)) - ln(CAST(ct.ct AS DOUBLE)))
                  * 1e6 + 0.5) AS BIGINT) AS term
          FROM st JOIN ct ON ct.tok = st.tok),
        ks AS (SELECT source, SUM(term) AS kl_num FROM terms GROUP BY source)
        SELECT ns.source AS source, ns.n AS n_tokens,
          CAST(ns.n_types AS BIGINT) AS n_types,
          CAST(floor(CAST(ks.kl_num AS DOUBLE) / CAST(ns.n AS DOUBLE) + 0.5)
            AS BIGINT)
          + CAST(floor((ln(tot.nn) - ln(CAST(ns.n AS DOUBLE))) * 1e6 + 0.5)
            AS BIGINT) AS kl6
        FROM ns JOIN ks ON ks.source = ns.source CROSS JOIN tot
        ORDER BY ns.source""")),

    // ---- CROSS-SOURCE N-GRAM NOVELTY: per source, the fraction of its
    // DISTINCT token 3-grams that appear in NO other source — the
    // marginal-content question behind adding a crawl snapshot or a new
    // feed to a 100 TB mix (a source whose novelty is near zero buys
    // epochs of repetition, not coverage; q77 contamination asks the
    // overlap question against a benchmark, this asks it between
    // sources). Grams ride [[Portable.hash60]] (md5-compacted to 8-byte
    // longs before any shuffle — collisions are engine-identical by
    // construction).
    //
    // Scale: per-doc gram SETS built row-local (array_distinct over one
    // HOF pass), one distinct (source, gram) projection, then TWO
    // combinable aggregates off it — per-source totals directly, and a
    // gram-keyed (count, min(source)) whose single-source rows SELF-
    // ATTRIBUTE their owner (nsrc = 1 ⇒ min(source) IS the source), so
    // novelty needs no join back over the full gram table (the first
    // cut's |sg|⋈|grams| join measured 0.55× slope; this shape is
    // 0.25× — SCALING.md). Output is |sources| rows.
    ("q193_gram_novelty",
      (s: SparkSession, dir: String) => {
        val grams = t(s, dir, "documents")
          .select(col("source"),
            expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
          .filter(size(col("ws")) >= 3)
          // native fused kernel (GramHash60Spec pins bit-parity with the
          // portable transform/md5/conv HOF the oracle keeps)
          .select(col("source"),
            expr("array_distinct(gram_hash60(ws, 3))").as("arr"))
        val sg = grams.select(col("source"), explode(col("arr")).as("g"))
          .distinct().localCheckpoint()
        Scoped.releaseAfterUse(sg)
        val totals = sg.groupBy(col("source"))
          .agg(count(lit(1)).as("n_grams"))
        val novel = sg.groupBy(col("g"))
          .agg(count(lit(1)).as("nsrc"), min(col("source")).as("owner"))
          .filter(col("nsrc") === 1L)
          .groupBy(col("owner").as("source"))
          .agg(count(lit(1)).as("n_novel"))
        totals.join(novel, Seq("source"), "left")
          .select(col("source"), col("n_grams"),
            coalesce(col("n_novel"), lit(0L)).as("n_novel"))
          .withColumn("novel4", expr("n_novel * 10000 div n_grams"))
          .orderBy(col("source"))
      },
      Some("""WITH d AS (
          SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents
          WHERE len(regexp_extract_all(lower(text), '[a-z]+')) >= 3),
        grams AS (SELECT source,
            unnest(list_distinct(list_transform(range(0, len(ws) - 2),
              i -> CAST(('0x' || substr(md5(array_to_string(
                list_slice(ws, i + 1, i + 3), ' ')), 1, 15)) AS BIGINT)))) AS g
          FROM d),
        sg AS (SELECT DISTINCT source, g FROM grams),
        totals AS (SELECT source, COUNT(*) AS n_grams FROM sg GROUP BY source),
        novel AS (SELECT owner AS source, COUNT(*) AS n_novel FROM (
            SELECT g, COUNT(*) AS nsrc, MIN(source) AS owner
            FROM sg GROUP BY g) x
          WHERE nsrc = 1 GROUP BY owner)
        SELECT t.source AS source, t.n_grams,
          COALESCE(n.n_novel, 0) AS n_novel,
          COALESCE(n.n_novel, 0) * 10000 // t.n_grams AS novel4
        FROM totals t LEFT JOIN novel n ON n.source = t.source
        ORDER BY t.source""")),

    // ---- PAIRWISE SOURCE-OVERLAP MATRIX: Jaccard over distinct token
    // 3-gram sets for every source pair — q193 asks "how much of a
    // source is unique?"; this asks "WHICH sources duplicate each
    // other?", the matrix behind dropping a redundant feed rather than
    // deduping it row by row. Grams ride [[gram_hash60]].
    //
    // Scale: the per-gram source set is BOUNDED by |sources| (tens to
    // hundreds at 100 TB), so pairs are generated ROW-LOCALLY from the
    // sorted set (nested transform over a ≤|sources| array) — never a
    // gram-keyed self-join whose fan-out is per-gram df² over the whole
    // corpus (the oracle, on fixture scale, does use the self-join —
    // same result, different cost class; this asymmetry is the point).
    // Output is |sources|²/2 rows.
    ("q205_source_overlap",
      (s: SparkSession, dir: String) => {
        val sg = t(s, dir, "documents")
          .select(col("source"),
            expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ws"))
          .filter(size(col("ws")) >= 3)
          .select(col("source"),
            expr("array_distinct(gram_hash60(ws, 3))").as("arr"))
          .select(col("source"), explode(col("arr")).as("g"))
          .distinct().localCheckpoint()
        Scoped.releaseAfterUse(sg)
        val totals = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val common = sg.groupBy(col("g"))
          .agg(sort_array(collect_set(col("source"))).as("ss"))
          .filter(size(col("ss")) >= 2)
          .select(explode(expr(
            """flatten(transform(ss, (x, i) ->
                 transform(slice(ss, i + 2, size(ss)),
                   y -> struct(x as sa, y as sb))))""")).as("p"))
          .groupBy(col("p.sa").as("src_a"), col("p.sb").as("src_b"))
          .agg(count(lit(1)).as("common"))
        common
          .join(broadcast(totals.select(col("source").as("src_a"),
            col("n").as("na"))), Seq("src_a"))
          .join(broadcast(totals.select(col("source").as("src_b"),
            col("n").as("nb"))), Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("common"),
            col("na"), col("nb"),
            expr("common * 10000 div (na + nb - common)").as("jac4"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH d AS (
          SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS ws
          FROM documents
          WHERE len(regexp_extract_all(lower(text), '[a-z]+')) >= 3),
        grams AS (SELECT source,
            unnest(list_distinct(list_transform(range(0, len(ws) - 2),
              i -> CAST(('0x' || substr(md5(array_to_string(
                list_slice(ws, i + 1, i + 3), ' ')), 1, 15)) AS BIGINT)))) AS g
          FROM d),
        sg AS (SELECT DISTINCT source, g FROM grams),
        totals AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
        common AS (SELECT a.source AS src_a, b.source AS src_b,
            COUNT(*) AS common
          FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
          GROUP BY 1, 2)
        SELECT c.src_a, c.src_b, c.common,
          ta.n AS na, tb.n AS nb,
          c.common * 10000 // (ta.n + tb.n - c.common) AS jac4
        FROM common c
        JOIN totals ta ON ta.source = c.src_a
        JOIN totals tb ON tb.source = c.src_b
        ORDER BY c.src_a, c.src_b""")),

    // ---- TOKENIZER FERTILITY BY LANGUAGE: bytes / chars / alpha-token
    // counts per lang with the ‱-grid chars-per-token and
    // bytes-per-token ratios — the per-language cost model behind token
    // budgets (the same corpus costs different token counts per
    // language; q188's mixture planning and q141's recipes consume
    // exactly this table at 100 TB). One scan, map-side lengths, one
    // |langs|-row combinable aggregate.
    ("q206_lang_fertility",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("lang"),
            octet_length(col("text")).cast("long").as("bytes"),
            length(col("text")).cast("long").as("chars"),
            size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
              .cast("long").as("toks"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("bytes")).as("n_bytes"),
            sum(col("chars")).as("n_chars"),
            sum(col("toks")).as("n_tokens"))
          .select(col("lang"), col("n_docs"), col("n_bytes"),
            col("n_chars"), col("n_tokens"),
            expr("n_chars * 10000 div n_tokens").as("chars_per_tok4"),
            expr("n_bytes * 10000 div n_tokens").as("bytes_per_tok4"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
          CAST(SUM(len(text)) AS BIGINT) AS n_chars,
          CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+'))) AS BIGINT)
            AS n_tokens,
          CAST(SUM(len(text)) AS BIGINT) * 10000
            // CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+'))) AS BIGINT)
            AS chars_per_tok4,
          CAST(SUM(strlen(text)) AS BIGINT) * 10000
            // CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+'))) AS BIGINT)
            AS bytes_per_tok4
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ---- LPT SHARD-BALANCE PLANNER: assign (lang, source) domains to 4
    // output shards by Longest-Processing-Time greedy (largest domain
    // first, each to the currently least-loaded shard, ties to the
    // lowest shard id) — the layout decision behind writing a mixed
    // corpus as N balanced shards so downstream training readers stream
    // without a straggler (LPT's makespan is ≤ 4/3 · OPT, Graham 1969).
    // Reports each domain's shard plus the final per-shard load and the
    // makespan-vs-ideal ratio the plan is accepted on.
    //
    // Scale/shape: the distributed work is ONE combinable (lang, source
    // → n_tokens) fold; the greedy itself is inherently sequential, so
    // it runs driver-side over the DOMAINS-sized table (the q188/I3
    // bounded-pull pattern — domains number in the hundreds at 100 TB)
    // and the oracle replays it as a recursive CTE carrying the four
    // shard loads as state columns.
    ("q194_shard_balance",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val base = t(s, dir, "documents")
          .select(col("lang"), col("source"),
            size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .cast("long").as("nt"))
          .groupBy(col("lang"), col("source")).agg(sum(col("nt")).as("n"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .sortBy { case (l, src, n) => (-n, l, src) }
        val loads = Array.fill(4)(0L)
        val assigned = base.map { case (l, src, n) =>
          val shard = loads.zipWithIndex.minBy { case (ld, i) => (ld, i) }._2
          loads(shard) += n
          (l, src, n, shard.toLong)
        }
        val total = loads.sum
        val makespan4 = if (total > 0L) loads.max * 40000L / total else 0L
        assigned.map { case (l, src, n, sh) =>
          (l, src, n, sh, loads(sh.toInt), makespan4)
        }.toSeq
          .toDF("lang", "source", "n_tokens", "shard", "shard_load",
            "makespan4")
          .orderBy(col("lang"), col("source"))
      },
      Some("""WITH RECURSIVE base AS (
          SELECT lang, source,
            CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+'))) AS BIGINT)
              AS n
          FROM documents GROUP BY 1, 2),
        items AS (SELECT lang, source, n,
            row_number() OVER (ORDER BY n DESC, lang, source) AS rn
          FROM base),
        st AS (
          SELECT 0 AS i, CAST(NULL AS VARCHAR) AS lang,
            CAST(NULL AS VARCHAR) AS source, CAST(0 AS BIGINT) AS n,
            -1 AS shard, CAST(0 AS BIGINT) AS l0, CAST(0 AS BIGINT) AS l1,
            CAST(0 AS BIGINT) AS l2, CAST(0 AS BIGINT) AS l3
          UNION ALL
          SELECT it.rn, it.lang, it.source, it.n,
            CASE WHEN p.l0 <= p.l1 AND p.l0 <= p.l2 AND p.l0 <= p.l3 THEN 0
                 WHEN p.l1 <= p.l2 AND p.l1 <= p.l3 THEN 1
                 WHEN p.l2 <= p.l3 THEN 2 ELSE 3 END,
            p.l0 + CASE WHEN p.l0 <= p.l1 AND p.l0 <= p.l2 AND p.l0 <= p.l3
              THEN it.n ELSE 0 END,
            p.l1 + CASE WHEN NOT (p.l0 <= p.l1 AND p.l0 <= p.l2 AND p.l0 <= p.l3)
              AND p.l1 <= p.l2 AND p.l1 <= p.l3 THEN it.n ELSE 0 END,
            p.l2 + CASE WHEN NOT (p.l0 <= p.l1 AND p.l0 <= p.l2 AND p.l0 <= p.l3)
              AND NOT (p.l1 <= p.l2 AND p.l1 <= p.l3)
              AND p.l2 <= p.l3 THEN it.n ELSE 0 END,
            p.l3 + CASE WHEN NOT (p.l0 <= p.l1 AND p.l0 <= p.l2 AND p.l0 <= p.l3)
              AND NOT (p.l1 <= p.l2 AND p.l1 <= p.l3)
              AND NOT (p.l2 <= p.l3) THEN it.n ELSE 0 END
          FROM st p JOIN items it ON it.rn = p.i + 1),
        fin AS (SELECT l0, l1, l2, l3,
            greatest(l0, l1, l2, l3) AS mx, l0 + l1 + l2 + l3 AS total
          FROM st ORDER BY i DESC LIMIT 1)
        SELECT a.lang, a.source, a.n AS n_tokens,
          CAST(a.shard AS BIGINT) AS shard,
          CASE a.shard WHEN 0 THEN f.l0 WHEN 1 THEN f.l1
            WHEN 2 THEN f.l2 ELSE f.l3 END AS shard_load,
          CASE WHEN f.total > 0 THEN f.mx * 40000 // f.total ELSE 0 END
            AS makespan4
        FROM st a CROSS JOIN fin f
        WHERE a.i >= 1
        ORDER BY a.lang, a.source""")),

    // ---- CONTEXT-LENGTH TRUNCATION PLANNER: for each candidate max
    // sequence length L (128..8192, powers of two), the docs that
    // overflow L tokens, the tokens a hard truncation at L forfeits,
    // and the forfeit fraction — the table a max_seq_len decision is
    // made on (the complement of q84's packing, which assumes L is
    // already chosen; q185's operating-curve discipline applied to the
    // sequence-length knob).
    //
    // Scale: one scan to per-doc token counts (map-side), a 7-way
    // bounded melt (explode over the literal L array — rows × 7,
    // map-side), one combinable 7-row aggregate. No shuffle wider than
    // 7 keys.
    ("q195_truncation_planner",
      (s: SparkSession, dir: String) => {
        val ls = Seq(128, 256, 512, 1024, 2048, 4096, 8192)
        t(s, dir, "documents")
          .select(size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
            .cast("long").as("n_tok"))
          .select(col("n_tok"),
            explode(array(ls.map(l => lit(l.toLong)): _*)).as("max_len"))
          .groupBy(col("max_len"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_tok") > col("max_len"), 1L).otherwise(0L))
              .as("n_docs_over"),
            sum(col("n_tok")).as("total_tokens"),
            sum(greatest(col("n_tok") - col("max_len"), lit(0L)))
              .as("tokens_lost"))
          .withColumn("loss4", expr("tokens_lost * 10000 div total_tokens"))
          .orderBy(col("max_len"))
      },
      Some("""WITH d AS (
          SELECT CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT)
            AS n_tok FROM documents),
        m AS (SELECT n_tok, CAST(unnest([128, 256, 512, 1024, 2048, 4096,
            8192]) AS BIGINT) AS max_len FROM d)
        SELECT max_len, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END) AS BIGINT)
            AS n_docs_over,
          CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
          CAST(SUM(greatest(n_tok - max_len, 0)) AS BIGINT) AS tokens_lost,
          CAST(SUM(greatest(n_tok - max_len, 0)) AS BIGINT) * 10000
            // CAST(SUM(n_tok) AS BIGINT) AS loss4
        FROM m GROUP BY max_len ORDER BY max_len""")),

    // ---- PER-SOURCE CHARACTER-BIGRAM ENTROPY: H = ln n − (1/n)·Σ c·ln c
    // over within-token char bigrams — the encoding-anomaly / gibberish
    // detector beside q191's token-level KL (mojibake, base64 floods,
    // and key-mash spam shift bigram structure before they shift the
    // token distribution). Same exactness discipline as q191: ln
    // brackets gridded to 1e-6 nats, Σ c·x6 DECIMAL(38,0) internal,
    // ONE double division per source.
    //
    // Scale: the (source, bigram) aggregate state is bounded at
    // |sources|·26² REGARDLESS of corpus size (the q172 bounded-
    // histogram argument, alphabet edition); everything before it is
    // map-side HOF work on the row's own tokens.
    ("q196_char_entropy",
      (s: SparkSession, dir: String) => {
        val bg = explodeLean(
          t(s, dir, "documents"), Seq(col("source")),
          expr("""flatten(transform(filter(
                    regexp_extract_all(lower(text), '[a-z]+', 0),
                    w -> length(w) >= 2),
                  w -> transform(sequence(1, length(w) - 1),
                    i -> substring(w, i, 2))))"""), "bg")
          .groupBy(col("source"), col("bg"))
          .agg(count(lit(1)).as("c"))
        val agg = bg.groupBy(col("source"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
            sum((col("c") * floor(log(col("c").cast("double")) * 1e6 + 0.5)
              .cast("long")).cast("decimal(38,0)")).as("clnc"))
        agg.select(col("source"), col("n").as("n_bigrams"), col("n_distinct"),
          (floor(log(col("n").cast("double")) * 1e6 + 0.5).cast("long")
            - floor(col("clnc").cast("double") / col("n").cast("double")
              + 0.5).cast("long")).as("h6"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
          SELECT source, unnest(list_filter(
            regexp_extract_all(lower(text), '[a-z]+'), w -> len(w) >= 2)) AS w
          FROM documents),
        bg AS (SELECT source, unnest(list_transform(range(1, len(w)),
            i -> substr(w, i, 2))) AS bg FROM toks),
        c AS (SELECT source, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
        a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
            COUNT(*) AS n_distinct,
            SUM(CAST(c AS HUGEINT)
              * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS BIGINT))
              AS clnc
          FROM c GROUP BY source)
        SELECT source, n AS n_bigrams, CAST(n_distinct AS BIGINT) AS n_distinct,
          CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
            - CAST(floor(CAST(clnc AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
              AS BIGINT) AS h6
        FROM a ORDER BY source""")),

    // ---- PII INCIDENCE MATRIX (source × type): per crawl source, how
    // many documents and total hits each PII class shows — the audit
    // that decides WHERE q46's redaction pass must run and which feeds
    // need quarantine (incidence localizes the problem; redaction fixes
    // it). Four detectors: email, IPv4, 16-digit card, 555-XXXX phone —
    // all bracket-class regexes (no escapes, so Java and RE2 parse them
    // identically). The fixture corpus is PII-free, so the derivation
    // PLANTS deterministic hits at staggered rates (email every 25th
    // doc, ip 40th, card 60th, phone 75th — the q30/q178 pattern) in
    // both engines.
    //
    // Scale: counting is map-side per doc; the aggregate is bounded at
    // |sources| × 4 rows.
    ("q197_pii_incidence",
      (s: SparkSession, dir: String) => {
        val pats = Seq(
          ("email", "[a-z0-9]+@[a-z0-9]+[.][a-z]+"),
          ("ipv4", "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"),
          ("card", "[0-9]{16}"),
          ("phone", "555-[0-9]{4}"))
        val aug = t(s, dir, "documents")
          .withColumn("text", concat(col("text"),
            when(col("doc_id") % 25 === 0,
              concat(lit(" contact u"), col("doc_id"), lit("@example.org")))
              .otherwise(lit("")),
            when(col("doc_id") % 40 === 0,
              concat(lit(" host 10."), col("doc_id") % 256, lit(".0.7")))
              .otherwise(lit("")),
            when(col("doc_id") % 60 === 0, lit(" card 4111222233334444"))
              .otherwise(lit("")),
            when(col("doc_id") % 75 === 0, lit(" call 555-0142"))
              .otherwise(lit(""))))
        val counted = pats.foldLeft(aug) { case (df, (name, pat)) =>
          df.withColumn(s"c_$name",
            size(expr(s"regexp_extract_all(text, '$pat', 0)")).cast("long"))
        }
        counted.select(col("source"), expr(s"stack(${pats.size}, " +
            pats.map { case (n, _) => s"'$n', c_$n" }.mkString(", ")
            + ") as (pii_type, hits)"))
          .groupBy(col("source"), col("pii_type"))
          .agg(sum(when(col("hits") > 0L, 1L).otherwise(0L)).as("n_docs_hit"),
            sum(col("hits")).as("n_hits"))
          .orderBy(col("source"), col("pii_type"))
      },
      Some {
        val pats = Seq(
          ("email", "[a-z0-9]+@[a-z0-9]+[.][a-z]+"),
          ("ipv4", "[0-9]+[.][0-9]+[.][0-9]+[.][0-9]+"),
          ("card", "[0-9]{16}"),
          ("phone", "555-[0-9]{4}"))
        val melt = pats.map { case (n, p) =>
          s"""SELECT source,
             '$n' AS pii_type,
             CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS hits
           FROM aug"""
        }.mkString("\n          UNION ALL ")
        s"""WITH aug AS (
            SELECT source, text
              || CASE WHEN doc_id % 25 = 0
                 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.org'
                 ELSE '' END
              || CASE WHEN doc_id % 40 = 0
                 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.7'
                 ELSE '' END
              || CASE WHEN doc_id % 60 = 0 THEN ' card 4111222233334444'
                 ELSE '' END
              || CASE WHEN doc_id % 75 = 0 THEN ' call 555-0142'
                 ELSE '' END AS text
            FROM documents),
          m AS ($melt)
          SELECT source, pii_type,
            CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_docs_hit,
            CAST(SUM(hits) AS BIGINT) AS n_hits
          FROM m GROUP BY 1, 2 ORDER BY source, pii_type"""
      }),

    // ---- VOCAB-TRANSFER OOV RATES: build the token vocabulary on the
    // EVEN-numbered sources and measure out-of-vocabulary rates on each
    // ODD source — token-level (how much text a fixed tokenizer/embedding
    // table fails on) and type-level (how much of the tail is new). The
    // train/serve skew question q142 asks of a designed vocab, asked of
    // a source split — the go/no-go before reusing a tokenizer on a new
    // feed without retraining.
    //
    // Scale: the vocab is one distinct projection over half the corpus;
    // the holdout side aggregates (source, tok, c) then LEFT-joins the
    // vocab on tok (hash-partitioned, type-level width, never instance-
    // level); output is |odd sources| rows.
    ("q198_vocab_oov",
      (s: SparkSession, dir: String) => {
        // Fixture naming contract: sources are `src<N>` with a numeric
        // suffix; the split parity comes from N. `try_cast` over an
        // UNBOUNDED suffix on BOTH engines (ADVICE r16: a bounded
        // substring(4,10) would truncate >10-digit suffixes, and a plain
        // cast diverges on non-numeric suffixes — NULL-drop in Spark vs
        // an error in DuckDB; TRY_CAST makes both drop them identically).
        val toks = explodeLean(
          t(s, dir, "documents")
            .withColumn("par",
              expr("try_cast(substring(source, 4) as bigint)") % 2),
          Seq(col("source"), col("par")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val vocab = toks.filter(col("par") === 0L)
          .select(col("tok")).distinct()
        val hold = toks.filter(col("par") === 1L)
          .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
        hold.join(vocab.withColumn("in_v", lit(1L)), Seq("tok"), "left")
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n_tok"),
            sum(when(col("in_v").isNull, col("c")).otherwise(0L))
              .as("oov_tok"),
            count(lit(1)).as("n_types"),
            sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_types"))
          .select(col("source"), col("n_tok"), col("oov_tok"),
            expr("oov_tok * 10000 div n_tok").as("oov4"),
            col("n_types"), col("oov_types"),
            expr("oov_types * 10000 div n_types").as("oovt4"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
          SELECT source,
            TRY_CAST(substr(source, 4) AS BIGINT) % 2 AS par,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        vocab AS (SELECT DISTINCT tok FROM toks WHERE par = 0),
        hold AS (SELECT source, tok, COUNT(*) AS c FROM toks
                 WHERE par = 1 GROUP BY 1, 2)
        SELECT h.source AS source, CAST(SUM(h.c) AS BIGINT) AS n_tok,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN h.c ELSE 0 END) AS BIGINT)
            AS oov_tok,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN h.c ELSE 0 END) AS BIGINT)
            * 10000 // CAST(SUM(h.c) AS BIGINT) AS oov4,
          COUNT(*) AS n_types,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS oov_types,
          CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            * 10000 // COUNT(*) AS oovt4
        FROM hold h LEFT JOIN vocab v ON v.tok = h.tok
        GROUP BY h.source ORDER BY h.source""")),

    // ---- QUALITY × DUPLICATION INTERACTION: the 2×2 contingency of
    // q190's all-rules verdict against q30's exact-duplicate signal —
    // answers "is duplicated content disproportionately low-quality?",
    // which decides whether dedup and quality filtering are redundant
    // or complementary passes in a 100 TB curation budget. Shares ride
    // the ‱ grid; the log-odds question is left to the reader of the
    // 4-row table (exact integers only).
    //
    // Scale: one md5 projection + one hash-keyed count (q30's shape)
    // joined back by doc_id; the contingency is a bounded ≤4-row
    // aggregate (checkpointed for its two consumers: the rows and the
    // 1-row total the shares divide by).
    ("q199_quality_dup_matrix",
      (s: SparkSession, dir: String) => {
        // the fixture has no exact duplicates, so PLANT them (the q30
        // pattern): every 20th doc re-issued verbatim under id + 4e12 —
        // the is_dup dimension stays load-bearing at every sf
        val base = t(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        val d = base.unionByName(
          base.filter(col("doc_id") % 20 === 0)
            .select((col("doc_id") + 4000000000000L).as("doc_id"),
              col("text")))
        val flags = gopherFlags(d, Seq(col("doc_id").as("fid")))
          .filter(col("rule") === "r_all")
          .select(col("fid"), col("pass"))
        val h = d.select(col("doc_id"), md5(col("text")).as("h"))
        val dup = h.join(
          h.groupBy(col("h")).agg(count(lit(1)).as("cnt")), Seq("h"))
          .select(col("doc_id"), (col("cnt") > 1L).as("is_dup"))
        val g = dup.join(flags, dup("doc_id") === flags("fid"))
          .groupBy(col("is_dup"), col("pass"))
          .agg(count(lit(1)).as("n_docs"))
          .localCheckpoint()
        Scoped.releaseAfterUse(g)
        // share over the ≤4-row contingency via a broadcast 1-row total
        // (never an unpartitioned window — the PlanSpec whitelist)
        g.crossJoin(broadcast(g.agg(sum(col("n_docs")).as("tot"))))
          .select(col("is_dup"), col("pass"), col("n_docs"),
            expr("n_docs * 10000 div tot").as("share4"))
          .orderBy(col("is_dup"), col("pass"))
      },
      Some {
        s"""WITH aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 4000000000000, text FROM documents
            WHERE doc_id % 20 = 0),
          flags AS (${gopherAllSql("aug")}),
          hs AS (SELECT doc_id, md5(text) AS h FROM aug),
          cnts AS (SELECT h, COUNT(*) AS cnt FROM hs GROUP BY h),
          dup AS (SELECT hs.doc_id, cnts.cnt > 1 AS is_dup
                  FROM hs JOIN cnts ON cnts.h = hs.h),
          m AS (SELECT d.is_dup, f.pass, COUNT(*) AS n_docs
                FROM dup d JOIN flags f ON f.doc_id = d.doc_id GROUP BY 1, 2)
          SELECT is_dup, pass, n_docs,
            CAST(n_docs * 10000 // (SELECT SUM(n_docs) FROM m) AS BIGINT)
              AS share4
          FROM m ORDER BY is_dup, pass"""
      }),

    // ---- DATASET CARD: the one-table summary a corpus release ships —
    // per source AND the ALL rollup row: docs, tokens, corpus token
    // share, exact-duplicate docs (q30's md5 signal), Gopher all-rules
    // passes (q190's conjunction), with everything on the ‱ grid. The
    // operators are all individually gated elsewhere; the card is the
    // COMPOSITION — one scan produces the per-doc signal row, and
    // `rollup` emits source-level and corpus-level in the same
    // aggregate (Spark plans one Expand + one combinable aggregate, no
    // second pass for the total).
    //
    // Scale: per-doc signals are map-side except the md5-count join
    // (q30's shape); the rollup aggregate is |sources|+1 rows.
    ("q200_dataset_card",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents")
        val flags = gopherFlags(d, Seq(col("doc_id").as("fid")))
          .filter(col("rule") === "r_all")
          .select(col("fid"), col("pass"))
        val h = d.select(col("doc_id"), col("source"),
          size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
            .cast("long").as("n_tok"),
          md5(col("text")).as("h"))
        val perDoc = h
          .join(h.groupBy(col("h")).agg(count(lit(1)).as("cnt")), Seq("h"))
          .join(flags, col("doc_id") === col("fid"))
          .select(col("source"), col("n_tok"),
            (col("cnt") > 1L).as("is_dup"), col("pass"))
        val card = perDoc.rollup(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
            sum(when(col("pass"), 1L).otherwise(0L)).as("n_quality_pass"))
          .localCheckpoint() // two consumers: the total pull + the select
        val total = card.filter(col("source").isNull)
          .select(col("n_tokens")).head().getLong(0)
        Scoped.releaseAfterUse(card) // armed AFTER the pull (q191 lesson)
        card.select(coalesce(col("source"), lit("ALL")).as("source"),
          col("n_docs"), col("n_tokens"),
          expr(s"n_tokens * 10000 div ${total}L").as("share4"),
          col("n_dup_docs"),
          expr("n_dup_docs * 10000 div n_docs").as("dup4"),
          col("n_quality_pass"),
          expr("n_quality_pass * 10000 div n_docs").as("quality4"))
          .orderBy(col("source"))
      },
      Some {
        s"""WITH flags AS (${gopherAllSql("documents")}),
        hs AS (SELECT doc_id, source,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT)
              AS n_tok,
            md5(text) AS h
          FROM documents),
        cnts AS (SELECT h, COUNT(*) AS cnt FROM hs GROUP BY h),
        perdoc AS (SELECT hs.source, hs.n_tok, cnts.cnt > 1 AS is_dup, f.pass
                   FROM hs JOIN cnts ON cnts.h = hs.h
                   JOIN flags f ON f.doc_id = hs.doc_id),
        card AS (SELECT source, COUNT(*) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
            CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup_docs,
            CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
              AS n_quality_pass
          FROM perdoc GROUP BY ROLLUP(source)),
        tot AS (SELECT n_tokens AS total FROM card WHERE source IS NULL)
        SELECT COALESCE(card.source, 'ALL') AS source, card.n_docs,
          card.n_tokens,
          card.n_tokens * 10000 // tot.total AS share4,
          card.n_dup_docs,
          card.n_dup_docs * 10000 // card.n_docs AS dup4,
          card.n_quality_pass,
          card.n_quality_pass * 10000 // card.n_docs AS quality4
        FROM card CROSS JOIN tot
        ORDER BY source"""
      }),

    // ---- KMV SET-OPERATION estimates (Beyer et al., SIGMOD'07): the
    // sketch completion of the KMV family — q107 estimates per-group
    // cardinality, q137 pins shard-merge exactness, and this estimates
    // pairwise source UNION / INTERSECTION / Jaccard from the same ≤ k
    // mergeable value sketches, with the exact answers beside them so
    // the gate pins the estimator's accuracy contract. q205 is the
    // EXACT twin of this question (gram-level, all-pairs from bounded
    // per-gram source sets); this is the 100 TB path when even those
    // distinct sets are too big to carry: |sources| sketches of k longs
    // answer every pairwise overlap question at once. Estimator: U =
    // k smallest of Va ∪ Vb; union_est = (k−1)·2^32/kth (exact when
    // |U| < k); ρ = |U ∩ Va ∩ Vb|; jaccard_est = ρ/|U|; inter_est =
    // jaccard_est · union_est. All arithmetic integer until the three
    // final single-IEEE-op divisions (identical shape both engines).
    //
    // Scale: the sketch side is ONE corpus hash pass into |sources|
    // map-side-combined k-long buffers, then |sources|²/2 row-local
    // array folds over 64-long arrays — nothing pair-keyed ever
    // shuffles. The exact columns (n_a/n_b/inter_exact/jacc4_exact) are
    // GATE-ONLY oracle scaffolding, the q210 pattern: their cost is a
    // cross-source token equi-join (dt ⋈ dt on tok) that is quadratic
    // in co-occurring sources per token — a production run drops them
    // and ships the sketch columns alone, so that join NEVER runs at
    // 100 TB; the operator itself never shuffles tokens cross-source
    // (VERDICT r18 #6).
    ("q216_kmv_intersection",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val toks = explodeLean(t(s, dir, "documents"), Seq(col("source")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val hv = toks.select(col("source"), hash32(col("tok")).as("h"))
        val sk = hv.as[(String, Long)].groupByKey(_._1).mapValues(_._2)
          .agg(new graft.functions.KmvSketchValues(64).toColumn.name("v"))
          .toDF("source", "v")
          .select(col("source"), expr("array_sort(v.vs)").as("vs"))
        val sx = sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            col("a.vs").as("va"), col("b.vs").as("vb"))
          .withColumn("u",
            expr("slice(array_sort(array_distinct(concat(va, vb))), 1, 64)"))
          .select(col("src_a"), col("src_b"),
            size(col("u")).cast("long").as("ku"),
            element_at(col("u"), size(col("u"))).as("kth"),
            size(expr("array_intersect(u, array_intersect(va, vb))"))
              .cast("long").as("rho"))
        val dt = toks.select(col("source"), col("tok")).distinct()
        val ns = dt.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val ie = dt.as("x")
          .join(dt.as("y"),
            col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
          .agg(count(lit(1)).as("ie"))
        sx.join(broadcast(ns.select(col("source").as("src_a"), col("n").as("n_a"))),
            Seq("src_a"))
          .join(broadcast(ns.select(col("source").as("src_b"), col("n").as("n_b"))),
            Seq("src_b"))
          .join(broadcast(ie), Seq("src_a", "src_b"), "left")
          .withColumn("inter_exact", coalesce(col("ie"), lit(0L)))
          .withColumn("union_est",
            when(col("ku") < 64, col("ku").cast("double"))
              .otherwise(lit(63.0 * 4294967296.0) / col("kth")))
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            col("inter_exact"),
            expr("inter_exact * 10000 div (n_a + n_b - inter_exact)")
              .as("jacc4_exact"),
            col("ku"), col("kth"), col("rho"), col("union_est"),
            (col("rho").cast("double") / col("ku")).as("jacc_est"),
            (col("rho").cast("double") / col("ku") * col("union_est"))
              .as("inter_est"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH toks AS (SELECT source,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        hv AS (SELECT DISTINCT source,
            ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
        rk AS (SELECT source, h,
            row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM hv),
        sk AS (SELECT source, list_sort(array_agg(h)) AS vs
          FROM rk WHERE rk <= 64 GROUP BY source),
        pr AS (SELECT a.source AS src_a, b.source AS src_b,
            a.vs AS va, b.vs AS vb,
            list_slice(list_sort(list_distinct(list_concat(a.vs, b.vs))), 1, 64) AS u
          FROM sk a JOIN sk b ON a.source < b.source),
        sx AS (SELECT src_a, src_b,
            CAST(len(u) AS BIGINT) AS ku,
            u[len(u)] AS kth,
            CAST(len(list_intersect(u, list_intersect(va, vb))) AS BIGINT) AS rho
          FROM pr),
        dt AS (SELECT DISTINCT source, tok FROM toks),
        ns AS (SELECT source, COUNT(*) AS n FROM dt GROUP BY source),
        ie AS (SELECT x.source AS src_a, y.source AS src_b,
            COUNT(*) AS ie
          FROM dt x JOIN dt y ON x.tok = y.tok AND x.source < y.source
          GROUP BY 1, 2)
        SELECT s.src_a, s.src_b, na.n AS n_a, nb.n AS n_b,
          COALESCE(ie.ie, 0) AS inter_exact,
          COALESCE(ie.ie, 0) * 10000
            // (na.n + nb.n - COALESCE(ie.ie, 0)) AS jacc4_exact,
          s.ku, s.kth, s.rho,
          CASE WHEN s.ku < 64 THEN CAST(s.ku AS DOUBLE)
               ELSE 63.0 * 4294967296.0 / s.kth END AS union_est,
          CAST(s.rho AS DOUBLE) / s.ku AS jacc_est,
          CAST(s.rho AS DOUBLE) / s.ku *
            (CASE WHEN s.ku < 64 THEN CAST(s.ku AS DOUBLE)
                  ELSE 63.0 * 4294967296.0 / s.kth END) AS inter_est
        FROM sx s
        JOIN ns na ON na.source = s.src_a
        JOIN ns nb ON nb.source = s.src_b
        LEFT JOIN ie ON ie.src_a = s.src_a AND ie.src_b = s.src_b
        ORDER BY s.src_a, s.src_b""")),

    // ---- GOOD–TURING coverage / missing mass (Gale & Sampson's simple
    // Good–Turing front end, Chao1 richness): per language — total
    // tokens N, types V, hapax count N1, dis legomena N2; the
    // Good–Turing estimate of UNSEEN-type probability mass P0 = N1/N
    // (the probability the next token drawn is a type never seen —
    // the statistic that says whether a corpus slice is saturated or
    // still yielding vocabulary, the decision behind "do we need more
    // of this source"), its complement coverage, and the Chao1
    // bias-corrected richness floor V + N1(N1−1)/(2(N2+1)). The
    // vocabulary-growth complement of q187 (Heaps' law fits V(N)
    // forward; Good–Turing prices the next draw) and q211 (Zipf prices
    // the head; this prices the unseen tail). Every output value is
    // integer (counts + ‱-grid floor divisions) — nothing to drift.
    //
    // Scale: one tokenize pass → ONE combinable (lang, tok) count →
    // one |types|-sized count-of-counts fold; both shuffles shrink,
    // nothing is corpus-sized after the first aggregate.
    ("q218_good_turing",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(t(s, dir, "documents"), Seq(col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        toks.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
          .groupBy(col("lang"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("v_types"),
            count(when(col("c") === 1L, 1)).as("n1"),
            count(when(col("c") === 2L, 1)).as("n2"))
          .select(col("lang"), col("n_tokens"), col("v_types"),
            col("n1"), col("n2"),
            expr("n1 * 10000 div n_tokens").as("p0_4"),
            expr("10000 - n1 * 10000 div n_tokens").as("coverage4"),
            (col("v_types") + expr("n1 * (n1 - 1) div (2 * (n2 + 1))"))
              .as("chao1"))
          .orderBy(col("lang"))
      },
      Some("""WITH toks AS (SELECT lang,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        tf AS (SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        st AS (SELECT lang,
            CAST(SUM(c) AS BIGINT) AS n_tokens,
            COUNT(*) AS v_types,
            COUNT(CASE WHEN c = 1 THEN 1 END) AS n1,
            COUNT(CASE WHEN c = 2 THEN 1 END) AS n2
          FROM tf GROUP BY lang)
        SELECT lang, n_tokens, v_types, n1, n2,
          n1 * 10000 // n_tokens AS p0_4,
          10000 - n1 * 10000 // n_tokens AS coverage4,
          v_types + n1 * (n1 - 1) // (2 * (n2 + 1)) AS chao1
        FROM st ORDER BY lang""")),

    // ---- token-frequency GINI coefficient per language: the
    // inequality measure that completes the distribution-shape family
    // (q187 Heaps fits V(N), q211 Zipf prices the head, q218
    // Good–Turing prices the unseen tail; Gini summarizes the WHOLE
    // concentration in one number — near-0 = uniform usage, near-1 =
    // a few types carry everything, the template/boilerplate smell at
    // a glance). G = 2·Σᵢ i·fᵢ / (n·Σfᵢ) − (n+1)/n over frequencies
    // ranked ascending (ties broken by token, so the rank is
    // deterministic); Σ i·fᵢ is an exact BIGINT and the final G is one
    // identical IEEE chain both engines onto the ‱ grid.
    //
    // Scale: the rank window runs over the (lang, type)-COUNT table —
    // |types| rows per language, already shrunk by the combinable
    // count — partitioned by lang (co-partitioned with the final
    // fold), never over the token stream.
    ("q227_token_gini",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(t(s, dir, "documents"), Seq(col("lang")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val tf = toks.groupBy(col("lang"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val w = Window.partitionBy(col("lang")).orderBy(col("c"), col("tok"))
        // Σi·c fold born decimal(38,0) (r21 fold sweep, VERDICT r20 #4):
        // Σi·c ≤ n_types·n_tokens breaches int64 near vocab 1e8 ×
        // tokens 1e13, where Spark non-ANSI wraps silently — the fold
        // accumulates wide and exits through decimalToLongChecked (the
        // q177 rule: fail loudly, never wrap); n_types·n_tokens crosses
        // the same decimal path before its double cast
        tf.withColumn("i", row_number().over(w).cast("long"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_types"),
            sum(col("c")).as("n_tokens"),
            sum(expr("cast(i as decimal(38,0)) * c")).as("sum_irank_dec"))
          .select(col("lang"), col("n_types"), col("n_tokens"),
            Relational.decimalToLongChecked(col("sum_irank_dec"))
              .as("sum_irank"),
            floor((lit(2.0) * col("sum_irank_dec").cast("double")
              / (col("n_types").cast("decimal(38,0)") * col("n_tokens"))
                .cast("double")
              - (col("n_types") + lit(1L)).cast("double")
                / col("n_types").cast("double")) * lit(1e4) + lit(0.5))
              .cast("long").as("gini4"))
          .orderBy(col("lang"))
      },
      Some("""WITH toks AS (SELECT lang,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        tf AS (SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        rk AS (SELECT lang, c,
            CAST(row_number() OVER (PARTITION BY lang ORDER BY c, tok)
              AS BIGINT) AS i
          FROM tf),
        g AS (SELECT lang, COUNT(*) AS n_types,
            CAST(SUM(c) AS BIGINT) AS n_tokens,
            CAST(SUM(i * c) AS BIGINT) AS sum_irank
          FROM rk GROUP BY lang)
        SELECT lang, n_types, n_tokens, sum_irank,
          CAST(floor((2.0 * CAST(sum_irank AS DOUBLE)
            / CAST(n_types * n_tokens AS DOUBLE)
            - CAST(n_types + 1 AS DOUBLE) / CAST(n_types AS DOUBLE))
            * 1e4 + 0.5) AS BIGINT) AS gini4
        FROM g ORDER BY lang""")),

    // ---- ORDER-INVARIANT dataset checksum (reproducibility audit):
    // per source and for the whole table, a content fingerprint that is
    // identical under ANY row order or file layout — the verification
    // step after every maintenance operation the catalog models
    // (compaction q159, Z-order q87, CDC upsert q86, GDPR erasure
    // q153, snapshot diff q160): "same bytes, different layout" must be
    // checkable without a sort. Row canonical form = doc_id : md5(text)
    // : lang hashed to 32 bits; the per-group state is four commutative
    // + associative folds (SUM, XOR, MIN, MAX of row hashes) plus the
    // count — SUM and XOR catch complementary corruption classes (XOR
    // misses even-multiplicity duplication, SUM misses compensating
    // swaps; together with count they pin multiset equality to hash
    // strength). All integer; at fixture scales Σh < 2^63 with room (a
    // 100 TB deployment sums mod 2^61 — noted, not needed here).
    //
    // Scale: ONE map-side combinable pass; state is O(|sources|) rows
    // of five longs, the cheapest audit in the catalog. ROLLUP gives
    // the table-level row in the same pass.
    ("q220_dataset_checksum",
      (s: SparkSession, dir: String) => {
        val rows = t(s, dir, "documents").select(col("source"),
          checksumHash(col("doc_id"), col("text"), col("lang")).as("h"))
        rows.rollup(col("source"))
          // the grand-total row is keyed by GROUPING(), not by a string
          // sentinel — a source literally named 'ALL' (or NULL) can never
          // collide with it, and (is_total, source) pins the order even
          // then (ADVICE r18)
          .agg(grouping(col("source")).cast("long").as("is_total"),
            count(lit(1)).as("n_rows"),
            sum(col("h")).as("sum_h"),
            expr("bit_xor(h)").as("xor_h"),
            min(col("h")).as("min_h"),
            max(col("h")).as("max_h"))
          .select(col("is_total"),
            coalesce(col("source"), lit("ALL")).as("source"),
            col("n_rows"), col("sum_h"), col("xor_h"),
            col("min_h"), col("max_h"))
          .orderBy(col("is_total"), col("source"))
      },
      Some("""WITH r AS (SELECT source,
            ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
              md5(text) || ':' || lang), 1, 8))::BIGINT AS h
          FROM documents),
        g AS (SELECT source,
            CAST(GROUPING(source) AS BIGINT) AS is_total,
            COUNT(*) AS n_rows,
            CAST(SUM(h) AS BIGINT) AS sum_h,
            bit_xor(h) AS xor_h,
            MIN(h) AS min_h, MAX(h) AS max_h
          FROM r GROUP BY ROLLUP(source))
        SELECT is_total, COALESCE(source, 'ALL') AS source, n_rows, sum_h,
          xor_h, min_h, max_h
        FROM g ORDER BY is_total, source""")),

    // ---- TEXTRANK keyword extraction (Mihalcea & Tarau, EMNLP'04):
    // PageRank over the word CO-OCCURRENCE graph — adjacent-token pairs
    // across the whole corpus, undirected, weighted by pair frequency —
    // surfacing the corpus's central vocabulary; the unsupervised
    // keyword signal a data card (q200) or a mixture planner reads next
    // after raw frequency (q72), because centrality rewards words that
    // CONNECT contexts, not merely frequent ones. Walk: 4 fixed
    // iterations of pr(v) = 0.15/N + 0.85·Σ_u w_uv/wdeg_u·pr_u on the
    // per-iteration 1e-9 grid (the q29 discipline: cross-engine
    // double-sum drift cannot accumulate); uniform-1.0 init; top-20 by
    // (grid pr DESC, word) so the reported set is deterministic in both
    // engines. Oracle: one recursive CTE over the same pair build
    // (DuckDB list_zip is indexed numerically — v1.0.0 structs from
    // list_zip are unnamed).
    //
    // Scale: tokenization touches the corpus ONCE map-side (zip_with
    // over sliced arrays — the q111 lesson: lambdas bind element
    // values, never element_at re-evaluation); everything after the
    // (w1, w2) count is VOCABULARY-bounded — the walk's state is
    // |vocab| rows and each iteration is one broadcast-sized join, so
    // corpus growth only deepens the first combinable count.
    ("q230_textrank_keywords",
      (s: SparkSession, dir: String) => {
        val toks = t(s, dir, "documents")
          .select(expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("ts"))
          .filter(size(col("ts")) >= 2)
        val pairs = explodeLean(toks, Seq.empty,
          expr("zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1)," +
            " (a, b) -> struct(a, b))"), "p")
          .select(least(col("p.a"), col("p.b")).as("w1"),
            greatest(col("p.a"), col("p.b")).as("w2"))
          .filter(col("w1") =!= col("w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("w"))
        val edges = pairs
          .select(col("w1").as("src"), col("w2").as("dst"), col("w"))
          .unionByName(pairs.select(col("w2").as("src"),
            col("w1").as("dst"), col("w")))
          .localCheckpoint()
        val wdeg = edges.groupBy(col("src"))
          .agg(sum(col("w")).as("wd")).localCheckpoint()
        val verts = wdeg.select(col("src").as("word")).localCheckpoint()
        val n = verts.count()
        var pr = verts.select(col("word"), lit(1.0).as("pr"))
        var prev: DataFrame = null
        for (_ <- 1 to 4) {
          val mass = edges.join(wdeg, Seq("src"))
            .join(pr.withColumnRenamed("word", "src"), Seq("src"))
            .groupBy(col("dst").as("word"))
            .agg(sum(col("pr") * col("w") / col("wd")).as("mass"))
          val next = verts
            .join(mass, Seq("word"), "left_outer")
            .select(col("word"),
              (floor((lit(0.15 / n) + lit(0.85)
                * coalesce(col("mass"), lit(0.0))) * 1e9 + 0.5) / 1e9).as("pr"))
            .localCheckpoint()
          if (prev != null) Scoped.free(prev)
          prev = next
          pr = next
        }
        val out = pr.orderBy(col("pr").desc, col("word")).limit(20)
          .select(col("word"), floor(col("pr") * 1e6 + 0.5).cast("long").as("pr6"))
          .orderBy(col("word"))
        Scoped.releaseAfterUse(edges, wdeg, verts, prev)
        out
      },
      Some("""WITH RECURSIVE tok AS (
          SELECT regexp_extract_all(lower(text), '[a-z]+') AS ts
          FROM documents WHERE len(regexp_extract_all(lower(text), '[a-z]+')) >= 2),
        p0 AS (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p
          FROM tok),
        pairs AS (SELECT least(p[1], p[2]) AS w1, greatest(p[1], p[2]) AS w2,
            COUNT(*) AS w
          FROM p0 WHERE p[1] <> p[2] GROUP BY 1, 2),
        edges AS (
          SELECT w1 AS src, w2 AS dst, w FROM pairs
          UNION ALL
          SELECT w2 AS src, w1 AS dst, w FROM pairs),
        wdeg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wd
          FROM edges GROUP BY src),
        verts AS (SELECT src AS word FROM wdeg),
        nn AS (SELECT COUNT(*) AS n FROM verts),
        pr AS (
          SELECT 0 AS iter, word, CAST(1.0 AS DOUBLE) AS pr FROM verts
          UNION ALL
          SELECT * FROM (
            SELECT CAST(COALESCE(m.iter, MAX(m.iter) OVER ()) AS INT) AS iter,
              v.word,
              floor((0.15 / (SELECT n FROM nn)
                + 0.85 * COALESCE(m.mass, CAST(0.0 AS DOUBLE)))
                * 1000000000.0 + 0.5) / 1000000000.0 AS pr
            FROM verts v LEFT JOIN (
              SELECT p.iter + 1 AS iter, e.dst AS word,
                SUM(p.pr * e.w / d.wd) AS mass
              FROM pr p JOIN edges e ON p.word = e.src
              JOIN wdeg d ON d.src = e.src
              WHERE p.iter < 4
              GROUP BY 1, 2) m
            ON v.word = m.word) x
          WHERE x.iter IS NOT NULL),
        top AS (SELECT word, pr FROM pr WHERE iter = 4
          ORDER BY pr DESC, word LIMIT 20)
        SELECT word, CAST(floor(pr * 1e6 + 0.5) AS BIGINT) AS pr6
        FROM top ORDER BY word""")),

    // ---- pairwise JENSEN–SHANNON divergence between source unigram
    // distributions: the symmetric, bounded ([0, ln 2]) corpus-distance
    // matrix a mixture planner reads when deciding whether two sources
    // are redundant or complementary — q191's KL is one-vs-corpus and
    // asymmetric; JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2, is the
    // pairwise completion. Per shared token the two log terms reduce to
    // INTEGER-argument logs: p·ln(p/m) with p = c_a/n_a, m the mixture
    // collapses to ln(2·c_a·n_b) − ln(c_a·n_b + c_b·n_a) — gridded to
    // 1e-6 per term (the q191 ln-parity discipline), then accumulated
    // exactly in decimal(38,0) where the c-weighted sum overflows
    // BIGINT. Tokens PRIVATE to one source contribute exactly
    // c·⌊ln 2·10⁶ + 0.5⌋, so the full-outer union of types folds into
    // the shared-token sum plus (n − shared_c)·ln2-grid — no outer join
    // ever materializes. Final: two divisions and a halving, the same
    // IEEE chain both engines, onto the 1e-6 grid.
    //
    // Scale: the only corpus-sized work is q191's (source, tok) count;
    // the pair join is per-token with |sources|²-bounded fan-out over
    // the VOCABULARY-bounded distinct-type table (q205's argument —
    // per-token source sets are |sources|-capped), and the result is
    // |sources|²/2 rows.
    ("q237_js_divergence",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(
          t(s, dir, "documents").select(col("source"), col("text")),
          Seq(col("source")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val st = toks.groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        Scoped.releaseAfterUse(st)
        val ns = st.groupBy(col("source")).agg(sum(col("c")).as("n"))
        val ln2g = floor(log(lit(2.0)) * 1e6 + 0.5).cast("long")
        val sh = st.as("a")
          .join(st.as("b"),
            col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
          .join(broadcast(ns.select(col("source").as("sa"), col("n").as("n_a"))),
            col("a.source") === col("sa"))
          .join(broadcast(ns.select(col("source").as("sb"), col("n").as("n_b"))),
            col("b.source") === col("sb"))
          .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
            col("n_a"), col("n_b"), col("a.c").as("ca"), col("b.c").as("cb"))
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            col("ca"), col("cb"),
            (col("ca") * floor((log((lit(2L) * col("ca") * col("n_b"))
              .cast("double"))
              - log((col("ca") * col("n_b") + col("cb") * col("n_a"))
                .cast("double"))) * 1e6 + 0.5).cast("long"))
              .cast("decimal(38,0)").as("term_a"),
            (col("cb") * floor((log((lit(2L) * col("cb") * col("n_a"))
              .cast("double"))
              - log((col("ca") * col("n_b") + col("cb") * col("n_a"))
                .cast("double"))) * 1e6 + 0.5).cast("long"))
              .cast("decimal(38,0)").as("term_b"))
          .groupBy(col("src_a"), col("src_b"), col("n_a"), col("n_b"))
          .agg(sum(col("term_a")).as("sa"), sum(col("term_b")).as("sb"),
            sum(col("ca")).as("shc_a"), sum(col("cb")).as("shc_b"))
        sh.select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            (Relational.decimalToLongChecked(col("sa"))
              + (col("n_a") - col("shc_a")) * ln2g).as("num_a"),
            (Relational.decimalToLongChecked(col("sb"))
              + (col("n_b") - col("shc_b")) * ln2g).as("num_b"))
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            floor((col("num_a").cast("double") / col("n_a").cast("double")
              + col("num_b").cast("double") / col("n_b").cast("double"))
              / 2.0 + 0.5).cast("long").as("jsd6"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH toks AS (
          SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+'))
            AS tok
          FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
          FROM st GROUP BY source),
        sh AS (SELECT a.source AS src_a, b.source AS src_b,
            na.n AS n_a, nb.n AS n_b,
            CAST(SUM(a.c) AS BIGINT) AS shc_a,
            CAST(SUM(b.c) AS BIGINT) AS shc_b,
            SUM(CAST(a.c AS HUGEINT)
              * CAST(floor((ln(2.0 * a.c * nb.n)
                - ln(CAST(a.c * nb.n + b.c * na.n AS DOUBLE)))
                * 1e6 + 0.5) AS BIGINT)) AS sa,
            SUM(CAST(b.c AS HUGEINT)
              * CAST(floor((ln(2.0 * b.c * na.n)
                - ln(CAST(a.c * nb.n + b.c * na.n AS DOUBLE)))
                * 1e6 + 0.5) AS BIGINT)) AS sb
          FROM st a JOIN st b
            ON a.tok = b.tok AND a.source < b.source
          JOIN ns na ON na.source = a.source
          JOIN ns nb ON nb.source = b.source
          GROUP BY 1, 2, 3, 4),
        g AS (SELECT src_a, src_b, n_a, n_b,
            CAST(sa AS BIGINT)
              + (n_a - shc_a)
                * CAST(floor(ln(2.0) * 1e6 + 0.5) AS BIGINT) AS num_a,
            CAST(sb AS BIGINT)
              + (n_b - shc_b)
                * CAST(floor(ln(2.0) * 1e6 + 0.5) AS BIGINT) AS num_b
          FROM sh)
        SELECT src_a, src_b, n_a, n_b,
          CAST(floor((CAST(num_a AS DOUBLE) / CAST(n_a AS DOUBLE)
            + CAST(num_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / 2.0 + 0.5)
            AS BIGINT) AS jsd6
        FROM g ORDER BY src_a, src_b""")),

    // ---- language-ID CONFUSION audit: q45's trigram classifier
    // evaluated against the declared `lang` column — the labeling-
    // quality check a pipeline runs before TRUSTING either signal
    // (a high-confusion cell means mislabeled ingest or a classifier
    // blind spot; routing decisions like q141/q206 read lang as
    // ground truth). Output: the full (lang, pred) confusion matrix
    // plus precision / recall / F1 of the 'en' class, ALL INTEGER —
    // F1 avoids the float p·r/(p+r) entirely via the exact algebraic
    // form 2·tp·10⁴ div (2·tp + fp + fn). The classifier expression is
    // q45's verbatim (same trigram list, same 0.18 threshold), so the
    // two queries can never drift apart silently.
    //
    // Scale: one map-side classification pass + one combinable
    // (lang, pred) count; metrics fold over the ≤ |langs|·2 matrix.
    ("q239_langid_confusion",
      (s: SparkSession, dir: String) => {
        val hitSum = enTrigrams
          .map(g => s"(length(lt) - length(replace(lt, '$g', '')))")
          .mkString("(", " + ", ") div 3")
        val preds = t(s, dir, "documents")
          .withColumn("lt", lower(col("text")))
          .withColumn("n_tg", greatest(length(col("lt")) - 2, lit(0)).cast("long"))
          .withColumn("n_hit", expr(hitSum).cast("long"))
          .withColumn("pred_lang",
            when(floor(col("n_hit").cast("double")
              / greatest(col("n_tg"), lit(1L)) * 1e4 + 0.5) / 1e4 >= 0.18,
              lit("en")).otherwise(lit("other")))
        val conf = preds.groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n")).localCheckpoint()
        Scoped.releaseAfterUse(conf)
        val m = conf.agg(
          sum(when(col("lang") === "en" && col("pred_lang") === "en",
            col("n")).otherwise(0L)).as("tp"),
          sum(when(col("lang") =!= "en" && col("pred_lang") === "en",
            col("n")).otherwise(0L)).as("fp"),
          sum(when(col("lang") === "en" && col("pred_lang") === "other",
            col("n")).otherwise(0L)).as("fn"))
        conf.crossJoin(broadcast(m))
          .select(col("lang"), col("pred_lang"), col("n"),
            when(col("tp") + col("fp") === 0L, lit(-1L))
              .otherwise(expr("tp * 10000 div (tp + fp)")).as("prec4"),
            when(col("tp") + col("fn") === 0L, lit(-1L))
              .otherwise(expr("tp * 10000 div (tp + fn)")).as("rec4"),
            when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L, lit(-1L))
              .otherwise(expr("2 * tp * 10000 div (2 * tp + fp + fn)"))
              .as("f14"))
          .orderBy(col("lang"), col("pred_lang"))
      },
      Some {
        val hitSum = enTrigrams
          .map(g => s"(length(lt) - length(replace(lt, '$g', '')))")
          .mkString("(", " + ", ") // 3")
        s"""WITH d AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
          e AS (SELECT lang,
              CAST(greatest(length(lt) - 2, 0) AS BIGINT) AS n_tg,
              CAST($hitSum AS BIGINT) AS n_hit
            FROM d),
          p AS (SELECT lang,
              CASE WHEN floor(CAST(n_hit AS DOUBLE) / greatest(n_tg, 1)
                  * 10000.0 + 0.5) / 10000.0 >= 0.18
                THEN 'en' ELSE 'other' END AS pred_lang
            FROM e),
          conf AS (SELECT lang, pred_lang, COUNT(*) AS n
            FROM p GROUP BY 1, 2),
          m AS (SELECT
              CAST(SUM(CASE WHEN lang = 'en' AND pred_lang = 'en'
                THEN n ELSE 0 END) AS BIGINT) AS tp,
              CAST(SUM(CASE WHEN lang <> 'en' AND pred_lang = 'en'
                THEN n ELSE 0 END) AS BIGINT) AS fp,
              CAST(SUM(CASE WHEN lang = 'en' AND pred_lang = 'other'
                THEN n ELSE 0 END) AS BIGINT) AS fn
            FROM conf)
          SELECT conf.lang, conf.pred_lang, conf.n,
            CASE WHEN m.tp + m.fp = 0 THEN -1
              ELSE m.tp * 10000 // (m.tp + m.fp) END AS prec4,
            CASE WHEN m.tp + m.fn = 0 THEN -1
              ELSE m.tp * 10000 // (m.tp + m.fn) END AS rec4,
            CASE WHEN 2 * m.tp + m.fp + m.fn = 0 THEN -1
              ELSE 2 * m.tp * 10000 // (2 * m.tp + m.fp + m.fn) END AS f14
          FROM conf CROSS JOIN m
          ORDER BY conf.lang, conf.pred_lang"""
      }),

    // ---- MILLER–MADOW bias-corrected unigram entropy per source
    // (Miller 1955) — the estimator audit the diversity family needs:
    // the plug-in (MLE) entropy q191/q243 compute is biased LOW by
    // ≈ (V−1)/2n nats on finite samples (a 50k-token source with 8k
    // types under-reads by ~0.08 nats — material when entropy gates a
    // diversity threshold), and Miller–Madow is the standard first-order
    // correction; the sample-coverage line (q218's Good–Turing C) rides
    // along so a reader sees WHY the correction is small or large.
    // Exactness: H_MLE is q243's per-term integer-log fold (c·⌊(ln c −
    // ln n)·10⁶ + 0.5⌋, accumulated in decimal(38,0) because a corpus-
    // wide Σ c·grid can exceed int64 at 100 TB — q191's width argument),
    // exiting through decimalToLongChecked; the correction is the exact
    // integer (V−1)·10⁶ div 2n; coverage is q218's integer expression
    // verbatim. Everything is one (source, tok) count — one combinable
    // shuffle — then |sources|-bounded folds.
    ("q250_miller_madow_entropy",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(
          t(s, dir, "documents").select(col("source"), col("text")),
          Seq(col("source")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        val st = toks.groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        Scoped.releaseAfterUse(st)
        val ns = st.groupBy(col("source"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("v_types"),
            count(when(col("c") === 1L, 1)).as("n1"))
        st.join(broadcast(ns), Seq("source"))
          .select(col("source"), col("n"), col("v_types"), col("n1"),
            (col("c") * floor((log(col("c").cast("double"))
              - log(col("n").cast("double"))) * 1e6 + 0.5).cast("long"))
              .cast("decimal(38,0)").as("term"))
          .groupBy(col("source"), col("n"), col("v_types"), col("n1"))
          .agg(sum(col("term")).as("tsum"))
          .select(col("source"), col("n").as("n_tokens"), col("v_types"),
            col("n1"),
            expr("10000 - n1 * 10000 div n").as("coverage4"),
            floor((-Relational.decimalToLongChecked(col("tsum")))
              .cast("double") / col("n").cast("double") + 0.5)
              .cast("long").as("h6"),
            (floor((-Relational.decimalToLongChecked(col("tsum")))
              .cast("double") / col("n").cast("double") + 0.5)
              .cast("long")
              + expr("(v_types - 1) * 1000000 div (2 * n)")).as("mm6"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
          SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+'))
            AS tok FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
            COUNT(*) AS v_types,
            CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n1
          FROM st GROUP BY source),
        terms AS (SELECT st.source,
            CAST(st.c AS HUGEINT)
              * CAST(floor((ln(CAST(st.c AS DOUBLE))
                - ln(CAST(ns.n AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
              AS term
          FROM st JOIN ns ON ns.source = st.source),
        ts AS (SELECT source, CAST(SUM(term) AS BIGINT) AS tsum
          FROM terms GROUP BY source)
        SELECT ns.source, ns.n AS n_tokens, ns.v_types, ns.n1,
          10000 - ns.n1 * 10000 // ns.n AS coverage4,
          CAST(floor(CAST(-ts.tsum AS DOUBLE) / CAST(ns.n AS DOUBLE)
            + 0.5) AS BIGINT) AS h6,
          CAST(floor(CAST(-ts.tsum AS DOUBLE) / CAST(ns.n AS DOUBLE)
            + 0.5) AS BIGINT)
            + (ns.v_types - 1) * 1000000 // (2 * ns.n) AS mm6
        FROM ns JOIN ts ON ts.source = ns.source
        ORDER BY ns.source"""))
  ,

    // ---- COHEN'S KAPPA (Cohen 1960) between q45's trigram language-ID
    // and the declared lang column — the chance-corrected agreement
    // number q239's confusion/PRF audit stops short of: precision/recall
    // reward a classifier that exploits class imbalance (predict the
    // majority, look great); κ subtracts the agreement two independent
    // raters with these marginals would reach by luck, so it is the one
    // number to gate "is the labeling signal real". Binary (en vs
    // other): p_o = (tp+tn)/N, p_e from the marginal products, κ =
    // (p_o − p_e)/(1 − p_e). The classifier expression is q45/q239's
    // VERBATIM (same trigram list, same 0.18 threshold) so the three
    // can never drift apart silently. Exactness: all four cells are one
    // combinable count; p_o/p_e are positive integer ‱ divisions; κ can
    // be NEGATIVE, so its ratio goes through the q245 exact-integer-
    // ratio double path (cross-engine-identical long→double casts, one
    // IEEE division + floor — `div` truncation vs `//` flooring never
    // enters). Degenerate p_e = 1 (both raters constant) sentinels
    // kappa4 to −20001, outside κ's [−10⁴, 10⁴] range so it can never
    // collide with a real value (the q245 lesson: −1 IS a legal κ).
    //
    // Scale: one map-side classification pass + one 4-cell count.
    ("q251_cohens_kappa",
      (s: SparkSession, dir: String) => {
        val hitSum = enTrigrams
          .map(g => s"(length(lt) - length(replace(lt, '$g', '')))")
          .mkString("(", " + ", ") div 3")
        val m = t(s, dir, "documents")
          .withColumn("lt", lower(col("text")))
          .withColumn("n_tg", greatest(length(col("lt")) - 2, lit(0)).cast("long"))
          .withColumn("n_hit", expr(hitSum).cast("long"))
          .withColumn("pred_en",
            floor(col("n_hit").cast("double")
              / greatest(col("n_tg"), lit(1L)) * 1e4 + 0.5) / 1e4 >= 0.18)
          .agg(
            sum(when(col("lang") === "en" && col("pred_en"), 1L)
              .otherwise(0L)).as("tp"),
            sum(when(col("lang") =!= "en" && col("pred_en"), 1L)
              .otherwise(0L)).as("fp"),
            sum(when(col("lang") === "en" && !col("pred_en"), 1L)
              .otherwise(0L)).as("fn"),
            sum(when(col("lang") =!= "en" && !col("pred_en"), 1L)
              .otherwise(0L)).as("tn"))
        m.select(col("tp"), col("fp"), col("fn"), col("tn"),
            (col("tp") + col("fp") + col("fn") + col("tn")).as("n"),
            // pe numerator over N²: (tp+fp)(tp+fn) + (fn+tn)(fp+tn)
            ((col("tp") + col("fp")) * (col("tp") + col("fn"))
              + (col("fn") + col("tn")) * (col("fp") + col("tn")))
              .as("pe_num"))
          .select(col("n"), col("tp"), col("fp"), col("fn"), col("tn"),
            expr("(tp + tn) * 10000 div n").as("po4"),
            expr("pe_num * 10000 div (n * n)").as("pe4"),
            when(col("n") * col("n") - col("pe_num") === 0L, lit(-20001L))
              .otherwise(floor(
                ((col("tp") + col("tn")) * col("n") - col("pe_num"))
                  .cast("double") * 1e4
                  / (col("n") * col("n") - col("pe_num")).cast("double")
                  + 0.5).cast("long")).as("kappa4"))
      },
      Some {
        val hitSum = enTrigrams
          .map(g => s"(length(lt) - length(replace(lt, '$g', '')))")
          .mkString("(", " + ", ") // 3")
        s"""WITH d AS (SELECT lang, lower(text) AS lt FROM documents),
          e AS (SELECT lang,
              CAST(greatest(length(lt) - 2, 0) AS BIGINT) AS n_tg,
              CAST($hitSum AS BIGINT) AS n_hit
            FROM d),
        p AS (SELECT lang,
            floor(CAST(n_hit AS DOUBLE) / greatest(n_tg, 1)
              * 10000.0 + 0.5) / 10000.0 >= 0.18 AS pred_en
          FROM e),
        m AS (SELECT
            CAST(COUNT(*) FILTER (WHERE lang = 'en' AND pred_en)
              AS BIGINT) AS tp,
            CAST(COUNT(*) FILTER (WHERE lang <> 'en' AND pred_en)
              AS BIGINT) AS fp,
            CAST(COUNT(*) FILTER (WHERE lang = 'en' AND NOT pred_en)
              AS BIGINT) AS fn,
            CAST(COUNT(*) FILTER (WHERE lang <> 'en' AND NOT pred_en)
              AS BIGINT) AS tn
          FROM p),
        k AS (SELECT tp, fp, fn, tn, tp + fp + fn + tn AS n,
            (tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS pe_num
          FROM m)
        SELECT n, tp, fp, fn, tn,
          (tp + tn) * 10000 // n AS po4,
          pe_num * 10000 // (n * n) AS pe4,
          CASE WHEN n * n - pe_num = 0 THEN -20001
            ELSE CAST(floor(CAST((tp + tn) * n - pe_num AS DOUBLE) * 1e4
              / CAST(n * n - pe_num AS DOUBLE) + 0.5) AS BIGINT)
            END AS kappa4
        FROM k"""
      }),

    // ---- GINI–SIMPSON diversity (Simpson 1949) per source — the
    // diversity family's second classic beside the entropy line (q191
    // KL, q243/q250 Shannon): 1 − Σp_i², the probability two tokens
    // drawn at random differ, plus its inverse-Simpson "effective
    // vocabulary size". Entropy weights rare types logarithmically;
    // Simpson is dominated by the head — a boilerplate-flooded source
    // craters Simpson long before it moves Shannon, which is exactly
    // why a diversity dashboard wants both. ENTIRELY integer: Σc² and
    // n are exact folds, D4 = 10⁴ − Σc²·10⁴ div n², and the inverse is
    // one more integer division (n² ≥ Σc² ≥ n ≥ 1 for any emitted
    // source, so no degenerate division exists; a single-type source
    // honestly reads D4 = 0). The Σc² fold and the n²/‱ products are
    // born decimal(38,0) (r21, VERDICT r20 #3: the former in-comment
    // "widen past ~3·10⁷ tokens/source" promise is now code — Σc² ≤ n²
    // and the ‱ product breach 2⁶³ where Spark non-ANSI wraps silently
    // while DuckDB errors loudly); `div` on decimal operands is the
    // same truncating IntegralDivide, so in-range results are
    // bit-identical to the BIGINT path.
    //
    // Scale: one combinable (source, tok) count; the fold runs on
    // |sources| rows.
    ("q255_simpson_diversity",
      (s: SparkSession, dir: String) => {
        val toks = explodeLean(
          t(s, dir, "documents").select(col("source"), col("text")),
          Seq(col("source")),
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
        toks.groupBy(col("source"), col("tok"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("v_types"),
            sum(expr("cast(c as decimal(38,0)) * c")).as("sc2"))
          .select(col("source"), col("n").as("n_tokens"), col("v_types"),
            (lit(10000L) - expr(
              "sc2 * 10000 div (cast(n as decimal(38,0)) * n)"))
              .as("gini_simpson4"),
            // inverse Simpson 1/Σp² = n²/Σc², the "effective type count"
            expr("cast(n as decimal(38,0)) * n * 100 div sc2")
              .as("inv_simpson2"))
          .orderBy(col("source"))
      },
      Some("""WITH toks AS (
          SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+'))
            AS tok FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
        f AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
            COUNT(*) AS v_types,
            CAST(SUM(c * c) AS BIGINT) AS sc2
          FROM st GROUP BY source)
        SELECT source, n AS n_tokens, v_types,
          10000 - sc2 * 10000 // (n * n) AS gini_simpson4,
          n * n * 100 // sc2 AS inv_simpson2
        FROM f
        ORDER BY source"""))
  ,

    // ---- PER-SOURCE exact-duplicate rate: the share of each source's
    // documents whose exact text (md5) appears more than once WITHIN
    // that source — q30's corpus-global exact dedup re-cut to the
    // grain a feed decision is made at (a 30%-self-duplicated source
    // is a re-crawl or a pagination bug regardless of how the global
    // pass dedups it; the per-source number is what gets a feed
    // paused). All INTEGER: one (source, hash) count, duplicate mass
    // folded per source, two ‱ divisions (n_docs ≥ 1 structurally).
    // dup_docs counts members of multi-copy groups; surplus counts
    // only the copies a within-source dedup would delete.
    //
    // Scale: one combinable (source, md5) count — the hash is
    // computed map-side so no shuffle carries text; folds run on
    // |sources| rows.
    ("q256_source_dup_rate",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .select(col("source"), md5(col("text")).as("h"))
          .groupBy(col("source"), col("h"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n_docs"),
            sum(when(col("c") > 1L, col("c")).otherwise(0L)).as("dup_docs"),
            sum(when(col("c") > 1L, col("c") - 1L).otherwise(0L))
              .as("surplus_docs"))
          .select(col("source"), col("n_docs"), col("dup_docs"),
            col("surplus_docs"),
            expr("dup_docs * 10000 div n_docs").as("dup_rate4"),
            expr("surplus_docs * 10000 div n_docs").as("surplus_rate4"))
          .orderBy(col("source"))
      },
      Some("""WITH h AS (SELECT source, md5(text) AS h FROM documents),
        g AS (SELECT source, h, COUNT(*) AS c FROM h GROUP BY 1, 2),
        f AS (SELECT source,
            CAST(SUM(c) AS BIGINT) AS n_docs,
            CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
              AS dup_docs,
            CAST(SUM(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
              AS surplus_docs
          FROM g GROUP BY source)
        SELECT source, n_docs, dup_docs, surplus_docs,
          dup_docs * 10000 // n_docs AS dup_rate4,
          surplus_docs * 10000 // n_docs AS surplus_rate4
        FROM f
        ORDER BY source"""))
  )

  /** q190's rule evaluation, shared with the streaming twin
    * ([[graft.streaming.EventStreams.gopherRulesStream]] — stream and
    * batch verdicts are bit-identical by construction): per input row,
    * emit one (rule, pass) row per rule (five Gopher rules + the
    * conjunction), carrying `carry` through the melt. Entirely map-side
    * column expressions — every threshold is an integer comparison
    * multiplied through (no division), so the flags are exact on both
    * engines and safe inside a streaming Generate. */
  /** The stop-list behind r_stopword_hits — Gopher's eight plus "a"/"in"
    * (the standard short-list extension; with only the original eight,
    * the fixture's synthetic vocabulary contains just "the" and the rule
    * would be identically false — a vacuous gate. Two DISTINCT hits are
    * still required, so the rule discriminates at every fixture sf). */
  lazy val GopherStops: Seq[String] = // lazy: referenced during catalog init
    Seq("the", "a", "be", "to", "of", "and", "that", "have", "with", "in")

  /** DuckDB SQL for q190's five-rule conjunction over `documents`-shaped
    * rows (the single source of truth the q190/q199/q200 oracles share —
    * column `pass`, keyed by doc_id). */
  def gopherAllSql(src: String): String = {
    val hits = GopherStops.map(w =>
      s"CASE WHEN list_contains(regexp_extract_all(lower(text), '[a-z]+'), '$w') THEN 1 ELSE 0 END")
      .mkString("\n               + ")
    s"""SELECT doc_id,
            len(regexp_extract_all(text, '\\S+')) BETWEEN 50 AND 100000
            AND len(array_to_string(regexp_extract_all(text, '\\S+'), ''))
              BETWEEN 3 * len(regexp_extract_all(text, '\\S+'))
              AND 10 * len(regexp_extract_all(text, '\\S+'))
            AND 5 * len(list_filter(regexp_extract_all(text, '\\S+'),
              w -> regexp_matches(w, '[a-zA-Z]')))
              >= 4 * len(regexp_extract_all(text, '\\S+'))
            AND 10 * (len(regexp_extract_all(text, '\\.{3}'))
              + len(text) - len(replace(text, '#', '')))
              <= len(regexp_extract_all(text, '\\S+'))
            AND ($hits) >= 2 AS pass
          FROM $src"""
  }

  def gopherFlags(docs: DataFrame, carry: Seq[Column] = Seq.empty): DataFrame = {
    val stops = GopherStops
    val rules = Seq("r_word_count", "r_mean_word_len", "r_alpha_ratio",
      "r_symbol_ratio", "r_stopword_hits", "r_all")
    val flagged = docs
      .withColumn("ws", expr("regexp_extract_all(text, '\\\\S+', 0)"))
      .withColumn("nw", size(col("ws")).cast("long"))
      .withColumn("chars", length(concat_ws("", col("ws"))).cast("long"))
      .withColumn("alpha", size(expr(
        "filter(ws, w -> w rlike '[a-zA-Z]')")).cast("long"))
      .withColumn("syms",
        (length(col("text")) - length(replace(col("text"), lit("#"), lit("")))
          + size(expr("regexp_extract_all(text, '\\\\.{3}', 0)"))).cast("long"))
      .withColumn("lw", expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .withColumn("stop_hits", stops.map(w =>
        when(array_contains(col("lw"), w), 1L).otherwise(0L))
        .reduce(_ + _))
      .withColumn("r_word_count", col("nw") >= 50L && col("nw") <= 100000L)
      .withColumn("r_mean_word_len",
        col("chars") >= col("nw") * 3L && col("chars") <= col("nw") * 10L)
      .withColumn("r_alpha_ratio", col("alpha") * 5L >= col("nw") * 4L)
      .withColumn("r_symbol_ratio", col("syms") * 10L <= col("nw"))
      .withColumn("r_stopword_hits", col("stop_hits") >= 2L)
      .withColumn("r_all",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_alpha_ratio") && col("r_symbol_ratio") &&
          col("r_stopword_hits"))
    flagged.select(carry :+ expr(s"stack(${rules.size}, " +
      rules.map(r => s"'$r', $r").mkString(", ") + ") as (rule, pass)"): _*)
  }

  /** k BPE trainer rounds over the frequency-weighted word-TYPE table
    * (shared by q119/q120). Returns the per-round 1-row merge tables
    * ((s1, s2, n), checkpoint-backed) and the final (tok, cnt, syms)
    * symbolization (checkpoint-backed). Intermediate rounds are freed as
    * soon as their successor materializes (the PageRank loop discipline);
    * the caller owns the release of everything returned. */
  /** q84's core, parameterized by OUTPUT SHARD count: greedy sequential
    * packing of docs into 2048-token context bins via a PER-SHARD running
    * token cumsum — `Window.partitionBy(shard).orderBy(doc_id)`, never a
    * corpus-wide single-partition window (the r7 `WindowExec: No
    * Partition Defined` scale defect). Shard routing is q48's
    * deterministic md5-bucket (`hash32("pack:" ++ doc_id) % nShards`):
    * seed-free, re-run-stable, decorrelated from crawl order. Bin ids are
    * per-shard ((cum−1) div 2048 within the shard), so every shard packs
    * independently — at 100 TB nShards is the pipeline's output-shard
    * count and the window runs as nShards parallel cumsums. The catalog
    * gate runs the default nShards=1 (the fixture's single logical
    * shard), where shard ≡ 0, the per-shard cumsum IS the global cumsum,
    * and the result (minus the shard column) is bit-identical to the r7
    * global-window formulation — PropertySpec pins that equivalence and
    * exercises nShards=4. */
  def sequencePacking(s: SparkSession, dir: String, nShards: Int = 1): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).cast("long").as("n_tok"))
      .withColumn("shard",
        (hash32(concat(lit("pack:"), col("doc_id").cast("string"))) % nShards).cast("long"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr("(cum - 1) div 2048"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("bin"))
  }

  /** q115's core: quality-quartile curriculum bucketing via PERCENTILE
    * CUTOFFS, not a corpus-wide ntile window (the r7 scale defect). The
    * quality score q lives on the 1e-4 grid in [0,1], so its histogram is
    * BOUNDED (≤ 10 001 distinct values regardless of corpus size): one
    * map-side-combined aggregate, a ≤10 001-row driver collect (the
    * k-means-centroid class of bounded collect), a driver cumsum, and
    * bucketing becomes a map-only comparison against three integer
    * literals — exactly the "cutoffs from the histogram sketch" design
    * q94 already uses for quantiles. Cutoff definition mirrors ntile(4)'s
    * boundaries (r_k = k·(N div 4) + min(k, N mod 4); c_k = smallest
    * grid value whose cumulative count reaches r_k; bucket = 1 + Σ [q >
    * c_k]), so on tie-free scores the assignment is IDENTICAL to
    * ntile(4) over (q, doc_id) — PropertySpec pins that equivalence. On
    * scores tied at a boundary the whole tie group lands in the lower
    * bucket (ntile would split it arbitrarily by doc_id); the DuckDB
    * oracle implements the same cutoff rule, so the gate is exact. The
    * within-bucket shuffle window stays PARTITIONED by bucket. */
  /** ntile(4)-compatible quartile cutoffs from a VALUE-SORTED histogram
    * `(value, count)`: c_k = smallest value whose cumulative count reaches
    * ntile's k-th boundary r_k = k·(N div 4) + min(k, N mod 4). Bucket
    * assignment is then 1 + Σ_k [v > c_k] — identical to ntile(4) over
    * (v, id) whenever values are tie-free (PropertySpec pins this); a tie
    * group straddling a boundary lands whole in the lower bucket. Pure
    * driver arithmetic so the rule is unit-testable without a session;
    * the DuckDB oracle implements the same rule in SQL. */
  def quartileCutoffs(hist: Seq[(Long, Long)]): Array[Long] = {
    require(hist.iterator.map(_._1).sliding(2).forall(
      w => w.size < 2 || w.head < w.last), "hist must be value-sorted and deduped")
    val n = hist.iterator.map(_._2).sum
    val rks = (1 to 3).map(k => k * (n / 4) + math.min(k.toLong, n % 4))
    val cuts = Array.fill(3)(Long.MaxValue)
    var cum = 0L
    hist.foreach { case (v, cnt) =>
      cum += cnt
      var k = 0
      while (k < 3) {
        if (cuts(k) == Long.MaxValue && cum >= rks(k)) cuts(k) = v
        k += 1
      }
    }
    cuts
  }

  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    def r4(c: org.apache.spark.sql.Column) = floor(c * 1e4 + 0.5) / 1e4
    val scored = t(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
      .withColumn("n_alpha", length(array_join(col("ws"), "")).cast("long"))
      .withColumn("alpha_ratio",
        r4(col("n_alpha").cast("double") / greatest(length(col("text")).cast("long"), lit(1L))))
      .withColumn("avg_w_len",
        r4(col("n_alpha").cast("double") / greatest(col("n_tokens"), lit(1L))))
      .withColumn("q",
        r4(lit(0.4) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
          + lit(0.3) * col("alpha_ratio")
          + lit(0.3) * least(col("avg_w_len") / 10.0, lit(1.0))))
      .select(col("doc_id"), col("q"),
        floor(col("q") * 1e4 + 0.5).cast("long").as("qi"))
      .localCheckpoint() // narrow (doc_id, q, qi): feeds hist AND assignment
    // bounded histogram → ntile-compatible quartile cutoffs on the driver
    val hist = scored.groupBy(col("qi")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("qi")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cuts = quartileCutoffs(hist)
    // armed only NOW, after the hist collect, so the stale-event cutoff
    // filters the collect's own listener event and the checkpoint
    // survives until the caller's single gate action
    Scoped.releaseAfterUse(scored)
    val wb = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    scored
      .withColumn("bucket",
        (lit(1) + (col("qi") > cuts(0)).cast("int")
          + (col("qi") > cuts(1)).cast("int")
          + (col("qi") > cuts(2)).cast("int")).cast("long"))
      .withColumn("h", hash32(concat(lit("curr:"), col("doc_id").cast("string"))))
      .withColumn("pos", (row_number().over(wb) - 1).cast("long"))
      .select(col("doc_id"), col("bucket"), col("q").as("quality_score"), col("pos"))
      .orderBy(col("bucket"), col("pos"))
  }

  private def bpeTrain(s: SparkSession, dir: String, rounds: Int)
      : (List[DataFrame], DataFrame) = {
    val types = explodeLean(t(s, dir, "documents"), Seq(),
      expr("regexp_extract_all(lower(text), '[a-z]+', 0)"), "tok")
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    var seq = types
      .select(col("tok"), col("cnt"), expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))").as("syms"))
      .localCheckpoint()
    var tops = List.empty[DataFrame]
    for (_ <- 1 to rounds) {
      val pairs = seq.filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1),
               (a, b) -> named_struct('sym_a', a, 'sym_b', b))""")).as("p"))
        .groupBy(col("p.sym_a").as("s1"), col("p.sym_b").as("s2"))
        .agg(sum(col("cnt")).as("n"))
      val top = pairs.orderBy(desc("n"), asc("s1"), asc("s2")).limit(1)
        .localCheckpoint() // 1 row; keeps later rounds from re-running the count
      tops :+= top
      val next = seq.crossJoin(broadcast(top.select(col("s1"), col("s2"))))
        .withColumn("syms", expr(
          """aggregate(syms, cast(array() as array<string>),
               (acc, c) -> if(size(acc) > 0 AND element_at(acc, -1) = s1 AND c = s2,
                 concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))),
                 concat(acc, array(c))))"""))
        .select(col("tok"), col("cnt"), col("syms"))
        .localCheckpoint()
      Scoped.free(seq) // predecessor released only after successor materialized
      seq = next
    }
    (tops, seq)
  }

  /** DuckDB twin of [[bpeTrain]] (3 rounds, gaps-and-islands parity
    * apply — PropertySpec proves it equals the Spark fold): exposes
    * m_1..m_3 (per-round merges) and seq_4 (final symbolization). */
  private def bpeTrainSqlCtes: String = {
    def round(r: Int) =
      s"""pairs_$r AS (SELECT a.sym AS s1, b.sym AS s2, SUM(a.cnt) AS n
        FROM seq_$r a JOIN seq_$r b ON b.tok = a.tok AND b.j = a.j + 1
        GROUP BY 1, 2),
      m_$r AS (SELECT s1, s2, n FROM pairs_$r ORDER BY n DESC, s1, s2 LIMIT 1),
      mt_$r AS (SELECT a.tok, a.j FROM seq_$r a
        JOIN seq_$r b ON b.tok = a.tok AND b.j = a.j + 1
        CROSS JOIN m_$r m WHERE a.sym = m.s1 AND b.sym = m.s2),
      isl_$r AS (SELECT tok, j,
          j - ROW_NUMBER() OVER (PARTITION BY tok ORDER BY j) AS grp
        FROM mt_$r),
      keep_$r AS (SELECT tok, j FROM (
          SELECT tok, j, (j - MIN(j) OVER (PARTITION BY tok, grp)) % 2 AS par
          FROM isl_$r) WHERE par = 0),
      ns_$r AS (SELECT c.tok, c.cnt, c.j,
          CASE WHEN k.j IS NOT NULL THEN m.s1 || m.s2 ELSE c.sym END AS sym
        FROM seq_$r c CROSS JOIN m_$r m
        LEFT JOIN keep_$r k ON k.tok = c.tok AND k.j = c.j
        LEFT JOIN keep_$r k2 ON k2.tok = c.tok AND k2.j = c.j - 1
        WHERE k2.j IS NULL),
      seq_${r + 1} AS (SELECT tok, cnt, sym,
          CAST(ROW_NUMBER() OVER (PARTITION BY tok ORDER BY j) AS BIGINT) AS j
        FROM ns_$r)"""
    s"""toks AS (SELECT
          unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
        FROM documents),
      types AS (SELECT tok, COUNT(*) AS cnt FROM toks
        WHERE length(tok) >= 2 GROUP BY tok),
      seq_1 AS (SELECT tok, cnt, CAST(i AS BIGINT) AS j,
          substr(tok, CAST(i AS INT), 1) AS sym
        FROM (SELECT tok, cnt, unnest(range(1, length(tok) + 1)) AS i FROM types)),
      ${round(1)},
      ${round(2)},
      ${round(3)}"""
  }
}
