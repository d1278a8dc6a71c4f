package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Portable._
import graft.core.{Scoped, Tables}

/** Large-scale training-data dedup + similarity-search operators over the
  * `documents` and `embeddings` tables:
  *
  *  - exact dedup (content-hash groupBy),
  *  - n-gram Jaccard near-dup (shingle equi-join — exact but quadratic in
  *    shared shingles; the SCALE path is the MinHash-LSH below),
  *  - MinHash + LSH banding (16 perms, 4 bands × 4 rows): candidate
  *    generation via band-bucket equi-join, then Jaccard verification on
  *    candidates only — this is the 100 TB-safe shape (no all-pairs work),
  *  - SimHash fingerprints + near-dup pairs via 4×8-bit block bucketing
  *    (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 exact block match),
  *  - brute-force cosine top-k (baseline) and label-blocked near-dup
  *    (coarse-quantizer/IVF-style cell-local compare — the scale path).
  *
  * Every hash is md5-derived (see [[graft.core.Portable]]) so the DuckDB
  * oracle reproduces results bit-for-bit; all similarity arithmetic is done
  * in double with identical fold order in both engines.
  */
object DedupSim {
  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val P = MersenneP // 2^31-1

  /** Distinct word-5-gram shingles of any (doc_id, text) frame.
    * explodeLean: the shingle transform must not be duplicated into an
    * inferred pre-Generate filter (see Portable.explodeLean). */
  private def shingleDf(d: DataFrame): DataFrame =
    explodeLean(
      d.select(col("doc_id"), expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
        .filter(size(col("ws")) >= 5),
      Seq(col("doc_id")),
      expr("transform(sequence(0, size(ws)-5), i -> concat_ws(' ', slice(ws, i+1, 5)))"),
      "shingle")
      .distinct()

  /** Shared exact-integer covariance grid of q157 (diagnostics) and
    * q217 (power iteration): upper-triangle (i ≤ j) covariance of the
    * embedding table on the 1e-6 grid. Every sum rides an EXACT BIGINT
    * numerator (per-row x_i·x_j quantized to the 1e-8 grid — the q150
    * discipline), so partition order cannot move a bit; the final cov
    * value is double ops over those exact integers in an identical
    * shape to [[covGridCtes]]. d is read from the data
    * (size(embedding)), never hard-coded. Scale argument lives on the
    * q157 catalog comment. */
  private def covGrid(s: SparkSession, dir: String): DataFrame =
    covGridOf(t(s, dir, "embeddings"))

  /** [[covGrid]] over an already-loaded embedding frame — the seam
    * PcaPowerSpec uses to drive [[pcaPowerIteration]] on a crafted
    * corpus with a known principal direction. */
  private[graft] def covGridOf(emb0: DataFrame): DataFrame = {
    val s = emb0.sparkSession
    // spread the vectors BEFORE the d²-per-row fan-out: the term
    // stream is ~2080× the input bytes, so a narrow round-robin
    // shuffle of the raw vectors (n × ~0.5 KB) buys full-cluster
    // parallelism on the product map even when the table arrives as
    // one splittable-but-small file (measured 18.6 → 4.8 s at the
    // 20 k-row sf1 fixture, where the scan is otherwise ONE task)
    val emb = emb0
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val pairTerms = explodeLean(emb, Seq(),
      expr("""flatten(transform(sequence(1, size(embedding)), i ->
               transform(sequence(i, size(embedding)), j ->
                 named_struct('i', cast(i as bigint),
                   'j', cast(j as bigint),
                   'q', cast(floor(
                     cast(element_at(embedding, i) as double) *
                     cast(element_at(embedding, j) as double) * 1e8
                     + 0.5) as bigint)))))"""), "pq")
      .select(col("pq.i").as("i"), col("pq.j").as("j"),
        col("pq.q").as("q"))
    val sxy = pairTerms.groupBy(col("i"), col("j"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
    val sx = explodeLean(emb, Seq(),
      expr("""transform(sequence(1, size(embedding)), i ->
               named_struct('i', cast(i as bigint),
                 'q', cast(floor(
                   cast(element_at(embedding, i) as double) * 1e8
                   + 0.5) as bigint)))"""), "mq")
      .select(col("mq.i").as("i"), col("mq.q").as("q"))
      .groupBy(col("i")).agg(sum(col("q")).as("sx"))
    sxy
      .join(broadcast(sx.select(col("i"), col("sx").as("sxi"))), Seq("i"))
      .join(broadcast(sx.select(col("i").as("j"), col("sx").as("sxj"))),
        Seq("j"))
      .select(col("i"), col("j"),
        floor((col("sq").cast("double") / col("n") / lit(1e8) -
          (col("sxi").cast("double") / col("n") / lit(1e8)) *
          (col("sxj").cast("double") / col("n") / lit(1e8))) * lit(1e6)
          + lit(0.5)).cast("long").as("cov6"))
  }

  /** The DuckDB twin of [[covGrid]] — CTE bodies (pt/sxy/mt/sx/cov)
    * shared verbatim by the q157 and q217 oracles: one covariance
    * arithmetic, two gated surfaces (the nationPrRecursiveCtes
    * discipline from CorpusSearch). */
  private val covGridCtes: String =
    """pt AS (SELECT CAST(u.i AS BIGINT) AS i,
            CAST(v.j AS BIGINT) AS j,
            CAST(floor(CAST(embedding[CAST(u.i AS BIGINT)] AS DOUBLE) *
              CAST(embedding[CAST(v.j AS BIGINT)] AS DOUBLE) * 1e8 + 0.5)
              AS BIGINT) AS q
          FROM embeddings,
            UNNEST(range(1, len(embedding) + 1)) u(i),
            UNNEST(range(1, len(embedding) + 1)) v(j)
          WHERE v.j >= u.i),
        sxy AS (SELECT i, j, SUM(q) AS sq, COUNT(*) AS n
          FROM pt GROUP BY i, j),
        mt AS (SELECT CAST(u.i AS BIGINT) AS i,
            CAST(floor(CAST(embedding[CAST(u.i AS BIGINT)] AS DOUBLE) * 1e8
              + 0.5) AS BIGINT) AS q
          FROM embeddings, UNNEST(range(1, len(embedding) + 1)) u(i)),
        sx AS (SELECT i, SUM(q) AS sx FROM mt GROUP BY i),
        cov AS (SELECT s.i, s.j,
            CAST(floor((CAST(s.sq AS DOUBLE) / s.n / 1e8 -
              (CAST(xi.sx AS DOUBLE) / s.n / 1e8) *
              (CAST(xj.sx AS DOUBLE) / s.n / 1e8)) * 1e6 + 0.5) AS BIGINT)
              AS cov6
          FROM sxy s JOIN sx xi ON s.i = xi.i JOIN sx xj ON s.j = xj.i)"""

  /** Winnowed fingerprint array (MOSS: 4-token grams, 4-hash windows,
    * rightmost-min tie-break via min over hash·4+(3−o)) from a bound
    * token-array column `ws` — ONE definition shared by batch q181 and
    * [[graft.streaming.EventStreams.winnowMatchStream]], so stream and
    * batch fingerprint identically (the cdcChunkHashArray contract).
    * The gram hashes come from the native fused [[graft.functions
    * .GramHash60]] kernel (bit-parity with the portable HOF pinned by
    * GramHash60Spec; Session.build registers `gram_hash60`),
    * bound ONCE as a transform lambda VALUE (q111 lesson) for the
    * window-min pass. Docs with < 7 alpha tokens carry an empty array
    * (no window fits). */
  private[graft] val winnowFpsExpr: String =
    "case when size(ws) >= 7 then " +
    "array_distinct(element_at(transform(array(gram_hash60(ws, 4)" +
    "), gs -> transform(sequence(0, size(gs) - 4), j -> " +
    "array_min(transform(sequence(0, 3), o -> " +
    "element_at(gs, j + o + 1) * 4 + 3 - o)) div 4)), 1)) " +
    "else cast(array() as array<bigint>) end"

  /** Distinct word-5-gram shingles per document. */
  private def shingles(s: SparkSession, dir: String): DataFrame =
    shingleDf(t(s, dir, "documents"))

  /** q31's hashed-shingle variant of [[shingles]]: the exact-Jaccard
    * self-join only needs shingle EQUALITY, so the 5-gram rides the
    * native 60-bit fingerprint ([[graft.functions.GramHash60]]) — no
    * 5-token string is materialized, per-doc dedup is an in-row
    * array_distinct (no corpus-wide distinct() shuffle; the q77
    * discipline), and the self-join shuffles longs instead of ~30-byte
    * strings. The q30/q32–q34 MinHash family keeps STRING shingles: its
    * signatures are defined over md5(shingle-string) 32-bit arithmetic
    * (the pinned portable contract, VERDICT r15/r16). */
  private def shingleHashes(s: SparkSession, dir: String): DataFrame = {
    explodeLean(
      t(s, dir, "documents").select(col("doc_id"),
        expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
        .filter(size(col("ws")) >= 5),
      Seq(col("doc_id")),
      expr("array_distinct(gram_hash60(ws, 5))"),
      "shingle")
  }

  /** DuckDB CTE mirroring [[shingleHashes]] (CTE name `shh`). */
  private val shingleHashesSql =
    """tokshh AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws
         FROM documents WHERE len(regexp_extract_all(text, '[a-zA-Z]+')) >= 5),
      shh AS (SELECT doc_id,
               unnest(list_distinct(list_transform(range(0, greatest(len(ws) - 4, 0)),
                 i -> ('0x' || substr(md5(array_to_string(
                   list_slice(ws, i + 1, i + 5), ' ')), 1, 15))::BIGINT))) AS shingle
             FROM tokshh)"""

  /** ExactSubstr span token length — q207/q209's K. */
  private[graft] val ExactSubstrK = 10

  /** Maximal per-doc EXCISION spans of the ExactSubstr dedup (Lee et
    * al. 2022): for every duplicated K-token substring corpus-wide, the
    * first occurrence in (doc_id, position) order is canonical; every
    * other occurrence's gram positions merge into (doc_id, s_tok,
    * e_tok) spans. Shared by q207 (the positional span report) and
    * q209 (the cleaned-corpus rebuild). `toks` must carry (doc_id, tk:
    * array<string>).
    *
    * Shape: map-side native fingerprinting → checkpointed two-consumer
    * gram table → COMBINABLE min(struct) canonical aggregate (never a
    * per-gram window) → fingerprint equi-join mark-back → bounded
    * per-doc island-merge windows. See q207's header for the full
    * scale argument and SCALING.md r17 for the A/Bs. */
  private[graft] def exactSubstrSpans(toks: DataFrame, k: Int): DataFrame = {
    val grams = explodeLean(toks, Seq(col("doc_id")),
      expr(s"""transform(gram_hash60(tk, $k),
                 (g, i) -> named_struct('i', cast(i + 1 as bigint), 'g', g))"""),
      "gr")
      .select(col("doc_id"), col("gr.i").as("i"), col("gr.g").as("g"))
      // both consumers (canonical agg + mark-back join) read the
      // gram table: checkpoint so tokenize+fingerprint runs once
      .localCheckpoint()
    Scoped.releaseAfterUse(grams)
    val canon = grams.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("i"))).as("c"),
        count(lit(1)).as("nocc"))
      .filter(col("nocc") >= 2L)
      .select(col("g"), col("c.doc_id").as("cdoc"), col("c.i").as("ci"))
    val excise = grams.join(canon, Seq("g"))
      .filter(!(col("doc_id") === col("cdoc") && col("i") === col("ci")))
      .select(col("doc_id"), col("i"), (col("i") + (k - 1)).as("e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("i"))
    val up = org.apache.spark.sql.expressions.Window.unboundedPreceding
    excise
      .withColumn("pmax", max(col("e")).over(w.rowsBetween(up, -1)))
      .withColumn("ns",
        when(col("pmax").isNull || col("i") > col("pmax"), 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(w.rowsBetween(up, 0)))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("i")).as("s_tok"), max(col("e")).as("e_tok"))
  }

  /** DuckDB CTEs mirroring [[exactSubstrSpans]] over `documents` at
    * K = [[ExactSubstrK]]: `tks(doc_id, text, tk, …)` → `spans(doc_id,
    * sid, s_tok, e_tok)`. Shared oracle body of q207 and q209. */
  private val exactSubstrSpanCtes: String = {
    val k = ExactSubstrK
    s"""tks AS (
          SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
        g0 AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
            CAST(('0x' || substr(md5(array_to_string(
              tk[CAST(u.i AS BIGINT):(CAST(u.i AS BIGINT) + ${k - 1})], ' ')),
              1, 15)) AS BIGINT) AS g
          FROM tks, UNNEST(range(1, CAST(len(tk) AS BIGINT) - ${k - 2})) AS u(i)),
        rk AS (SELECT doc_id, i, g,
            row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
          FROM g0),
        ex AS (SELECT doc_id, i, i + ${k - 1} AS e FROM rk WHERE rn >= 2),
        mk AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM ex),
        mk2 AS (SELECT *,
            CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END AS ns
          FROM mk),
        mk3 AS (SELECT *, SUM(ns) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM mk2),
        spans AS (SELECT doc_id, sid, MIN(i) AS s_tok, MAX(e) AS e_tok
          FROM mk3 GROUP BY 1, 2)"""
  }

  /** (doc_id, m0..m15): the 16-permutation minhash SIGNATURE table — one
    * pass over the shingles. Every band LAYOUT derives from it map-only,
    * so a banding sweep ([[sketchEval]]) re-reads the signature table,
    * never the corpus. */
  private def minhashTable(sh: DataFrame): DataFrame = {
    val h = sh.select(col("doc_id"), (hash32(col("shingle")) % P).as("x"))
    val minAggs = (0 until numPerms).map(i => min(minhashPerm(col("x"), i)).as(s"m$i"))
    h.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
  }

  /** nb bands × rpb rows banding over a [[minhashTable]] (nb·rpb ≤ 16
    * perms); band signature = the "-"-joined row values. Map-only. */
  private def bandsOf(mh: DataFrame, nb: Int, rpb: Int): DataFrame = {
    require(nb * rpb <= numPerms, s"banding $nb x $rpb needs ${nb * rpb} perms, have $numPerms")
    val bandCols = (0 until nb).map { b =>
      struct(lit(b).as("band"),
        concat_ws("-", (0 until rpb).map(r => col(s"m${b * rpb + r}")): _*).as("sig"))
    }
    mh.select(col("doc_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** (doc_id, band, sig) LSH banding of a shingle table: 16 minhash perms
    * grouped into 4 bands of 4. Shared by self-dedup (q32) and
    * incremental dedup (q76). */
  private def minhashBands(sh: DataFrame): DataFrame =
    bandsOf(minhashTable(sh), numBands, rowsPerBand)

  /** DuckDB CTE pair `mh_<pfx>, bands_<pfx>` mirroring
    * [[minhashTable]] + [[bandsOf]] over the shingle CTE named
    * `sh_<pfx>`; `nb` × `rpb` is the band layout (defaults = the 4×4
    * production config [[minhashBands]] uses). */
  private def minhashBandsSql(pfx: String, nb: Int = numBands,
      rpb: Int = rowsPerBand): String = {
    val minSql = (0 until numPerms).map { i =>
      val (a, b) = perm(i)
      s"MIN(((('0x' || substr(md5(shingle), 1, 8))::BIGINT % $P) * $a + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSql = (0 until nb).map { b =>
      val sig = (0 until rpb).map(r => s"CAST(m${b * rpb + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band, $sig AS sig FROM mh_$pfx"
    }.mkString(" UNION ALL ")
    s"""mh_$pfx AS (SELECT doc_id, $minSql FROM sh_$pfx GROUP BY doc_id),
      bands_$pfx AS ($bandSql)"""
  }

  /** DuckDB CTEs mirroring [[shingles]]. */
  private val shinglesSql =
    """toks AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
      sh AS (SELECT DISTINCT doc_id,
               unnest(list_transform(range(0, greatest(len(ws) - 4, 0)),
                 i -> array_to_string(list_slice(ws, i + 1, i + 5), ' '))) AS shingle
             FROM toks)"""

  /** (a_i, b_i) of the i-th universal-hash permutation — must mirror
    * Portable.minhashPerm exactly. */
  private def perm(i: Int): (Long, Long) = {
    val a0 = 1103515245L * (i + 1) % P
    (if (a0 == 0L) 1L else a0, 12345L * (i + 7) % P)
  }

  private val numPerms = 16
  private val numBands = 4
  private val rowsPerBand = numPerms / numBands

  /** Portable double-precision cosine: identical element order and fold
    * order in Spark (`aggregate` with seed) and DuckDB (`list_reduce` over a
    * 0.0-prepended list). */
  /** Spark side uses the native codegen'd [[graft.functions.CosineSim]]
    * expression — one fused loop, bit-compatible with the HOF/oracle
    * formulation (same index-order double accumulation). */
  private[queries] def cosSpark(a: String, b: String): String = s"cosine_sim($a, $b)"

  /** DuckDB twin of [[graft.similarity.Ivf.cellCol]]: the SRP cell id of a
    * vector expression, with the same plane literals and the same ordered
    * left-fold dot product as the Spark side (and as q38's oracle). */
  private def srpCellSql(vec: String,
      bits: Int = graft.similarity.Ivf.DefaultBits): String = {
    import graft.similarity.Ivf
    (0 until bits).map { j =>
      val p = Ivf.plane(j, Ivf.DefaultDims)
      val dot = (0 until Ivf.DefaultDims)
        .map(d => s"(${p(d)}.0 * CAST($vec[${d + 1}] AS DOUBLE))")
        .mkString(" + ")
      s"(CASE WHEN ($dot) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** DuckDB mirror of [[graft.core.BlockPolicy.srpBits]]: the banded SRP
    * cell id, reading the corpus count from a `cnt` CTE the caller must
    * provide (`cnt AS (SELECT COUNT(*) AS n FROM embeddings)`) — both
    * engines pick the same width from the data (the q161 idiom; one
    * policy point per VERDICT r13 #7). */
  private def srpCellCaseSql(v: String): String =
    s"""CASE WHEN (SELECT n FROM cnt) >= 10000 THEN (${srpCellSql(v, 10)})
              WHEN (SELECT n FROM cnt) >= 2000 THEN (${srpCellSql(v, 6)})
              ELSE (${srpCellSql(v, 4)}) END"""

  private def dotDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(range(1, len($a) + 1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
  private[queries] def cosDuck(a: String, b: String): String =
    s"${dotDuck(a, b)} / (sqrt(${dotDuck(a, a)}) * sqrt(${dotDuck(b, b)}))"

  /** Shared DuckDB CTE chain producing sig(doc_id, simhash) — must mirror
    * q33's single-shuffle Spark formulation exactly. `tokCte` names the
    * occurrence CTE so a caller whose surrounding WITH already defines
    * `toks` (e.g. q122, which also includes [[shinglesSql]]) can pick a
    * non-colliding name instead of post-hoc string surgery (ADVICE r7). */
  private def simhashSql(tokCte: String = "toks", src: String = "documents"): String = {
    val sums = (0 until 32).map(i =>
      s"SUM(CASE WHEN ((('0x' || substr(md5(term), 1, 8))::BIGINT // ${1L << i}) % 2) = 1 THEN 1 ELSE -1 END) AS c$i")
      .mkString(", ")
    val assemble = (0 until 32).map(i =>
      s"(CASE WHEN c$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""WITH $tokCte AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-zA-Z]+')) AS term FROM $src),
      bits AS (SELECT doc_id, $sums FROM $tokCte GROUP BY doc_id),
      sig AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits)"""
  }

  /** sig(doc_id, simhash): tf-weighted SimHash in ONE shuffle — since
    * c_i = Σ_term tf·sign_i(term) = Σ_occurrence sign_i(term), the
    * per-(doc,term) tf stage AND the per-bit explode both collapse into
    * a single groupBy(doc) with `bits` conditional sums. At 100 TB that's
    * the difference between 1 shuffle of |occurrences| rows and 3
    * shuffles, one of them bits× |distinct terms|. Shared by q33 (sorted
    * view) and q34/q126 (pair search).
    *
    * `bits` (VERDICT r11 #2): 32 is the fixture-scale default the DuckDB
    * oracle reproduces with 32-bit md5 arithmetic; 64 is the scale
    * configuration (bit i<32 from md5 hex chars 1–8, bit i≥32 from chars
    * 9–16 — both oracle-reproducible). Wider signatures exist for the
    * BLOCKING space, which must grow with the corpus (see
    * [[simhashCandFrom]]); the sig shuffle shape is identical. */
  private[graft] def simhashSigFrom(docs: DataFrame, bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"simhash width must be 32 or 64, got $bits")
    val occ0 = explodeLean(docs, Seq(col("doc_id")),
      expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"), "term")
    val occ = if (bits == 32) occ0.withColumn("h", hash32(col("term")))
      else occ0.withColumn("h", hash32(col("term")))
        .withColumn("h2", conv(substring(md5(col("term")), 9, 8), 16, 10).cast("long"))
    val bitSums = (0 until bits).map { i =>
      val src = if (i < 32) "h" else "h2"
      sum(when(expr(s"($src div ${1L << (i % 32)}) % 2") === 1, 1L).otherwise(-1L)).as(s"c$i")
    }
    occ.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        // sum of distinct powers ≡ bitwise OR; at bits=64 the i=63 term is
        // 1L<<63 = Long.MinValue, and positive-sum + MinValue cannot
        // overflow, so the signed assembly is exact two's complement
        (0 until bits).map(i =>
          when(col(s"c$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  private def simhashSig(s: SparkSession, dir: String, bits: Int = 32): DataFrame =
    simhashSigFrom(t(s, dir, "documents"), bits)

  /** SimHash near-dup CANDIDATE pairs (id_a, id_b, ha, hb) via 4-block
    * bucketing (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 exact block match) —
    * shared by q34/q126 (pair list) and q49 (cluster assignment).
    * Materializes the signature table once (the block self-join would
    * otherwise run the full tokenize+sum aggregation on both sides) and
    * arms its release on the consumer's terminal action; a multi-action
    * consumer (q49) frees the checkpoint explicitly instead.
    *
    * The blocking space must GROW with the corpus (VERDICT r11 #2 — the
    * measured 1.53× sf0.1→sf1 slope at 32 bits is the n²/1024 candidate
    * term of a FIXED 4×8-bit pigeonhole space): at bits=64 the 4 blocks
    * are 16-bit, giving 4×65536 = 262,144 (block, value) buckets — 256×
    * today's space, with (blk, bval) simultaneously the join/shard key so
    * per-bucket pair generation stays node-local on a cluster. 32-bit
    * keeps the historical div/pow bucket expression bit-for-bit (the
    * pinned q34 plan); 64-bit uses shiftright+mask, which is exact bit
    * extraction for SIGNED signatures (truncating division is not: a
    * negative sig differing only in a low block would perturb the high
    * blocks' quotients and break the pigeonhole guarantee). */
  /** The production blocking width (VERDICT r12 #1): every composed
    * consumer of [[simhashCand]] — clustering (q49), survivors (q79),
    * split (q104), quality (q122), pipeline (q123), sketch eval (q124) —
    * runs at 64-bit/262,144-bucket blocking, the configuration whose
    * sf0.1→sf1 slope measured 0.37× linear vs 1.76× at 32 bits (the
    * q34→q126 A/B, SCALING.md). 32-bit survives ONLY as q34, retained
    * deliberately as the oracle-parity A/B control; `bits` has no
    * default so a new consumer must choose a width on purpose
    * (SimHashWidthSpec pins that 32 appears nowhere else). The value
    * lives in [[graft.core.BlockPolicy]] — the one policy point for
    * every blocked-pair width (VERDICT r13 #7). */
  private[graft] val ScaleBits = graft.core.BlockPolicy.SimHashScaleBits

  private[graft] def simhashCandFrom(docs: DataFrame, bits: Int): DataFrame = {
    val sig = simhashSigFrom(docs, bits).localCheckpoint()
    Scoped.releaseAfterUse(sig)
    val bval =
      if (bits == 32) expr("(simhash div cast(pow(2, blk * 8) as bigint)) % 256")
      else expr(s"shiftright(simhash, blk * ${bits / 4}) & ${(1L << (bits / 4)) - 1}")
    val blocks = sig.select(col("doc_id"), col("simhash"),
      explode(expr("sequence(0, 3)")).as("blk"))
      .withColumn("bval", bval)
    // Hot-bucket salting A/B'd and DECLINED (r22, VERDICT r21 #8): the
    // 64-bit bucket population IS heavy-tailed at sf1 (24,410 keys, p99
    // bucket 110, max 2,436 → ~3M of ~19.6M candidate probes from one
    // bucket's task), but Skew.saltedJoinHot(threshold 256, factor 16)
    // measured a net LOSS — q49 10.8→12.9, q79 10.6→13.0, q104
    // 13.4→15.2, q124 21.8→24.4 at sf1/32c (the marker join + hot-row
    // replication outweigh the straggler win; the hamming-fused probe is
    // too cheap per pair for the skew to bind), and the 32-bit control
    // path (q34) blew up to 68.9 s (its UNIFORM ~195-doc buckets all
    // crossed the threshold → wholesale ×16 replication of a space whose
    // quadratic overload is exactly what the 64-bit config exists to fix,
    // and what q34 deliberately preserves as the A/B control). Numbers in
    // OPTIMIZATION_r22.md; revisit only if a profile shows the hot-bucket
    // task as the actual straggler on cluster hardware.
    blocks.select(col("doc_id").as("id_a"), col("simhash").as("ha"), col("blk"), col("bval"))
      .join(blocks.select(col("doc_id").as("id_b"), col("simhash").as("hb"), col("blk"), col("bval")),
        Seq("blk", "bval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("ha"), col("hb")).distinct()
  }

  private def simhashCand(s: SparkSession, dir: String, bits: Int): DataFrame =
    simhashCandFrom(t(s, dir, "documents"), bits)

  /** DuckDB twin of [[simhashCand]] (appends to [[simhashSql]]'s CTEs). */
  private val simhashCandSql =
    """blocks AS (SELECT doc_id, simhash, blk,
            (simhash // CAST(POW(2, blk * 8) AS BIGINT)) % 256 AS bval
          FROM sig, (SELECT unnest(range(0, 4)) AS blk) bb),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            a.simhash AS ha, b.simhash AS hb
          FROM blocks a JOIN blocks b
          ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)"""

  /** DuckDB twin of the WIDENED 64-bit configuration (q126): bit i<32
    * from md5 hex chars 1–8, bit i≥32 from chars 9–16 — the same two
    * 32-bit integer extractions both engines already agree on. The i=63
    * power is spelled `(-9223372036854775807 - 1)` because the bare
    * MinValue literal overflows a signed-int64 parser; partial sums peak
    * at exactly 2^63−1 (bits 0–62) before the i=63 term lands, so the
    * checked BIGINT addition never overflows. */
  private def simhashSql64(tokCte: String = "toks", src: String = "documents"): String = {
    def pow(i: Int) =
      if (i == 63) "(-9223372036854775807 - 1)" else (1L << i).toString
    val sums = (0 until 64).map { i =>
      val src = if (i < 32) "('0x' || substr(md5(term), 1, 8))::BIGINT"
        else "('0x' || substr(md5(term), 9, 8))::BIGINT"
      s"SUM(CASE WHEN (($src // ${1L << (i % 32)}) % 2) = 1 THEN 1 ELSE -1 END) AS c$i"
    }.mkString(", ")
    val assemble = (0 until 64).map(i =>
      s"(CASE WHEN c$i > 0 THEN ${pow(i)} ELSE 0 END)").mkString(" + ")
    s"""WITH $tokCte AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-zA-Z]+')) AS term FROM $src),
      bits AS (SELECT doc_id, $sums FROM $tokCte GROUP BY doc_id),
      sig AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash FROM bits)"""
  }

  /** 4×16-bit blocks over the 64-bit sig: `>>` sign-extends in both
    * engines (verified) and the mask makes arithmetic-vs-logical moot —
    * exact bit extraction for signed signatures, where truncating
    * division would not be. */
  private val simhashCandSql64 =
    """blocks AS (SELECT doc_id, simhash, blk,
            (simhash >> CAST(blk * 16 AS INT)) & 65535 AS bval
          FROM sig, (SELECT unnest(range(0, 4)) AS blk) bb),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            a.simhash AS ha, b.simhash AS hb
          FROM blocks a JOIN blocks b
          ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)"""

  /** (doc_id, text) → (doc_id, hs: array<string>): per-doc DISTINCT md5
    * chunk hashes under content-defined chunking — MAP-ONLY, shared by
    * q111 (batch pair dedup) and
    * [[graft.streaming.EventStreams.cdcChunkStream]] (the ingest twin,
    * which needs a shuffle-free per-row shape to run on a stream).
    *
    * The rolling 4-char hash is a PURE SLIDING WINDOW (no reset at
    * boundaries — LBFS-style), so boundary detection needs no sequential
    * fold: three zip_with passes over shifted slices of the char-code
    * array compute every window hash, and an index-lambda transform turns
    * hash hits into boundary positions. All lambdas bind element VALUES
    * (`cs` is referenced 4×, so CollapseProject keeps it a materialized
    * attribute and the slices are O(1) array reads — never a per-index
    * re-evaluation). This replaced an aggregate() fold that allocated a
    * 5-field struct per character in interpreted eval: same boundaries,
    * ~20× cheaper per char (the fold measured 17 s for 1.5 MB of sf0.1
    * text on one core; see SCALING.md "Measurement discipline").
    *
    * Chunk-hash dedup is per-row array_distinct — doc_id is unique per
    * input row, so the exploded (doc_id, h) stream is already globally
    * distinct and no corpus-wide distinct() shuffle is needed (same
    * in-row-dedup discipline as q77's gram stream). Every input column
    * except `text` passes through (the stream twin needs its event-time
    * column). */
  private[graft] def cdcChunkHashArray(d: DataFrame): DataFrame = {
    val keep = d.columns.filterNot(_ == "text").map(col).toSeq
    d
    .withColumn("L", length(col("text")).cast("long"))
    .withColumn("cs", expr("transform(split(text, ''), ch -> cast(ascii(ch) as bigint))"))
    // h4[i] (0-based) = hash of 1-based chars [i+1 .. i+4]
    .withColumn("h4", expr(
      """zip_with(
           zip_with(
             zip_with(slice(cs, 1, greatest(L - 3, 0)),
                      slice(cs, 2, greatest(L - 3, 0)), (a, b) -> a * 31 + b),
             slice(cs, 3, greatest(L - 3, 0)), (a, b) -> a * 31 + b),
           slice(cs, 4, greatest(L - 3, 0)), (a, b) -> a * 31 + b)"""))
    // boundary at 1-based p = i + 4 ∈ [4, L) where h4[i] % 2^20 % 64 = 0
    // (drop h4's last entry: a boundary at p = L would duplicate the
    // sentinel). Same formula as the PropertySpec scalar model.
    .withColumn("bnds", expr(
      """concat(array(cast(0 as bigint)),
           filter(transform(slice(h4, 1, greatest(L - 4, 0)),
             (h, i) -> if(h % 1048576 % 64 = 0, cast(i + 4 as bigint), cast(-1 as bigint))),
             p -> p >= 0),
           array(L))"""))
    .select(keep :+ expr(
      """array_distinct(transform(
           filter(
             zip_with(slice(bnds, 1, size(bnds) - 1), slice(bnds, 2, size(bnds) - 1),
               (p, q) -> substring(text, cast(p + 1 as int), cast(q - p as int))),
             ck -> length(ck) >= 16),
           ck -> md5(ck)))""").as("hs"): _*)
  }

  /** The simhash hamming-≤3 edge list — the input q49's clustering and
    * [[splitAssignment]]'s self-contained path both consume (test hook for
    * the label-reuse contract). */
  private[graft] def simhashPairsForTest(s: SparkSession, dir: String): DataFrame =
    simhashCand(s, dir, ScaleBits)
      .filter(expr("bit_count(ha ^ hb)") <= 3)
      .select(col("id_a"), col("id_b"))

  /** Doc-level leakage-safe split assignment (q104's core): near-dup
    * clusters (simhash hamming ≤ 3, connected-componented) move into a
    * split ATOMICALLY — the split is decided by md5 of the cluster id, so
    * no near-duplicate pair ever straddles train/val/test. Singletons are
    * their own cluster. Returns documents + (cluster_id, split).
    *
    * `labels`: precomputed (v, comp) cluster labels — q49's output. A
    * pipeline that has already materialized the dedup clustering passes
    * them here and the split is ONE left join + a map over documents; the
    * simhash+CC pipeline is only recomputed when no labels are supplied
    * (the self-contained gate path). One-pipeline-feeds-many-consumers,
    * same discipline as q31/q32's shared shingle checkpoint (VERDICT r6
    * #5). The caller owns the storage lifecycle of labels it passes in. */
  def splitAssignment(s: SparkSession, dir: String,
      labels: Option[DataFrame] = None): DataFrame = {
    val lbl = labels.getOrElse {
      val cand = simhashCand(s, dir, ScaleBits)
      val l = graft.graph.ConnectedComponents.assign(
        cand.filter(expr("bit_count(ha ^ hb)") <= 3)
          .select(col("id_a"), col("id_b")))
      Scoped.free(cand)
      Scoped.releaseAfterUse(l)
      l
    }
    t(s, dir, "documents")
      .join(lbl.select(col("v").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("comp"), col("doc_id")))
      .withColumn("b",
        hash32(concat(lit("split:"), col("cluster_id").cast("string"))) % 100)
      .withColumn("split",
        when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
  }

  private val kmeansK = 4
  private val kmeansIters = 2

  /** q112's blocking-k scale rule (VERDICT r11 #3): a FIXED cluster count
    * makes the in-cluster pair space Σ|c|² ≈ n²/k grow superlinearly
    * (measured 1.22× linear at fixed k over 10× rows); k = n / target
    * keeps expected |c| — and with it per-cluster cosine work — constant,
    * so total pair work is ~n·target, linear. Floored at [[kmeansK]] so
    * every fixture scale point the DuckDB oracle covers (aug ≤ 2,200
    * rows at sf0.1) still computes k = 4, bit-identical to the unrolled
    * k=4 oracle CTEs; the scaled path engages above ~2.5k vectors (sf1's
    * 22,000 → k = 44, restoring the linear slope — SCALING.md). */
  private val semdedupTargetCluster = 500L
  private[graft] def semdedupK(n: Long): Int =
    math.max(kmeansK, (n / semdedupTargetCluster).toInt)

  /** Unrolled-CTE DuckDB twin of q103: c0 = seeds, then per round i an
    * assignment (a_i/s_i: nearest centroid, ties to smallest cluster) and
    * an update (c_i, with c_if carrying empty clusters' previous centroid
    * forward), then a final assignment against the last centroids. */
  private def kmeansSql: String =
    s"""WITH ${kmeansCtes("embeddings")}
        SELECT s.cluster, COUNT(*) AS n_points, CAST(SUM(s.dist) AS BIGINT) AS inertia,
          MIN(cs.cent_sum) AS cent_sum
        FROM s${kmeansIters + 1} s JOIN (SELECT cluster, CAST(SUM(c) AS BIGINT) AS cent_sum
          FROM c${kmeansIters}f GROUP BY cluster) cs ON cs.cluster = s.cluster
        GROUP BY s.cluster ORDER BY s.cluster"""

  /** The Lloyd-rounds CTE body alone (no WITH, no final SELECT), with the
    * (vec_id, embedding) source table pluggable — q103 runs it on the raw
    * `embeddings`, q112 on the planted-near-dup union, q130/q131 on
    * per-subspace slices (with a name prefix so several instances can
    * share one WITH). Exposes `${p}e` (quantized dims), `${p}c${iters}f`
    * (final centroids) and `${p}s${iters + 1}` (final assignment). */
  private def kmeansCtes(src: String, p: String = ""): String = {
    val k = kmeansK
    def asg(i: Int, cprev: String) =
      s"""${p}a$i AS (SELECT e.vec_id, c.cluster, SUM((e.v - c.c) * (e.v - c.c)) AS dist
          FROM ${p}e e JOIN $cprev c ON c.dim = e.dim GROUP BY e.vec_id, c.cluster),
        ${p}s$i AS (SELECT vec_id, cluster, CAST(dist AS BIGINT) AS dist FROM (
            SELECT vec_id, cluster, dist,
              row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rk
            FROM ${p}a$i) WHERE rk = 1)"""
    def upd(i: Int) =
      s"""${p}c$i AS (SELECT s.cluster, e.dim,
            CAST(floor(CAST(SUM(e.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
          FROM ${p}s$i s JOIN ${p}e e ON e.vec_id = s.vec_id GROUP BY s.cluster, e.dim),
        ${p}c${i}f AS (SELECT * FROM ${p}c$i UNION ALL
          SELECT pv.cluster, pv.dim, pv.c FROM ${p}c${i - 1}f pv
          WHERE pv.cluster NOT IN (SELECT DISTINCT cluster FROM ${p}c$i))"""
    val rounds = (1 to kmeansIters)
      .map(i => s"${asg(i, s"${p}c${i - 1}f")},\n        ${upd(i)}").mkString(",\n        ")
    val fin = kmeansIters + 1
    s"""${p}e AS (SELECT vec_id,
            generate_subscripts(embedding, 1) - 1 AS dim,
            CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 4096.0 + 0.5) AS BIGINT) AS v
          FROM $src),
        ${p}c0f AS (SELECT vec_id AS cluster, dim, v AS c FROM ${p}e WHERE vec_id < $k),
        $rounds,
        ${asg(fin, s"${p}c${kmeansIters}f")}"""
  }

  // ---- product quantization (q130/q131): M fixed subspaces, one small
  // codebook per subspace, codes = nearest centroid per slice.
  private val pqM = 4
  private val pqSub = 16 // 64 embedding dims / 4 subspaces

  /** Fit per-subspace PQ codebooks with the shared integer-exact Lloyd
    * loop ([[graft.similarity.KMeans.fit]]) — k = [[kmeansK]] codes per
    * subspace at fixture scale (production PQ uses 256; the shape is
    * identical, only the literal array widths grow). The collected
    * codebooks are M·k·(dims/M) longs — bytes on the driver. */
  private def pqFit(eqCp: DataFrame): Array[Array[Array[Long]]] =
    Array.tabulate(pqM) { m =>
      graft.similarity.KMeans.fit(
        eqCp.select(col("vec_id"),
          expr(s"slice(eq, ${m * pqSub + 1}, $pqSub)").as("eq")),
        k = kmeansK, iters = kmeansIters)
    }

  /** Sliced-embedding source for subspace `m` (DuckDB side of pqFit). */
  private def pqSrcSql(m: Int) =
    s"(SELECT vec_id, embedding[${m * pqSub + 1}:${(m + 1) * pqSub}] AS embedding FROM embeddings)"

  /** DuckDB twin of the SRP-IVF quantizer + multi-probe (q38's oracle,
    * shared with q118's nDCG eval): plane coefficients embedded as
    * literals, every dot the same ordered left-fold as the Scala side,
    * probe ranking (flip-cost, cell) in SQL. Exposes CTEs `q` (query
    * vector), `probe` (probed cells), `idx` (indexed vectors + cell). */
  private def srpIvfOracleCtes(nprobe: Int = 32): String = {
    import graft.similarity.Ivf
    val nbits = Ivf.DefaultBits
    val dims = Ivf.DefaultDims
    // ordered left-fold dot of plane j against a vector expression
    def dotSql(j: Int, vec: String) = (0 until dims)
      .map(d => s"(${Ivf.plane(j, dims)(d)}.0 * CAST($vec[${d + 1}] AS DOUBLE))")
      .mkString(" + ")
    val dCols = (0 until nbits).map(j => s"(${dotSql(j, "qv")}) AS d$j").mkString(", ")
    val cell0 = (0 until nbits)
      .map(j => s"(CASE WHEN d$j > 0 THEN ${1 << j} ELSE 0 END)").mkString(" + ")
    val margins = (0 until nbits).map(j => s"ABS(d$j) AS m$j").mkString(", ")
    val cost = (0 until nbits)
      .map(j => s"(CASE WHEN (xor(r.c, cell0) >> $j) & 1 = 1 THEN m$j ELSE 0.0 END)")
      .mkString(" + ")
    val dataCell = (0 until nbits)
      .map(j => s"(CASE WHEN (${dotSql(j, "embedding")}) > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          d AS (SELECT $dCols FROM q),
          c0 AS (SELECT $cell0 AS cell0, $margins FROM d),
          cand AS (SELECT r.c AS cell, ($cost) AS cost
                   FROM (SELECT unnest(range(0, ${1 << nbits})) AS c) r, c0),
          probe AS (SELECT cell FROM cand ORDER BY cost, cell LIMIT $nprobe),
          idx AS (SELECT vec_id, label, embedding, ($dataCell) AS cell
                  FROM embeddings WHERE vec_id <> 0)"""
  }

  /** Exact jaccard-≥0.5 ground-truth pairs over a shingle table — the
    * eval-side all-pairs-by-shingle join shared by the q114 (MinHash) and
    * q122 (SimHash) sketch-quality gates. Intentionally quadratic: it IS
    * the ground truth, run unsampled at fixture scale and on a
    * deterministic sample at corpus scale (see [[lshRecall]]). */
  /** Deterministic md5-bucket doc filter on a (doc_id, …) table — q48's
    * seed-free sampling mechanism, shared by the sketch-quality evals'
    * EXACT sides (q114 via [[lshRecall]], q122 via [[simhashQuality]]).
    * Keeps a doc iff hash32(salt ++ doc_id) % 10000 < ⌊fraction·10⁴⌋, so
    * the sample is re-run-stable and nested across fractions. At 1.0 the
    * input is returned unchanged (no filter node): the catalog gates run
    * there, so their plans and hashes are identical to the unsampled
    * eval and the DuckDB oracles need no sampling twin. */
  private def sampleDocs(df: DataFrame, salt: String, fraction: Double,
      idCol: String = "doc_id"): DataFrame = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $fraction")
    if (fraction >= 1.0) df
    else df.filter(
      hash32(concat(lit(salt), col(idCol).cast("string"))) % 10000 <
        lit(math.floor(fraction * 10000).toLong))
  }

  private def exactJaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.select(col("doc_id").as("id_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .filter(col("common").cast("double") / (col("na") + col("nb") - col("common")) >= 0.5)
      .select(col("id_a"), col("id_b"))
  }

  /** q114's core, parameterized: recall/precision of the MinHash band-join
    * candidate set (16 perms, 4×4 banding) against the exact jaccard-≥0.5
    * ground truth. `sampleFraction` bounds the EXACT side at scale: the
    * all-pairs-by-shingle ground-truth join is the one intentionally
    * unscalable shape in the dedup family, so at a real corpus it runs
    * only over a deterministic md5-bucket sample of docs (q48's
    * mechanism — seed-free, re-run-stable; both endpoints of a kept pair
    * must land in the sample). Pair recall estimated on a doc sample is
    * the standard sketch-eval estimator; `n_cand` stays the FULL candidate
    * count (it measures the verification work the banding induces, which
    * is a property of the whole corpus, not the sample). At the default
    * 1.0 the sample filter is absent and plan and result are identical to
    * the unsampled eval — the catalog gate runs there, so the DuckDB
    * oracle needs no sampling twin. */
  def lshRecall(s: SparkSession, dir: String, sampleFraction: Double = 1.0): DataFrame = {
    val shAll = shingles(s, dir).localCheckpoint()
    Scoped.releaseAfterUse(shAll)
    val exact = exactJaccardPairs(sampleDocs(shAll, "lshs:", sampleFraction))
    val bands = minhashBands(shAll)
    val cand = bands.select(col("doc_id").as("id_a"), col("band"), col("sig"))
      .join(bands.select(col("doc_id").as("id_b"), col("band"), col("sig")), Seq("band", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
      .select(col("n_exact"), col("n_cand"), col("n_hit"), col("recall"))
  }

  /** q122's core, parameterized: precision/recall of the hamming-≤3
    * simhash block-bucketed pairs ([[ScaleBits]] — q126's production
    * config; the eval measures the width that actually ships) against the exact
    * jaccard-≥0.5 ground truth — [[lshRecall]]'s measure-the-sketch
    * discipline for the OTHER sketch family, with the SAME scale bound:
    * `sampleFraction` restricts the all-pairs-by-shingle exact side to a
    * deterministic md5-bucket doc sample ([[sampleDocs]]; a kept pair
    * needs BOTH endpoints in the sample). Metric semantics under
    * sampling: `recall` = n_hit / n_exact is the standard sampled-pair
    * estimator; `prec` divides by the predicted pairs whose endpoints
    * are BOTH in the sample (unbiased — dividing by the full predicted
    * count would deflate precision by the sample rate squared), while
    * `n_pred` stays the FULL candidate count (it measures the
    * verification work the bucketing induces, a whole-corpus property).
    * At the default 1.0 no filter node exists, plan and result are
    * identical to the unsampled eval, and prec = n_hit / n_pred — the
    * catalog gate runs there for fixture corpora, so the DuckDB oracle
    * needs no sampling twin; past `BlockPolicy.ExactEvalDocBudget` docs
    * the gate derives fraction = budget/n (see the q122 entry). The
    * recall estimate ships with its 95% normal-approximation CI
    * (`recall_lo`/`recall_hi`, 1e-4-quantized) so a sampled eval's
    * uncertainty is part of the answer. */
  def simhashQuality(s: SparkSession, dir: String, sampleFraction: Double = 1.0,
      hamMax: Int = 3): DataFrame = {
    // 4-block bucketing (16-bit blocks at ScaleBits) pigeonholes
    // hamming ≤ 3, so any tighter threshold filters a superset candidate
    // list and stays exact
    require(hamMax >= 0 && hamMax <= 3, s"hamMax must be in [0, 3], got $hamMax")
    val sh = shingles(s, dir).localCheckpoint()
    Scoped.releaseAfterUse(sh)
    val exact = exactJaccardPairs(sampleDocs(sh, "shq:", sampleFraction))
    val cand = simhashCand(s, dir, ScaleBits)
    val pred = cand.filter(expr("bit_count(ha ^ hb)") <= hamMax)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // consumed twice below (semi join + counts)
    Scoped.free(cand) // releases the sig checkpoint behind the plan
    Scoped.releaseAfterUse(pred)
    val hit = exact.join(pred, Seq("id_a", "id_b"), "left_semi")
    val counts = exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(pred.agg(count(lit(1)).as("n_pred")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
    val withDenom = // prec denominator: sample-endpoint preds (= n_pred at 1.0)
      if (sampleFraction >= 1.0) counts.withColumn("n_pred_s", col("n_pred"))
      else counts.crossJoin(
        sampleDocs(sampleDocs(pred, "shq:", sampleFraction, "id_a"),
            "shq:", sampleFraction, "id_b")
          .agg(count(lit(1)).as("n_pred_s")))
    // 95% normal-approximation CI of the recall estimate (VERDICT r14
    // #3): under sampling the estimator's uncertainty is part of the
    // answer, so it ships in the schema; at fraction 1.0 the same
    // binomial-proportion interval reads as exact-eval resolution.
    // Quantized on the 1e-4 grid (IEEE-identical in both engines).
    val half = lit(1.96) * sqrt(col("recall") * (lit(1.0) - col("recall")) / col("n_exact"))
    withDenom
      .withColumn("prec", col("n_hit").cast("double") / col("n_pred_s"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
      .withColumn("recall_lo", when(col("n_exact") > 0,
        floor(greatest(lit(0.0), col("recall") - half) * 1e4 + 0.5) / 1e4))
      .withColumn("recall_hi", when(col("n_exact") > 0,
        floor(least(lit(1.0), col("recall") + half) * 1e4 + 0.5) / 1e4))
      .select(col("n_exact"), col("n_pred"), col("n_hit"),
        col("prec"), col("recall"), col("recall_lo"), col("recall_hi"))
  }

  /** DuckDB twin of [[sketchEval]]'s SRP rows (exact-vs-probe top-10 overlap). */
  private def srpRecallSql(nprobe: Int = 32): String =
    s"""WITH ${srpIvfOracleCtes(nprobe)},
        exs AS (SELECT vec_id,
            floor(${cosDuck("embedding", "qv")} * 10000.0 + 0.5) / 10000.0 AS sim
          FROM embeddings, q WHERE vec_id <> 0),
        ex10 AS (SELECT vec_id FROM (SELECT vec_id,
            row_number() OVER (ORDER BY sim DESC, vec_id) AS r FROM exs)
          WHERE r <= 10),
        anns AS (SELECT vec_id,
            floor(${cosDuck("embedding", "qv")} * 10000.0 + 0.5) / 10000.0 AS sim
          FROM idx, q WHERE cell IN (SELECT cell FROM probe)),
        ann10 AS (SELECT vec_id FROM (SELECT vec_id,
            row_number() OVER (ORDER BY sim DESC, vec_id) AS r FROM anns)
          WHERE r <= 10),
        hit AS (SELECT ex10.vec_id FROM ex10
                JOIN ann10 ON ann10.vec_id = ex10.vec_id)
        SELECT (SELECT COUNT(*) FROM ex10) AS n_exact,
          (SELECT COUNT(*) FROM ann10) AS n_cand,
          (SELECT COUNT(*) FROM hit) AS n_hit,
          CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
            / (SELECT COUNT(*) FROM ex10) AS recall"""

  /** Unified sketch-eval harness (VERDICT r7 #7): ONE family-tagged eval
    * row per sketch CONFIGURATION, all under the same measure-the-sketch
    * shape — n_exact (ground-truth size), n_cand (the verification work
    * the sketch induces), n_hit, recall. Configs swept: MinHash-LSH 4×4
    * vs 8×2 banding and SimHash hamming ≤ 3 vs ≤ 2 against the exact
    * jaccard-≥0.5 pair ground truth; SRP-IVF 32- vs 8-probe against the
    * exact cosine top-10.
    *
    * Sweep economics — the point of the harness: expensive intermediates
    * are computed ONCE and every config derives map-only. The shingle
    * table feeds both the ground truth and the 16-perm
    * [[minhashTable]]; band layouts are projections of that table
    * ([[bandsOf]]), never a second corpus pass. The simhash candidate
    * list (with hamming distances) is checkpointed once; thresholds are
    * filters over it. The exact jaccard side (the one quadratic shape)
    * runs once, `sampleFraction`-bounded at corpus scale
    * ([[sampleDocs]]), and is shared by all four pair-sketch rows. All
    * rows fuse into one action, so every armed checkpoint releases on
    * the single gate action. At 1.0 the 4×4 and ham≤3 rows equal
    * q114/q122's gate numbers (ApproxSpec pins this). Adding a config is
    * one more row — the round-9 sweep extension point. */
  def sketchEval(s: SparkSession, dir: String, sampleFraction: Double = 1.0): DataFrame = {
    val sh = shingles(s, dir).localCheckpoint()
    val exact = exactJaccardPairs(sampleDocs(sh, "lshs:", sampleFraction))
      .localCheckpoint()
    val mh = minhashTable(sh).localCheckpoint()
    Scoped.free(sh) // both consumers materialized — release the shingles now
    Scoped.releaseAfterUse(exact, mh)
    val candAll = simhashCand(s, dir, ScaleBits)
    val predAll = candAll
      .select(col("id_a"), col("id_b"), expr("bit_count(ha ^ hb)").as("ham"))
      .filter(col("ham") <= 3)
      .localCheckpoint()
    Scoped.free(candAll) // releases the sig checkpoint behind the plan
    Scoped.releaseAfterUse(predAll)
    def row(name: String, cand: DataFrame): DataFrame = {
      val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
      exact.agg(count(lit(1)).as("n_exact"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
        .select(lit(name).as("family"),
          col("n_exact"), col("n_cand"), col("n_hit"), col("recall"))
    }
    def lshCand(nb: Int, rpb: Int): DataFrame = {
      val bands = bandsOf(mh, nb, rpb)
      bands.select(col("doc_id").as("id_a"), col("band"), col("sig"))
        .join(bands.select(col("doc_id").as("id_b"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
    }
    // the SRP configs share their expensive sides too: ONE brute-force
    // exact top-10 (the full-scan cosine pass — at scale the sampled
    // probe set's ground truth) and ONE built index; only the probed
    // cell set differs per config
    import graft.similarity.Ivf
    val e = t(s, dir, "embeddings")
    val qvec = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0) // driver artifact: probe cells
    val probe = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
    def top10(df: DataFrame): DataFrame = df.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        (floor(expr(cosSpark("embedding", "qv")) * 1e4 + 0.5) / 1e4).as("sim"))
      .orderBy(desc("sim"), asc("vec_id")).limit(10) // TakeOrdered
    val exactTop = top10(e.filter(col("vec_id") =!= 0)).localCheckpoint()
    val idx = Ivf.buildIndex(e.filter(col("vec_id") =!= 0),
      "embedding", Ivf.DefaultBits, Ivf.DefaultDims).localCheckpoint()
    Scoped.releaseAfterUse(exactTop, idx)
    def srpRow(name: String, nprobe: Int): DataFrame = {
      val cells = Ivf.probeCellsForQuery(qvec, Ivf.DefaultBits, nprobe)
      val annTop = top10(idx.filter(col("cell").isin(cells: _*)))
      val hit = exactTop.select("vec_id")
        .join(annTop.select("vec_id"), Seq("vec_id"), "left_semi")
      exactTop.agg(count(lit(1)).as("n_exact"))
        .crossJoin(annTop.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
        .select(lit(name).as("family"),
          col("n_exact"), col("n_cand"), col("n_hit"), col("recall"))
    }
    row("minhash_lsh_4x4", lshCand(4, 4))
      .unionByName(row("minhash_lsh_8x2", lshCand(8, 2)))
      .unionByName(row("simhash_ham3",
        predAll.filter(col("ham") <= 3).select(col("id_a"), col("id_b"))))
      .unionByName(row("simhash_ham2",
        predAll.filter(col("ham") <= 2).select(col("id_a"), col("id_b"))))
      .unionByName(srpRow("srp_ivf_p32", 32))
      .unionByName(srpRow("srp_ivf_p8", 8))
      .orderBy(col("family"))
  }

  /** DuckDB twin of [[simhashQuality]] (unsampled — the gate runs there,
    * where prec = n_hit / n_pred). Complete WITH…SELECT, reused by q122
    * and (wrapped, family-tagged) by q124's unified sketch eval. */
  private def simhashQualitySql(hamMax: Int = 3): String =
    s"""WITH $shinglesSql,
        ${simhashSql64("occt").replaceFirst("WITH ", "")},
        $simhashCandSql64,
        pred AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= $hamMax),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        ex AS (SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) p
          JOIN sizes na ON na.doc_id = p.id_a
          JOIN sizes nb ON nb.doc_id = p.id_b
          WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5),
        hit AS (SELECT ex.id_a, ex.id_b FROM ex
                JOIN pred ON pred.id_a = ex.id_a AND pred.id_b = ex.id_b),
        m AS (SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
          (SELECT COUNT(*) FROM pred) AS n_pred,
          (SELECT COUNT(*) FROM hit) AS n_hit)
        SELECT n_exact, n_pred, n_hit,
          CAST(n_hit AS DOUBLE) / n_pred AS prec,
          CAST(n_hit AS DOUBLE) / n_exact AS recall,
          CASE WHEN n_exact > 0 THEN
            floor(greatest(CAST(0.0 AS DOUBLE), CAST(n_hit AS DOUBLE) / n_exact
              - CAST(1.96 AS DOUBLE) * sqrt((CAST(n_hit AS DOUBLE) / n_exact)
                * (1.0 - CAST(n_hit AS DOUBLE) / n_exact) / n_exact))
              * 10000.0 + 0.5) / 10000.0 END AS recall_lo,
          CASE WHEN n_exact > 0 THEN
            floor(least(CAST(1.0 AS DOUBLE), CAST(n_hit AS DOUBLE) / n_exact
              + CAST(1.96 AS DOUBLE) * sqrt((CAST(n_hit AS DOUBLE) / n_exact)
                * (1.0 - CAST(n_hit AS DOUBLE) / n_exact) / n_exact))
              * 10000.0 + 0.5) / 10000.0 END AS recall_hi
        FROM m"""

  /** DuckDB twin of [[lshRecall]] (unsampled — the gate runs there).
    * A complete WITH…SELECT, reused verbatim by q114 and (wrapped as a
    * subquery with a family tag) by q124's unified sketch eval. */
  private def lshRecallSql(nb: Int = numBands, rpb: Int = rowsPerBand): String =
    s"""WITH $shinglesSql,
        sh_s AS (SELECT doc_id, shingle FROM sh),
        ${minhashBandsSql("s", nb, rpb)},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        ex AS (SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) p
          JOIN sizes na ON na.doc_id = p.id_a
          JOIN sizes nb ON nb.doc_id = p.id_b
          WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands_s a JOIN bands_s b
                 ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        hit AS (SELECT ex.id_a, ex.id_b FROM ex
                JOIN cand ON cand.id_a = ex.id_a AND cand.id_b = ex.id_b)
        SELECT (SELECT COUNT(*) FROM ex) AS n_exact,
          (SELECT COUNT(*) FROM cand) AS n_cand,
          (SELECT COUNT(*) FROM hit) AS n_hit,
          CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
            / (SELECT COUNT(*) FROM ex) AS recall"""

  /** The DuckDB twin of [[pcaPowerIteration]] — q217's recursive-CTE
    * replay over [[covGridCtes]], walking the identical integer grid. */
  private val pcaPowerSql: String =
    s"""WITH RECURSIVE $covGridCtes,
        fullcov AS (SELECT i, j, cov6 FROM cov
          UNION ALL SELECT j AS i, i AS j, cov6 FROM cov WHERE i <> j),
        dims AS (SELECT DISTINCT i FROM fullcov),
        it AS (
          SELECT 0 AS t, i, CAST(1000000 AS BIGINT) AS vq,
            CAST(0 AS BIGINT) AS mxw
          FROM dims
          UNION ALL
          SELECT * FROM (
            SELECT w.t, w.i,
              CAST(floor(CAST(w.w AS DOUBLE) / (MAX(abs(w.w)) OVER ()) * 1e6
                + 0.5) AS BIGINT) AS vq,
              MAX(abs(w.w)) OVER () AS mxw
            FROM (SELECT v.t + 1 AS t, f.i, SUM(f.cov6 * v.vq) AS w
                  FROM it v JOIN fullcov f ON f.j = v.i
                  WHERE v.t < 12 GROUP BY 1, 2) w) x),
        tr AS (SELECT CAST(SUM(cov6) AS BIGINT) AS trace6 FROM cov
          WHERE i = j),
        lam AS (SELECT mxw // 1000000 AS eigen6 FROM it
          WHERE t = 12 AND i = (SELECT MIN(i) FROM dims)),
        res AS (
          SELECT 'pc1' AS kind, i, vq AS v FROM it WHERE t = 12
          UNION ALL SELECT 'eigen6', CAST(0 AS BIGINT), eigen6 FROM lam
          UNION ALL SELECT 'trace6', CAST(0 AS BIGINT), trace6 FROM tr
          UNION ALL SELECT 'evr4', CAST(0 AS BIGINT),
            eigen6 * 10000 // trace6 FROM lam, tr
          UNION ALL SELECT 'delta', CAST(0 AS BIGINT),
            (SELECT CAST(SUM(abs(a.vq - b.vq)) AS BIGINT) FROM it a
             JOIN it b ON a.i = b.i AND b.t = 11 WHERE a.t = 12))
        SELECT kind, i, v FROM res ORDER BY kind, i"""

  /** The DuckDB twin of [[pcaDeflation]] — two recursive walks in one
    * WITH RECURSIVE; the shared stages are MATERIALIZED so the second
    * recursion cannot re-expand the covariance chain per hop (DuckDB
    * inlines a plain CTE at every reference). */
  private val pcaDeflationSql: String =
    s"""WITH RECURSIVE $covGridCtes,
        fullcov AS MATERIALIZED (SELECT i, j, cov6 FROM cov
          UNION ALL SELECT j AS i, i AS j, cov6 FROM cov WHERE i <> j),
        dims AS (SELECT DISTINCT i FROM fullcov),
        it AS (
          SELECT 0 AS t, i, CAST(1000000 AS BIGINT) AS vq,
            CAST(0 AS BIGINT) AS mxw
          FROM dims
          UNION ALL
          SELECT * FROM (
            SELECT w.t, w.i,
              CAST(floor(CAST(w.w AS DOUBLE) / (MAX(abs(w.w)) OVER ()) * 1e6
                + 0.5) AS BIGINT) AS vq,
              MAX(abs(w.w)) OVER () AS mxw
            FROM (SELECT v.t + 1 AS t, f.i, SUM(f.cov6 * v.vq) AS w
                  FROM it v JOIN fullcov f ON f.j = v.i
                  WHERE v.t < 12 GROUP BY 1, 2) w) x),
        v1 AS MATERIALIZED (SELECT i, vq FROM it WHERE t = 12),
        lam1 AS MATERIALIZED (SELECT mxw // 1000000 AS eigen6 FROM it
          WHERE t = 12 AND i = (SELECT MIN(i) FROM dims)),
        defl AS MATERIALIZED (SELECT f.i, f.j,
            f.cov6 - CAST(floor(CAST(l.eigen6 AS DOUBLE)
              * CAST(a.vq AS DOUBLE) / 1e6
              * CAST(b.vq AS DOUBLE) / 1e6 + 0.5) AS BIGINT) AS cov6
          FROM fullcov f
          JOIN v1 a ON a.i = f.i
          JOIN v1 b ON b.i = f.j, lam1 l),
        it2 AS (
          SELECT 0 AS t, i, CAST(1000000 AS BIGINT) AS vq,
            CAST(0 AS BIGINT) AS mxw
          FROM dims
          UNION ALL
          SELECT * FROM (
            SELECT w.t, w.i,
              CAST(floor(CAST(w.w AS DOUBLE) / (MAX(abs(w.w)) OVER ()) * 1e6
                + 0.5) AS BIGINT) AS vq,
              MAX(abs(w.w)) OVER () AS mxw
            FROM (SELECT v.t + 1 AS t, f.i, SUM(f.cov6 * v.vq) AS w
                  FROM it2 v JOIN defl f ON f.j = v.i
                  WHERE v.t < 12 GROUP BY 1, 2) w) x),
        v2 AS (SELECT i, vq FROM it2 WHERE t = 12),
        lam2 AS (SELECT mxw // 1000000 AS eigen6_2 FROM it2
          WHERE t = 12 AND i = (SELECT MIN(i) FROM dims)),
        tr AS (SELECT CAST(SUM(cov6) AS BIGINT) AS trace6 FROM cov
          WHERE i = j),
        dot AS (SELECT CAST(SUM(a.vq * b.vq) AS BIGINT) AS dot12
          FROM v1 a JOIN v2 b ON a.i = b.i),
        res AS (
          SELECT 'pc2' AS kind, i, vq AS v FROM v2
          UNION ALL SELECT 'eigen6_1', CAST(0 AS BIGINT), eigen6 FROM lam1
          UNION ALL SELECT 'eigen6_2', CAST(0 AS BIGINT), eigen6_2 FROM lam2
          UNION ALL SELECT 'trace6', CAST(0 AS BIGINT), trace6 FROM tr
          UNION ALL SELECT 'evr4_1', CAST(0 AS BIGINT),
            eigen6 * 10000 // trace6 FROM lam1, tr
          UNION ALL SELECT 'evr4_2', CAST(0 AS BIGINT),
            eigen6_2 * 10000 // trace6 FROM lam2, tr
          UNION ALL SELECT 'dot12', CAST(0 AS BIGINT), dot12 FROM dot)
        SELECT kind, i, v FROM res ORDER BY kind, i"""


  val catalog: Seq[(String, Q, Option[String])] = Seq(

    // ---- exact dedup: content-hash groupBy, canonical = min doc_id.
    // The fixture corpus contains no exact duplicates, so the gate would
    // pass vacuously on 0 = 0 (VERDICT r4 "missing" #1) — the derivation
    // PLANTS duplicates by unioning an id-shifted copy of every 50th doc,
    // so the dup-group path (group > 1, canonical = min) is hash-verified
    // against non-empty output. The oracle mirrors the same derivation.
    ("q30_dedup_exact",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val aug = d.unionByName(
          d.filter(col("doc_id") % 50 === 0)
            .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
        aug
          .groupBy(md5(col("text")).as("content_hash"))
          .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("canonical_id"))
          .filter(col("n_dups") > 1)
          .orderBy(col("canonical_id"))
      },
      Some("""WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 50 = 0)
        SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
        MIN(doc_id) AS canonical_id
        FROM aug GROUP BY md5(text) HAVING COUNT(*) > 1
        ORDER BY canonical_id""")),

    // ---- n-gram Jaccard near-dup via shingle equi-join. Since the r17
    // fingerprint switch the `jaccard` column is HASH-based Jaccard
    // (ADVICE r17): shingles compare by 60-bit gram_hash60 equality, so
    // a 2^-60-rate fingerprint collision merges two distinct shingle
    // strings identically on BOTH engines — the gate cannot detect it,
    // and the reported value can differ from true string-equality
    // Jaccard at that rate. Accepted: at 2^-60 the expected error is
    // zero for any feasible corpus, and the MinHash family (q32–q34)
    // keeps string shingles where the signature contract demands them.
    ("q31_ngram_jaccard",
      (s: SparkSession, dir: String) => {
        // The shingle set feeds three consumers (self-join ×2 + sizes) —
        // materialize it once instead of re-running regex+explode+distinct
        // per consumer, and release the blocks as soon as the query's
        // terminal action completes (a long-lived session must not
        // accumulate one shingle table per dedup run). (At 100 TB this is
        // persist-to-disk of the shingle table, the standard shape for
        // multi-pass dedup.) Shingles ride the 60-bit fingerprint
        // ([[shingleHashes]], r17) — equality-only consumer.
        val sh = shingleHashes(s, dir).localCheckpoint()
        Scoped.releaseAfterUse(sh)
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val pairs = sh.select(col("doc_id").as("id_a"), col("shingle"))
          .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("shingle"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("common"))
        pairs
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
          .filter(col("common").cast("double") / (col("na") + col("nb") - col("common")) >= 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("common").cast("double") / (col("na") + col("nb") - col("common")), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH $shingleHashesSql,
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
                  FROM shh a JOIN shh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
          ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 4) AS jaccard
        FROM pairs JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5
        ORDER BY id_a, id_b""")),

    // ---- MinHash + LSH banding → candidates → Jaccard verify (scale path)
    ("q32_minhash_lsh",
      (s: SparkSession, dir: String) => {
        // Four consumers (minhash input, sizes, verify join ×2) — same
        // materialize-once + release-after-use rationale as q31.
        val sh = shingles(s, dir).localCheckpoint()
        Scoped.releaseAfterUse(sh)
        val bands = minhashBands(sh)
        val cand = bands.select(col("doc_id").as("id_a"), col("band"), col("sig"))
          .join(bands.select(col("doc_id").as("id_b"), col("band"), col("sig")), Seq("band", "sig"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val common = cand
          .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
          .filter(col("common").cast("double") / (col("na") + col("nb") - col("common")) >= 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("common").cast("double") / (col("na") + col("nb") - col("common")), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        // single SQL generator shared with q76 — one place must mirror
        // Portable.minhashPerm, not two
        s"""WITH $shinglesSql,
          sh_s AS (SELECT doc_id, shingle FROM sh),
          ${minhashBandsSql("s")},
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands_s a JOIN bands_s b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          common AS (SELECT c.id_a, c.id_b, COUNT(*) AS common
                     FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                     JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
                     GROUP BY c.id_a, c.id_b)
          SELECT id_a, id_b,
            ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 4) AS jaccard
          FROM common JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
          WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5
          ORDER BY id_a, id_b"""
      }),

    // ---- SimHash fingerprints (see simhashSig for the one-shuffle shape)
    ("q33_simhash",
      (s: SparkSession, dir: String) =>
        simhashSig(s, dir).orderBy(col("doc_id")),
      Some(simhashSql() + " SELECT doc_id, simhash FROM sig ORDER BY doc_id")),

    // ---- SimHash near-dup pairs via 4×8-bit block bucketing
    // (hamming ≤ 3 ⇒ at least one of the 4 blocks matches exactly —
    // avoids the all-pairs cross join at scale). DELIBERATELY the last
    // 32-bit call site (VERDICT r12 #1): q34 is the oracle-parity A/B
    // control for the q126 scale config that every composed consumer
    // now runs on ([[ScaleBits]]); its fixed 1024-bucket space is the
    // measured 1.76×-linear slope the A/B demonstrates.
    ("q34_simhash_pairs",
      (s: SparkSession, dir: String) => {
        simhashCand(s, dir, bits = 32)
          .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
          .filter(col("hamming") <= 3)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""${simhashSql()},
        $simhashCandSql
        SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- q34's WIDENED scale configuration (VERDICT r11 #2): 64-bit
    // SimHash, 4×16-bit blocks = 262,144 (block, value) buckets, 256×
    // q34's fixed 1024 — the candidate join's n²/|buckets| term, measured
    // 1.53× linear at 32 bits over sf0.1→sf1, needs the bucket space to
    // grow with the corpus. Same pigeonhole guarantee (hamming ≤ 3 over
    // 4 blocks ⇒ ≥ 1 exact block match), same fused-hamming probe, fully
    // oracle-gated (the 64-bit sig is two 32-bit md5 extractions both
    // engines agree on). SimHashWidthSpec pins that both widths find the
    // same planted near-dups.
    ("q126_simhash_pairs_w64",
      (s: SparkSession, dir: String) => {
        simhashCand(s, dir, bits = 64)
          .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
          .filter(col("hamming") <= 3)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""${simhashSql64()},
        $simhashCandSql64
        SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- deterministic stratified sampling: per-language rates keyed on
    // the 32-bit md5 of the doc id — the training-data rebalancing shape
    // (downsample the dominant language, keep the long tail). Hash-based
    // acceptance is exactly reproducible in both engines AND stable under
    // re-runs/repartitioning at any scale — unlike rand()-based sampling,
    // which is neither. Pure codegen'd expressions evaluated as a map-only
    // filter directly over the scan (an md5 predicate is not
    // parquet-pushable, but there is no shuffle — PlanSpec pins it), with
    // only the needed columns read.
    ("q48_stratified_sample",
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents")
          .withColumn("bucket", hash32(col("doc_id").cast("string")) % 100)
          .filter(col("bucket") <
            when(col("lang") === "en", lit(10)).otherwise(lit(80)))
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang,
          (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) AS bucket
        FROM documents
        WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100) <
          CASE WHEN lang = 'en' THEN 10 ELSE 80 END
        ORDER BY doc_id""")),

    // ---- near-dup CLUSTERING: connected components over the SimHash pair
    // graph (at [[ScaleBits]] — the q126 production blocking) — the step
    // that turns pairwise matches into dedup groups
    // with a canonical representative (cluster id = MIN doc_id in the
    // component). Implemented as the standard massive-graph min-label
    // propagation: each round every vertex takes the min of its own and
    // its neighbors' labels — one join + one groupBy per round, both
    // hashed on the vertex id, O(component diameter) rounds (near-dup
    // clusters are shallow, so 2-4 rounds at any corpus size; cap 50).
    // Same checkpoint/Observation discipline as PageRank.run: each round's
    // labels are checkpointed, the predecessor freed, and the change count
    // piggybacks on the checkpoint job. (GraphX connectedComponents was
    // rejected here: its Pregel leaves the final internal message RDD
    // cached with no public handle — a storage leak per run.) The oracle
    // recomputes the same fixpoint as a recursive reachability CTE + MIN —
    // quadratic per component, fine at gate scale, while the Spark side is
    // the 100 TB path.
    ("q49_dedup_clusters",
      (s: SparkSession, dir: String) => {
        val cand = simhashCand(s, dir, ScaleBits)
        val labels = graft.graph.ConnectedComponents.assign(
          cand.filter(expr("bit_count(ha ^ hb)") <= 3)
            .select(col("id_a"), col("id_b")))
        // assign's first step materialized the pair list, so the signature
        // checkpoint behind cand is consumed — free it now (its armed
        // listener never fires on materialize-only actions and is reaped
        // by Scoped's sweep)
        Scoped.free(cand)
        Scoped.releaseAfterUse(labels)
        labels.select(col("v").as("doc_id"), col("comp").as("cluster_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""${simhashSql64().replaceFirst("WITH", "WITH RECURSIVE")},
        $simhashCandSql64,
        pairs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        e AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT u AS v FROM e),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT e.u AS v, reach.r FROM reach JOIN e ON e.v = reach.v)
        SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach
        GROUP BY v ORDER BY doc_id""")),

    // ---- per-label centroids (the relational, oracle-checkable twin of
    // the typed VectorMean Aggregator): posexplode dims → decimal avg
    // (exact, order-independent) → reassemble in dim order
    // Coordinates are micro-quantized to integers BEFORE summing: float →
    // double is exact, floor(x·1e6 + 0.5) is IEEE-identical in both
    // engines, and integer sums are order-free — unlike decimal(·) casts
    // of floats, whose 8th-decimal rounding differs between engines.
    ("q39_label_centroids",
      (s: SparkSession, dir: String) => {
        t(s, dir, "embeddings")
          .select(col("label").cast("long").as("label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .filter(col("dim") < 8) // first 8 dims keep the gate output small
          .withColumn("vq", floor(col("v").cast("double") * 1e6 + 0.5).cast("long"))
          .groupBy(col("label"), col("dim"))
          .agg((sum(col("vq")).cast("double") / count(lit(1)) / 1e6).as("m"))
          .orderBy(col("label"), col("dim"))
      },
      Some("""WITH e AS (SELECT CAST(label AS BIGINT) AS label,
            unnest(embedding) AS v,
            generate_subscripts(embedding, 1) - 1 AS dim
          FROM embeddings)
        SELECT label, CAST(dim AS INT) AS dim,
          CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1000000.0 AS m
        FROM e WHERE dim < 8
        GROUP BY label, dim ORDER BY label, dim""")),

    // ---- brute-force cosine top-k ANN baseline
    ("q35_cosine_topk",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), col("label").cast("long").as("label"),
            round(expr(cosSpark("embedding", "qv")), 4).as("sim"))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(20)
      },
      Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
        SELECT vec_id, CAST(label AS BIGINT) AS label,
          ROUND(${cosDuck("embedding", "qv")}, 4) AS sim
        FROM embeddings, q WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ---- IVF-style ANN: sign-bit coarse quantizer (cell = 8 sign bits of
    // the first 8 dims), probe ONLY the query's cell, exact cosine rank
    // inside it. The scale path for q35's brute force: at 100 TB the cell
    // is a partition-pruned parquet read (cell = partition column), so a
    // query touches 1/256th of the corpus; recall is tunable by probing
    // neighbor cells (Hamming-1 on the sign bits).
    ("q37_ann_ivf",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val cell = (0 until 8).map(j =>
          expr(s"cast(element_at(embedding, ${j + 1}) > 0 as int) * ${1 << j}"))
          .reduce(_ + _)
        val withCell = e.withColumn("cell", cell)
        val q = withCell.filter(col("vec_id") === 0)
          .select(col("cell").as("qcell"), col("embedding").as("qv"))
        withCell.filter(col("vec_id") =!= 0)
          .join(broadcast(q), col("cell") === col("qcell"))
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("cell").cast("long").as("cell"),
            round(expr(cosSpark("embedding", "qv")), 4).as("sim"))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(10)
      },
      Some {
        val cellSql = (0 until 8).map(j =>
          s"(CASE WHEN embedding[${j + 1}] > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH c AS (SELECT vec_id, label, embedding, $cellSql AS cell FROM embeddings),
          q AS (SELECT cell AS qcell, embedding AS qv FROM c WHERE vec_id = 0)
          SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(cell AS BIGINT) AS cell,
            ROUND(${cosDuck("embedding", "qv")}, 4) AS sim
          FROM c, q WHERE vec_id <> 0 AND cell = qcell
          ORDER BY sim DESC, vec_id LIMIT 10"""
      }),

    // ---- SRP-LSH IVF ANN (graft.similarity.Ivf): margin-aware multi-probe
    // over signed-random-projection cells, exact cosine re-rank inside the
    // probed cells. The probe-cell list depends on the query VECTOR (data),
    // so the oracle SQL recomputes the whole quantizer itself: plane
    // coefficients are embedded as literals, every dot product is the same
    // ordered left-fold expression as the Scala side, and the probe ranking
    // (flip-cost, cell) is done in SQL — bit-identical end to end.
    ("q38_ann_srp_ivf", {
      import graft.similarity.Ivf
      val nbits = Ivf.DefaultBits
      val dims = Ivf.DefaultDims
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val cells = Ivf.probeCellsForQuery(qvec, nbits, nprobe = 32)
        Ivf.buildIndex(e.filter(col("vec_id") =!= 0), "embedding", nbits, dims)
          .filter(col("cell").isin(cells: _*))
          .withColumn("qv", array(qvec.map(v => lit(v)): _*))
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("cell").cast("long").as("cell"),
            (floor(expr(cosSpark("embedding", "qv")) * 1e4 + 0.5) / 1e4).as("sim"))
          .orderBy(desc("sim"), asc("vec_id"))
          .limit(20)
      }
    },
      Some(
        s"""WITH ${srpIvfOracleCtes()}
          SELECT vec_id, CAST(label AS BIGINT) AS label, CAST(cell AS BIGINT) AS cell,
            floor(${cosDuck("embedding", "qv")} * 10000.0 + 0.5) / 10000.0 AS sim
          FROM idx, q WHERE cell IN (SELECT cell FROM probe)
          ORDER BY sim DESC, vec_id LIMIT 20""")),

    // ---- per-vector symmetric int8 quantization — the 4×-smaller storage
    // format every embedding pipeline writes before serving/ANN. scale =
    // max|x|/127; q_i = ⌊x_i/scale + 0.5⌋. All arithmetic is double with
    // identical left-fold order in both engines, so scale and the
    // quantized checksums are bit-exact; pure codegen'd HOFs, no UDF, no
    // shuffle — at 100 TB this is a map-only pass that writes the int8
    // column alongside a per-row scale.
    ("q57_embedding_quantize",
      (s: SparkSession, dir: String) => {
        // all-zero vectors (padding rows are routine in embedding tables)
        // quantize to all-zero codes — an unguarded x/scale would be NaN,
        // whose BIGINT cast crashes DuckDB and silently zeroes in Spark
        t(s, dir, "embeddings")
          .withColumn("amax", expr(
            "aggregate(embedding, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double))))"))
          .withColumn("scale", col("amax") / 127.0)
          .withColumn("q", expr(
            "transform(embedding, x -> IF(amax = 0.0D, 0L, cast(floor(cast(x as double) / scale + 0.5) as bigint)))"))
          .select(col("vec_id"), col("scale"),
            expr("aggregate(q, cast(0 as bigint), (s, v) -> s + v)").as("q_sum"),
            expr("aggregate(q, cast(-128 as bigint), (s, v) -> greatest(s, v))").as("q_max"),
            expr("aggregate(q, cast(128 as bigint), (s, v) -> least(s, v))").as("q_min"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH a AS (
          SELECT vec_id, embedding,
            list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
              (m, x) -> greatest(m, x)) AS amax
          FROM embeddings),
        qv AS (
          SELECT vec_id, amax / 127.0 AS scale,
            list_transform(embedding,
              x -> CASE WHEN amax = 0 THEN 0
                   ELSE CAST(floor(CAST(x AS DOUBLE) / (amax / 127.0) + 0.5) AS BIGINT) END) AS q
          FROM a)
        SELECT vec_id, scale,
          list_reduce(list_prepend(CAST(0 AS BIGINT), q), (s, v) -> s + v) AS q_sum,
          list_reduce(list_prepend(CAST(-128 AS BIGINT), q), (s, v) -> greatest(s, v)) AS q_max,
          list_reduce(list_prepend(CAST(128 AS BIGINT), q), (s, v) -> least(s, v)) AS q_min
        FROM qv ORDER BY vec_id""")),

    // ---- embedding near-dup, blocked on (label, SRP cell). The block key
    // must have BOUNDED cell size: a raw label is not bounded (one hot
    // label ⇒ quadratic blow-up at 100 TB), while an SRP cell partitions
    // every label into 2^nbits sign-pattern buckets whose expected size is
    // |label|/2^nbits — the same deterministic quantizer q38's ANN index
    // uses (graft.similarity.Ivf), so cosine-near pairs (≥0.95 ⇒ angle
    // ≤ 18°, P[bit differs] = θ/π ≤ 0.1 per plane) land in the same cell
    // with high probability. The oracle recomputes the identical quantizer
    // from the plane literals (same ordered left-fold dot products).
    // The fixture has no cosine-≥0.95 pairs, so (like q30) the gate would
    // pass vacuously — the derivation PLANTS near-duplicates: every 10th
    // vector is re-added id-shifted with its FIRST ELEMENT HALVED. Halving
    // is exact in IEEE float/double (power-of-two scale), so both engines
    // materialize bit-identical perturbed vectors and the cosines/cells
    // derived from them agree exactly; the perturbation moves cosine just
    // below 1 (one of 64 dims), a genuine near-dup rather than a byte copy.
    ("q36_embedding_neardup",
      (s: SparkSession, dir: String) => {
        import graft.similarity.Ivf
        val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
        val planted = e0.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 1000000000000L).as("vec_id"),
            concat(
              array(expr("cast(cast(element_at(embedding, 1) as double) * 0.5d as float)")),
              expr("slice(embedding, 2, size(embedding) - 1)")).as("embedding"),
            col("label"))
        // banded cell width (BlockPolicy.srpBits, mirrored by a CASE on
        // COUNT(*) in the oracle): the (label, cell) pair space must grow
        // with the corpus — the q34→q126 lesson (VERDICT r13 #7)
        val bits = graft.core.BlockPolicy.srpBits(e0.count())
        val e = e0.unionByName(planted)
          .withColumn("cell", Ivf.cellCol("embedding", bits, Ivf.DefaultDims))
        val a = e.select(col("vec_id").as("id_a"), col("label"), col("cell"),
          col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("id_b"), col("label"), col("cell"),
          col("embedding").as("eb"))
        a.join(b, Seq("label", "cell"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("sim", expr(cosSpark("ea", "eb")))
          .filter(col("sim") >= 0.95)
          .select(col("label").cast("long").as("label"), col("id_a"), col("id_b"),
            round(col("sim"), 4).as("sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
        aug AS (
          SELECT vec_id, embedding, label FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000000000,
            list_prepend(CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS FLOAT), embedding[2:]),
            label
          FROM embeddings WHERE vec_id % 10 = 0),
        c AS (SELECT vec_id, label, embedding,
            (${srpCellCaseSql("embedding")}) AS cell FROM aug)
        SELECT CAST(a.label AS BIGINT) AS label, a.vec_id AS id_a, b.vec_id AS id_b,
          ROUND(${cosDuck("a.embedding", "b.embedding")}, 4) AS sim
        FROM c a JOIN c b
          ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.95
        ORDER BY id_a, id_b""")),

    // ---- batch kNN join: a BATCH of query vectors (vec_id < 5) against
    // the corpus, exact cosine, top-5 each — the multi-probe sibling of
    // q35's single-query top-k. The probe batch is broadcast (it is always
    // small relative to the corpus), the corpus side streams through one
    // codegen'd cosine per (row, probe), and the per-probe top-k is a
    // window partitioned by probe id. This exact pass is the re-rank stage
    // of any production ANN stack; q38's SRP-IVF is the candidate
    // generator that bounds the corpus side at 100 TB.
    ("q74_knn_join",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        e.filter(col("vec_id") >= 5)
          .crossJoin(broadcast(q))
          .select(col("qid"), col("vec_id"),
            round(expr(cosSpark("embedding", "qv")), 4).as("sim"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("qid")).orderBy(desc("sim"), asc("vec_id"))))
          .filter(col("rk") <= 5)
          .select(col("qid"), col("rk").cast("long").as("rk"),
            col("vec_id"), col("sim"))
          .orderBy(col("qid"), col("rk"))
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
            FROM embeddings WHERE vec_id < 5),
        t AS (SELECT qid, vec_id, ROUND(${cosDuck("embedding", "qv")}, 4) AS sim
              FROM embeddings, q WHERE vec_id >= 5),
        r AS (SELECT qid, vec_id, sim,
            row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rk
          FROM t)
        SELECT qid, CAST(rk AS BIGINT) AS rk, vec_id, sim
        FROM r WHERE rk <= 5 ORDER BY qid, rk""")),

    // ---- INCREMENTAL dedup: match a DELTA batch against the existing
    // corpus — the production crawl-ingest flow (dedup the new shard
    // against what's already stored, not all-pairs self-dedup). The delta
    // is derived deterministically so the gate sees all three paths:
    // exact copies (id+1M, doc_id%37), near-dups with appended tokens
    // (id+2M, %41 — all original shingles survive, ~5 new), and
    // reversed-text noise (id+3M, %43 — zero shingle overlap, must NOT
    // match). Shape: corpus shingles/bands are computed once (at 100 TB
    // they are a PRECOMPUTED banded index on disk, partitioned by
    // (band, sig-hash)); the delta side is small, so the band equi-join
    // is an index probe, verification touches only candidate corpus
    // docs, and nothing ever pairs corpus×corpus.
    ("q76_dedup_incremental",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents")
        // id offsets on the 10^12 grid (q30's planted-dup convention):
        // collision-free against real corpus ids and across branches at
        // any realistic corpus size, unlike +1M-scale offsets
        val delta = docs.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + expr("1000000000000L")).as("doc_id"), col("text"))
          .unionAll(docs.filter(col("doc_id") % 41 === 0)
            .select((col("doc_id") + expr("2000000000000L")).as("doc_id"),
              concat(col("text"),
                lit(" graft delta appended tokens marker")).as("text")))
          .unionAll(docs.filter(col("doc_id") % 43 === 0)
            .select((col("doc_id") + expr("3000000000000L")).as("doc_id"),
              reverse(col("text")).as("text")))
        val shC = shingleDf(docs).localCheckpoint()
        val shD = shingleDf(delta).localCheckpoint()
        Scoped.releaseAfterUse(shC, shD)
        // the delta side is the SMALL side by definition — broadcast its
        // band signatures so the corpus index is probed map-side, and
        // broadcast the candidate list into the verification joins
        val cand = broadcast(minhashBands(shD)
          .select(col("doc_id").as("id_delta"), col("band"), col("sig")))
          .join(minhashBands(shC)
            .select(col("doc_id").as("id_corpus"), col("band"), col("sig")),
            Seq("band", "sig"))
          .select(col("id_delta"), col("id_corpus")).distinct()
        // candidate PRE-FILTER before verification: only shingles of
        // corpus docs that banded with some delta doc enter the verify
        // join — without this, the whole corpus shingle table shuffles
        // even when cand names a handful of ids
        val candIds = cand.select(col("id_corpus")).distinct()
        val shCc = shC.select(col("doc_id").as("id_corpus"), col("shingle"))
          .join(broadcast(candIds), Seq("id_corpus"), "left_semi")
        val sizesC = shCc.groupBy(col("id_corpus")).agg(count(lit(1)).as("nc"))
        val sizesD = shD.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        broadcast(cand)
          .join(shD.select(col("doc_id").as("id_delta"), col("shingle")), Seq("id_delta"))
          .join(shCc, Seq("id_corpus", "shingle"))
          .groupBy(col("id_delta"), col("id_corpus"))
          .agg(count(lit(1)).as("common"))
          .join(sizesD.select(col("doc_id").as("id_delta"), col("n").as("nd")), Seq("id_delta"))
          .join(sizesC, Seq("id_corpus"))
          .filter(col("common").cast("double") / (col("nd") + col("nc") - col("common")) >= 0.5)
          .select(col("id_delta"), col("id_corpus"),
            round(col("common").cast("double") / (col("nd") + col("nc") - col("common")), 4).as("jaccard"))
          .orderBy(col("id_delta"), col("id_corpus"))
      },
      Some {
        s"""WITH delta AS (
          SELECT doc_id + 1000000000000 AS doc_id, text FROM documents WHERE doc_id % 37 = 0
          UNION ALL
          SELECT doc_id + 2000000000000, text || ' graft delta appended tokens marker'
          FROM documents WHERE doc_id % 41 = 0
          UNION ALL
          SELECT doc_id + 3000000000000, reverse(text) FROM documents WHERE doc_id % 43 = 0),
        toks_c AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM documents),
        sh_c AS (SELECT DISTINCT doc_id,
                   unnest(list_transform(range(0, greatest(len(ws) - 4, 0)),
                     i -> array_to_string(list_slice(ws, i + 1, i + 5), ' '))) AS shingle
                 FROM toks_c),
        toks_d AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws FROM delta),
        sh_d AS (SELECT DISTINCT doc_id,
                   unnest(list_transform(range(0, greatest(len(ws) - 4, 0)),
                     i -> array_to_string(list_slice(ws, i + 1, i + 5), ' '))) AS shingle
                 FROM toks_d),
        ${minhashBandsSql("c")},
        ${minhashBandsSql("d")},
        cand AS (SELECT DISTINCT d.doc_id AS id_delta, c.doc_id AS id_corpus
                 FROM bands_d d JOIN bands_c c
                 ON d.band = c.band AND d.sig = c.sig),
        sizes_c AS (SELECT doc_id, COUNT(*) AS n FROM sh_c GROUP BY doc_id),
        sizes_d AS (SELECT doc_id, COUNT(*) AS n FROM sh_d GROUP BY doc_id),
        common AS (SELECT cd.id_delta, cd.id_corpus, COUNT(*) AS common
                   FROM cand cd
                   JOIN sh_d sd ON sd.doc_id = cd.id_delta
                   JOIN sh_c sc ON sc.doc_id = cd.id_corpus AND sc.shingle = sd.shingle
                   GROUP BY cd.id_delta, cd.id_corpus)
        SELECT id_delta, id_corpus,
          ROUND(CAST(common AS DOUBLE) / (sd.n + sc.n - common), 4) AS jaccard
        FROM common JOIN sizes_d sd ON sd.doc_id = id_delta
             JOIN sizes_c sc ON sc.doc_id = id_corpus
        WHERE CAST(common AS DOUBLE) / (sd.n + sc.n - common) >= 0.5
        ORDER BY id_delta, id_corpus"""
      }),

    // ---- dedup RESOLUTION: after clustering (q49), pick the canonical
    // survivor per duplicate cluster — the doc with the most content
    // (max n_chars, ties to the smallest id) — plus cluster stats. This
    // is the step that actually shrinks the corpus: clusters in, one
    // kept doc + a drop list out. One partitioned window over the
    // (doc -> cluster) assignment joined with doc metadata; the shuffle
    // keys on cluster_id, and cluster sizes are bounded by the near-dup
    // blocking upstream, so no window partition can blow up.
    ("q79_dedup_survivors",
      (s: SparkSession, dir: String) => {
        val cand = simhashCand(s, dir, ScaleBits)
        val labels = graft.graph.ConnectedComponents.assign(
          cand.filter(expr("bit_count(ha ^ hb)") <= 3)
            .select(col("id_a"), col("id_b")))
        Scoped.free(cand)
        Scoped.releaseAfterUse(labels)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
        labels.select(col("v").as("doc_id"), col("comp").as("cluster_id"))
          .join(t(s, dir, "documents").select(col("doc_id"), col("n_chars")), Seq("doc_id"))
          .withColumn("rk", row_number().over(
            w.orderBy(desc("n_chars"), asc("doc_id"))))
          .withColumn("n_members", count(lit(1)).over(w))
          .withColumn("total_chars", sum(col("n_chars")).over(w))
          .filter(col("rk") === 1)
          .select(col("cluster_id"), col("doc_id").as("survivor_id"),
            col("n_chars").as("survivor_chars"), col("n_members"),
            col("total_chars").cast("long").as("total_chars"))
          .orderBy(col("cluster_id"))
      },
      Some(s"""${simhashSql64().replaceFirst("WITH", "WITH RECURSIVE")},
        $simhashCandSql64,
        pairs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        e AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT u AS v FROM e),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT e.u AS v, reach.r FROM reach JOIN e ON e.v = reach.v),
        lab AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        m AS (SELECT lab.cluster_id, lab.doc_id, d.n_chars,
            row_number() OVER (PARTITION BY lab.cluster_id
              ORDER BY d.n_chars DESC, lab.doc_id) AS rk,
            COUNT(*) OVER (PARTITION BY lab.cluster_id) AS n_members,
            SUM(d.n_chars) OVER (PARTITION BY lab.cluster_id) AS total_chars
          FROM lab JOIN documents d ON d.doc_id = lab.doc_id)
        SELECT cluster_id, doc_id AS survivor_id, n_chars AS survivor_chars,
          n_members, CAST(total_chars AS BIGINT) AS total_chars
        FROM m WHERE rk = 1 ORDER BY cluster_id""")),

    // ---- deterministic per-group min-wise sample: the k docs with the
    // SMALLEST md5-derived hash per language — a fixed-size, seed-free,
    // re-run-stable sample per stratum (the "show me 10 random docs per
    // language" debugging/eval-set primitive; complements q48, which
    // applies a RATE per stratum). Hash-ordering makes it exactly
    // reproducible in DuckDB. The window is one shuffle on lang; at
    // 100 TB with few giant strata the two-phase variant applies (per-
    // partition top-k, then merge k·P candidates ).
    ("q88_minwise_sample",
      (s: SparkSession, dir: String) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
          .orderBy(col("hk"), col("doc_id"))
        t(s, dir, "documents")
          .withColumn("hk", hash32(col("doc_id").cast("string")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(col("lang"), col("rk").cast("long").as("rk"),
            col("doc_id"), col("hk"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH h AS (SELECT doc_id, lang,
            (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) AS hk
          FROM documents),
        r AS (SELECT lang, doc_id, hk,
            row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
          FROM h)
        SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, hk
        FROM r WHERE rk <= 10 ORDER BY lang, rk""")),

    // ---- Bloom-prefiltered semi-join: build a 16 KB Bloom filter over the
    // (small) filtered-orders key set, pre-filter the lineitem scan with
    // codegen'd bit tests, THEN run the exact semi-join on survivors —
    // the explicit runtime-filter pattern (core/Bloom.scala). The oracle
    // is the plain semi-join: Bloom false positives are removed by the
    // exact join, so the result is identical while the 100 TB probe side
    // sends only sketch-passing rows into the shuffle. LayoutToolsSpec pins the
    // no-false-negative property and the pre-filter's selectivity.
    ("q90_bloom_semi_join",
      (s: SparkSession, dir: String) => {
        val build = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"))
        val bloom = graft.core.Bloom.build(build, col("o_orderkey"))
        t(s, dir, "lineitem")
          .filter(bloom.mightContain(col("l_orderkey")))
          .join(build.withColumnRenamed("o_orderkey", "l_orderkey"),
            Seq("l_orderkey"), "left_semi")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("sum_price"),
            sum(col("l_orderkey")).as("sum_key"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
          CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
        FROM lineitem WHERE l_orderkey IN
          (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P')
        GROUP BY 1 ORDER BY l_returnflag""")),

    // ---- THE PIPELINE, END TO END: exact dedup (keep min doc_id per
    // content hash) → quality gate (≥ 50 tokens) → deterministic
    // stratified downsample (en to 50%, rest to 90%) → per-language
    // corpus report. Each stage is an operator the catalog gates in
    // isolation (q30, q99's rule 1, q48); this query pins that they
    // COMPOSE into one declarative plan — one scan, one dedup shuffle,
    // then map-only filters into the final tiny aggregate, which is how
    // the actual corpus rebuild runs at 100 TB (no materialization
    // between stages unless you want restartability, in which case each
    // arrow becomes a parquet checkpoint).
    ("q100_corpus_build",
      (s: SparkSession, dir: String) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id"))
        t(s, dir, "documents")
          .withColumn("h", md5(col("text")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .withColumn("n_tok",
            size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).cast("long"))
          .filter(col("n_tok") >= 50)
          .filter(hash32(col("doc_id").cast("string")) % 100 <
            when(col("lang") === "en", 50).otherwise(90))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy(col("lang"))
      },
      Some("""WITH d AS (SELECT doc_id, lang, text, md5(text) AS h,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
          FROM documents),
        surv AS (SELECT doc_id, lang,
            CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_tok
          FROM d WHERE rk = 1),
        q AS (SELECT * FROM surv WHERE n_tok >= 50),
        samp AS (SELECT * FROM q
          WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100)
            < CASE WHEN lang = 'en' THEN 50 ELSE 90 END)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM samp GROUP BY 1 ORDER BY lang""")),

    // ---- integer-exact k-means over the embedding corpus (k=4, 2 Lloyd
    // rounds, seeds = vec_id 0..3): the semantic-clustering primitive for
    // diversity sampling / topic balancing. All arithmetic on the 1/4096
    // integer grid so the unrolled-CTE DuckDB oracle matches bit-for-bit
    // (see graft.similarity.KMeans for the grid/exactness argument and the
    // broadcast-centroid 100 TB shape). Gate = per-cluster size, exact
    // integer inertia, and the centroid-component checksum — any divergence
    // in any round's assignment or update moves at least one of them.
    ("q103_kmeans",
      (s: SparkSession, dir: String) => {
        import graft.similarity.KMeans
        def eqOf() = t(s, dir, "embeddings")
          .select(col("vec_id"), KMeans.quantCol(col("embedding")).as("eq"))
        // checkpoint ONLY for the fit's per-round collects, free it
        // SYNCHRONOUSLY once fit returns, and build the gate plan fresh
        // from the parquet scan: one extra scan (cheap vs the rounds;
        // at 100 TB the persisted table would simply outlive the query)
        // in exchange for zero deferred-release machinery in flight
        val eqCp = eqOf().localCheckpoint()
        val cents = KMeans.fit(eqCp, k = kmeansK, iters = kmeansIters)
        Scoped.free(eqCp)
        val centSums = cents.map(_.sum)
        KMeans.assign(eqOf(), cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
          .withColumn("cent_sum",
            element_at(array(centSums.map(lit(_)): _*), (col("cluster") + 1).cast("int")))
          .orderBy(col("cluster"))
      },
      Some(kmeansSql)),

    // ---- leakage-safe train/val/test split: near-duplicate documents
    // (simhash hamming ≤ 3, connected-componented like q49) must land in
    // the SAME split, or held-out evaluation leaks training text. Split is
    // decided by md5 of the CLUSTER id (singletons = their own cluster), so
    // the assignment is seed-free, re-run-stable, and moves whole dup
    // groups atomically. 80/10/10 on the hash grid; gate = per (split,
    // lang) doc/char/cluster counts.
    ("q104_split_leakage",
      (s: SparkSession, dir: String) => {
        splitAssignment(s, dir)
          .groupBy(col("split"), col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            countDistinct(col("cluster_id")).as("n_clusters"))
          .orderBy(col("split"), col("lang"))
      },
      Some(s"""${simhashSql64().replaceFirst("WITH", "WITH RECURSIVE")},
        $simhashCandSql64,
        pairs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        eg AS (SELECT id_a AS u, id_b AS v FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT u AS v FROM eg),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT eg.u AS v, reach.r FROM reach JOIN eg ON eg.v = reach.v),
        comp AS (SELECT v AS doc_id, MIN(r) AS comp FROM reach GROUP BY v),
        dd AS (SELECT d.doc_id, d.lang, d.n_chars,
            COALESCE(c.comp, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        sp AS (SELECT *,
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT *,
            ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
          FROM dd))
        SELECT split, lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          COUNT(DISTINCT cluster_id) AS n_clusters
        FROM sp GROUP BY split, lang ORDER BY split, lang""")),

    // ---- deterministic training-shard layout: the "global shuffle" every
    // training run needs — docs dealt into N shards by content-free hash,
    // ordered within each shard by the same hash (seed-free, re-run-stable,
    // and decorrelated from crawl/source order). pos is the within-shard
    // read position. At 100 TB the identical shape is
    // repartition(N, shard) + sortWithinPartitions(h): one shard-keyed
    // shuffle; the per-shard sort is the write path's sort, not an extra
    // pass. Gate = the full layout (doc_id → shard, pos).
    ("q105_shard_layout",
      (s: SparkSession, dir: String) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
        t(s, dir, "documents")
          .withColumn("h", md5(concat(lit("shard:"), col("doc_id").cast("string"))))
          .withColumn("shard", hash32(concat(lit("shard:"), col("doc_id").cast("string"))) % 8)
          .withColumn("pos", (row_number().over(w) - 1).cast("long"))
          .select(col("doc_id"), col("shard"), col("pos"))
          .orderBy(col("shard"), col("pos"))
      },
      Some("""WITH d AS (SELECT doc_id,
            md5('shard:' || CAST(doc_id AS VARCHAR)) AS h,
            ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
          FROM documents)
        SELECT doc_id, shard,
          CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
        FROM d ORDER BY shard, pos""")),

    // ---- content-defined chunking (CDC) dedup: rolling-hash boundaries
    // (4-char polynomial window, boundary where h % 64 == 0) cut each doc
    // into content-aligned chunks, so a prefix insertion or deletion only
    // perturbs the FIRST chunk — every later boundary re-synchronizes and
    // the shared tail dedups exactly. This is the shift-robust exact-dedup
    // primitive (rsync/LBFS-style) that fixed-stride shingling lacks, and
    // the backbone of storage-level dedup in corpus pipelines. Shape at
    // 100 TB: chunking is map-only per doc (array HOFs, no shuffle);
    // pairing is one chunk-hash equi-join with a stop-chunk cap (chunks in
    // > 20 docs are dropped, the frequent-shingle blowup guard). Planted
    // 'PFX '-prefixed copies (doc_id % 43) verify the re-synchronization
    // property end-to-end: every planted pair shares ≥ 1 post-shift chunk.
    ("q111_cdc_chunk_dedup",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val d0 = docs.unionByName(docs.filter(col("doc_id") % 43 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            concat(lit("PFX "), col("text")).as("text")))
        // explode_outer, NOT explode: InferFiltersFromGenerate would bolt a
        // size(hs)>0 ∧ isnotnull(hs) filter under a plain explode,
        // duplicating the whole chunk expression into the scan's
        // DataFilters — the pipeline then runs ~3× per row (measured 9 s
        // vs 1 s at sf0.1). The rule skips outer generates; the cheap
        // null filter on the exploded ATTRIBUTE restores inner-join
        // semantics (chunkless docs drop).
        val ch = cdcChunkHashArray(d0)
          .select(col("doc_id"), explode_outer(col("hs")).as("h"))
          .filter(col("h").isNotNull)
          .localCheckpoint()
        Scoped.releaseAfterUse(ch)
        val keep = ch.join(
          ch.groupBy(col("h")).agg(count(lit(1)).as("nf"))
            .filter(col("nf") <= 20).select(col("h")), Seq("h"))
        keep.as("a").join(keep.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id"), col("b.doc_id"))
          .agg(count(lit(1)).as("n_shared"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("n_shared"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d0 AS (SELECT doc_id, text FROM documents
          UNION ALL SELECT doc_id + 20000000, 'PFX ' || text
          FROM documents WHERE doc_id % 43 = 0),
        d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L,
            list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS cs
          FROM d0),
        h AS (SELECT doc_id, text, L, cs,
            list_transform(list_filter(range(4, greatest(L, 4) + 1), i -> i <= L), i ->
              (((cs[i-3]*31 + cs[i-2])*31 + cs[i-1])*31 + cs[i]) % 1048576) AS hs
          FROM d),
        b AS (SELECT doc_id, text, L,
            list_concat(list_concat([CAST(0 AS BIGINT)],
              list_filter(list_filter(range(4, greatest(L, 4) + 1), i -> i <= L),
                i -> i < L AND hs[i-3] % 64 = 0)), [L]) AS bnds
          FROM h),
        c AS (SELECT doc_id,
            list_filter(list_transform(range(1, len(bnds)), j ->
              substr(text, CAST(bnds[j] + 1 AS INT), CAST(bnds[j+1] - bnds[j] AS INT))),
              ck -> length(ck) >= 16) AS chunks
          FROM b),
        ch AS (SELECT DISTINCT doc_id, md5(chunk) AS h
          FROM (SELECT doc_id, unnest(chunks) AS chunk FROM c)),
        freq AS (SELECT h, COUNT(*) AS nf FROM ch GROUP BY h),
        keep AS (SELECT ch.doc_id, ch.h FROM ch JOIN freq USING (h) WHERE nf <= 20)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- SEMANTIC dedup (SemDeDup-shaped): k-means clusters as the
    // learned blocking key, exact cosine ≥ 0.95 only WITHIN a cluster.
    // This is the published recipe for embedding-space dedup at corpus
    // scale (cluster first, compare inside clusters): the pair space
    // shrinks from O(n²) to Σ|cluster|², and the per-cluster compare is
    // embarrassingly parallel after one cluster-keyed shuffle. Clustering
    // reuses q103's integer-exact Lloyd loop (broadcast centroids,
    // map-only assignment); pairs reuse q36's planted near-dups (halved
    // first element on the float grid) so the gate is non-vacuous. q36
    // blocks on the STATIC (label, SRP-cell) key; this operator is its
    // LEARNED-blocking sibling — same verify stage, data-adaptive blocks.
    ("q112_semantic_dedup",
      (s: SparkSession, dir: String) => {
        import graft.similarity.KMeans
        def r4(c: org.apache.spark.sql.Column) = floor(c * 1e4 + 0.5) / 1e4
        def augOf() = {
          val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          e0.unionByName(e0.filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + 1000000000000L).as("vec_id"),
              concat(
                array(expr("cast(cast(element_at(embedding, 1) as double) * 0.5d as float)")),
                expr("slice(embedding, 2, size(embedding) - 1)")).as("embedding")))
        }
        // q103's discipline: checkpoint only for fit, free synchronously,
        // rebuild the (cheap) derivation for the gate plan — no deferred
        // release in flight during the gate action
        val eqCp = augOf()
          .select(col("vec_id"), KMeans.quantCol(col("embedding")).as("eq"))
          .localCheckpoint()
        // k scales with the corpus (see semdedupK): counts the (already
        // checkpointed) aug table — at fixture scales this resolves to
        // the oracle's unrolled k = 4; above ~2.5k vectors the blocking
        // space grows so Σ|c|² stays ~n·target (linear pair work)
        val cents = KMeans.fit(eqCp, k = semdedupK(eqCp.count()), iters = kmeansIters)
        Scoped.free(eqCp)
        val aug = augOf()
        val eq = aug.select(col("vec_id"), KMeans.quantCol(col("embedding")).as("eq"))
        val asgn = KMeans.assign(eq, cents).select(col("vec_id"), col("cluster"))
        val v = aug.join(asgn, Seq("vec_id"))
        val a = v.select(col("vec_id").as("id_a"), col("cluster"),
          col("embedding").as("ea"))
        val b = v.select(col("vec_id").as("id_b"), col("cluster"),
          col("embedding").as("eb"))
        a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
          .withColumn("sim", expr(cosSpark("ea", "eb")))
          .filter(col("sim") >= 0.95)
          .select(col("cluster"), col("id_a"), col("id_b"), r4(col("sim")).as("sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH aug AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000000000,
            list_prepend(CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS FLOAT), embedding[2:])
          FROM embeddings WHERE vec_id % 10 = 0),
        ${kmeansCtes("aug")},
        asgn AS (SELECT vec_id, cluster FROM s${kmeansIters + 1}),
        v AS (SELECT a.vec_id, a.embedding, g.cluster
          FROM aug a JOIN asgn g ON g.vec_id = a.vec_id)
        SELECT v1.cluster, v1.vec_id AS id_a, v2.vec_id AS id_b,
          floor(${cosDuck("v1.embedding", "v2.embedding")} * 1e4 + 0.5) / 1e4 AS sim
        FROM v v1 JOIN v v2
          ON v1.cluster = v2.cluster AND v1.vec_id < v2.vec_id
        WHERE ${cosDuck("v1.embedding", "v2.embedding")} >= 0.95
        ORDER BY id_a, id_b""")),

    // ---- LSH quality evaluation: recall of q32's band-join CANDIDATE set
    // against q31's exact jaccard-≥0.5 ground truth — the measurement every
    // production dedup pipeline runs before trusting a sketch config (16
    // perms, 4×4 banding here). At 100 TB the exact side runs on a sample:
    // [[lshRecall]]'s sampleFraction (md5-bucket, exercised by
    // DedupSimSpec; the gate runs at 1.0 where the plan is identical).
    // n_cand/n_hit also expose the precision side (how much verification
    // work the bands induce). recall is one IEEE division of exact
    // integers.
    ("q114_lsh_recall",
      (s: SparkSession, dir: String) => lshRecall(s, dir),
      Some(lshRecallSql())),

    // ---- ANN ranking quality: nDCG@10 of q38's SRP-IVF multi-probe
    // ranking against the exact brute-force cosine ranking — q114's
    // measure-the-sketch discipline applied to the retrieval stack
    // (recall says WHETHER neighbors were found; nDCG says whether they
    // arrive in the right ORDER, graded). Relevance is derived from the
    // exact ranking (top-3 → gain 7, top-6 → 3, top-10 → 1: the 2^rel - 1
    // gains of graded nDCG), discounts are 1/log2(rank+1) quantized to
    // BIGINTs on the 1e-6 grid (log2 of small ints is IEEE-exact or
    // grid-distant in both engines), so DCG sums are pure integer
    // arithmetic and nDCG is one IEEE division. Scale shape: the exact
    // side is ONE brute-force pass for the eval probe (what you'd run on
    // a sampled probe set at 100 TB, like q114's sampled ground truth);
    // the ANN side is the partition-pruned cell probe.
    ("q118_ann_ndcg", {
      import graft.similarity.Ivf
      val nbits = Ivf.DefaultBits
      val dims = Ivf.DefaultDims
      (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings")
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val qv = array(qvec.map(v => lit(v)): _*)
        def discOf(rank: org.apache.spark.sql.Column) =
          floor(lit(1e6) / log2(rank.cast("double") + lit(1.0)) + lit(0.5)).cast("long")
        // Both rankings only matter to depth 10 (gains are 0 beyond, and
        // DCG@10 reads 10 rows), so each side is a distributed
        // TakeOrdered top-10 — never a corpus-wide unpartitioned rank
        // window (the r7 scale defect). Ranks are assigned within the
        // 10-row result, partitioned per probe (the eval probe SET is
        // sampled at 100 TB; every probe ranks independently), and equal
        // the global ranks of the kept rows. The probe id comes from the
        // probe RELATION, not a literal — a foldable partition key is
        // optimized out of the partitionSpec, quietly reintroducing the
        // single-partition window (PlanSpec guards this). A doc outside
        // the exact top-10 had gain 0 before; now it is absent from the
        // left join and coalesces to the same 0.
        val probe = e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("probe_id"), col("embedding").as("qv"))
        val wProbe = Window.partitionBy(col("probe_id"))
          .orderBy(desc("sim"), asc("vec_id"))
        val exact = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("probe_id"), col("vec_id"),
            (floor(expr(cosSpark("embedding", "qv")) * 1e4 + 0.5) / 1e4).as("sim"))
          .orderBy(desc("sim"), asc("vec_id")).limit(10) // TakeOrdered
          .withColumn("exact_rank", row_number().over(wProbe).cast("long"))
          .withColumn("gain",
            when(col("exact_rank") <= 3, 7L).when(col("exact_rank") <= 6, 3L)
              .when(col("exact_rank") <= 10, 1L).otherwise(0L))
        val cells = Ivf.probeCellsForQuery(qvec, nbits, nprobe = 32)
        val ann = Ivf.buildIndex(e.filter(col("vec_id") =!= 0), "embedding", nbits, dims)
          .filter(col("cell").isin(cells: _*))
          .crossJoin(broadcast(probe))
          .select(col("probe_id"), col("vec_id"),
            (floor(expr(cosSpark("embedding", "qv")) * 1e4 + 0.5) / 1e4).as("sim"))
          .orderBy(desc("sim"), asc("vec_id")).limit(10) // TakeOrdered
          .withColumn("ann_rank", row_number().over(wProbe).cast("long"))
        val dcg = ann
          .join(exact.select(col("vec_id"), col("gain")), Seq("vec_id"), "left")
          .agg(sum(coalesce(col("gain"), lit(0L)) * discOf(col("ann_rank"))).as("dcg_scaled"),
            sum(when(coalesce(col("gain"), lit(0L)) > 0, 1L).otherwise(0L)).as("n_relevant"))
        val idcg = exact.filter(col("exact_rank") <= 10)
          .agg(sum(col("gain") * discOf(col("exact_rank"))).as("idcg_scaled"))
        dcg.crossJoin(idcg) // both single-row aggregates
          .select(col("n_relevant"), col("dcg_scaled"), col("idcg_scaled"),
            (col("dcg_scaled").cast("double") / col("idcg_scaled")).as("ndcg"))
      }
    },
      Some(
        s"""WITH ${srpIvfOracleCtes()},
          exact AS (SELECT vec_id,
              CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS exact_rank
            FROM (SELECT vec_id,
                floor(${cosDuck("embedding", "qv")} * 10000.0 + 0.5) / 10000.0 AS sim
              FROM embeddings, q WHERE vec_id <> 0)),
          gains AS (SELECT vec_id, exact_rank,
              CASE WHEN exact_rank <= 3 THEN 7 WHEN exact_rank <= 6 THEN 3
                   WHEN exact_rank <= 10 THEN 1 ELSE 0 END AS gain
            FROM exact),
          ann AS (SELECT vec_id,
              CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS ann_rank
            FROM (SELECT vec_id,
                floor(${cosDuck("embedding", "qv")} * 10000.0 + 0.5) / 10000.0 AS sim
              FROM idx, q WHERE cell IN (SELECT cell FROM probe))),
          a10 AS (SELECT ann.vec_id, ann.ann_rank, COALESCE(g.gain, 0) AS gain
            FROM ann LEFT JOIN gains g ON g.vec_id = ann.vec_id
            WHERE ann.ann_rank <= 10),
          dcg AS (SELECT
              CAST(SUM(gain * CAST(floor(1000000.0 / log2(CAST(ann_rank AS DOUBLE) + 1.0) + 0.5) AS BIGINT)) AS BIGINT) AS dcg_scaled,
              CAST(SUM(CASE WHEN gain > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant
            FROM a10),
          idcg AS (SELECT
              CAST(SUM(gain * CAST(floor(1000000.0 / log2(CAST(exact_rank AS DOUBLE) + 1.0) + 0.5) AS BIGINT)) AS BIGINT) AS idcg_scaled
            FROM gains WHERE exact_rank <= 10)
          SELECT n_relevant, dcg_scaled, idcg_scaled,
            CAST(dcg_scaled AS DOUBLE) / idcg_scaled AS ndcg
          FROM dcg, idcg""")),

    // ---- margin-based bitext mining (Artetxe & Schwenk-style): mine
    // cross-"lingual" sentence pairs (label 0 side ↔ label 1 side) by
    // MARGIN score — cos(a,b) normalized by both endpoints' k-NN
    // neighborhood density (2·cos / (avgK(a) + avgK(b))) — the standard
    // parallel-corpus mining step of a multilingual data pipeline (raw
    // cosine over-selects hub vectors; margin cancels the hubness).
    // Scale shape: candidate pairs are SRP-CELL-BLOCKED (q36/q38's
    // learned-free blocking — same cell ⇒ similar direction), never an
    // A×B cartesian, and the k-NN normalizers are computed within the
    // same candidate set (the standard ANN-candidate margin
    // approximation). Cross-engine exactness: sims are 1e4-grid INTEGERS,
    // so the k-NN sums are exact and the margin is 3 IEEE ops on exact
    // inputs. Gate = top-20 margin pairs.
    ("q121_bitext_margin", {
      import graft.similarity.Ivf
      val nbits = Ivf.DefaultBits
      val dims = Ivf.DefaultDims
      (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        val idx = Ivf.buildIndex(
          t(s, dir, "embeddings").filter(col("vec_id") =!= 0), "embedding", nbits, dims)
          .select(col("vec_id"), col("label"), col("cell"), col("embedding"))
          .localCheckpoint() // feeds both sides of the blocked pair join
        Scoped.releaseAfterUse(idx)
        val a = idx.filter(col("label") === 0)
          .select(col("vec_id").as("id_a"), col("cell"), col("embedding").as("ea"))
        val b = idx.filter(col("label") === 1)
          .select(col("vec_id").as("id_b"), col("cell"), col("embedding").as("eb"))
        // skew guard (VERDICT r7 #7): a hot SRP cell makes the blocked
        // pair join near-cartesian WITHIN the cell, computed by one task.
        // Cells hot on EITHER side (the pair volume is |A_c|·|B_c|, so a
        // b-side-only hub degrades identically) are salted 8 ways (pair
        // set unchanged — Skew.saltedJoinHot, SkewSpec); the hot list is
        // bounded by the 2^nbits cell space, so the count aggs +
        // broadcast are O(cells). Fixture cells stay under the
        // threshold — the salted path is spec-exercised, the gate plan
        // unsalted.
        val hotCells = a.select(col("cell")).unionAll(b.select(col("cell")))
          .groupBy(col("cell")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1024).select(col("cell"))
        val pairs = graft.core.Skew.saltedJoinHot(a, b, "cell", 8, hotCells)
          .select(col("id_a"), col("id_b"),
            floor(expr(cosSpark("ea", "eb")) * 1e4 + 0.5).cast("long").as("s"))
          .localCheckpoint() // feeds both k-NN normalizers and the margin join
        Scoped.releaseAfterUse(pairs)
        def knnAvg(key: String, other: String, out: String) = {
          val w = Window.partitionBy(col(key)).orderBy(desc("s"), asc(other))
          pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 4)
            .groupBy(col(key))
            .agg((sum(col("s")).cast("double") / count(lit(1))).as(out))
        }
        pairs
          .join(knnAvg("id_a", "id_b", "avg_a"), Seq("id_a"))
          .join(knnAvg("id_b", "id_a", "avg_b"), Seq("id_b"))
          .withColumn("margin",
            floor(lit(2.0) * col("s") / (col("avg_a") + col("avg_b")) * 1e4 + 0.5) / 1e4)
          // top-20 via distributed TakeOrdered — the r7 formulation
          // single-partition-sorted ALL candidate pairs through an
          // unpartitioned rank window just to drop the rank column
          .orderBy(desc("margin"), asc("id_a"), asc("id_b")).limit(20)
          .select(col("id_a"), col("id_b"), col("s"), col("margin"))
          .orderBy(desc("margin"), asc("id_a"), asc("id_b"))
      }
    },
      Some(
        s"""WITH ${srpIvfOracleCtes()},
          a AS (SELECT vec_id AS id_a, cell, embedding AS ea FROM idx WHERE label = 0),
          b AS (SELECT vec_id AS id_b, cell, embedding AS eb FROM idx WHERE label = 1),
          p AS (SELECT id_a, id_b,
              CAST(floor(${cosDuck("ea", "eb")} * 10000.0 + 0.5) AS BIGINT) AS s
            FROM a JOIN b USING (cell)),
          ka AS (SELECT id_a, CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_a FROM (
              SELECT id_a, s,
                row_number() OVER (PARTITION BY id_a ORDER BY s DESC, id_b) AS rk
              FROM p) WHERE rk <= 4 GROUP BY id_a),
          kb AS (SELECT id_b, CAST(SUM(s) AS DOUBLE) / COUNT(*) AS avg_b FROM (
              SELECT id_b, s,
                row_number() OVER (PARTITION BY id_b ORDER BY s DESC, id_a) AS rk
              FROM p) WHERE rk <= 4 GROUP BY id_b),
          m AS (SELECT p.id_a, p.id_b, p.s,
              floor(2.0 * p.s / (ka.avg_a + kb.avg_b) * 10000.0 + 0.5) / 10000.0 AS margin
            FROM p JOIN ka USING (id_a) JOIN kb USING (id_b)),
          r AS (SELECT *, row_number() OVER (ORDER BY margin DESC, id_a, id_b) AS rn FROM m)
          SELECT id_a, id_b, s, margin FROM r WHERE rn <= 20
          ORDER BY margin DESC, id_a, id_b""")),

    // ---- SimHash config quality: precision/recall of the hamming-≤3
    // block-bucketed pairs (q34's config) against the exact jaccard-≥0.5
    // ground truth — q114's measure-the-sketch discipline for the OTHER
    // sketch family (a simhash threshold is a tuning choice; this is the
    // measurement that justifies it). Shares [[exactJaccardPairs]] with
    // q114; the predicted side is checkpointed once and the sig
    // checkpoint behind it is freed as soon as the prediction
    // materializes (splitAssignment's discipline). Precision here reads
    // LOW by construction: simhash buckets token-frequency similarity
    // while the ground truth is shingle jaccard — exactly the gap the
    // eval exists to expose.
    // The gate derives its exact-side sample fraction from the corpus
    // size (BlockPolicy.exactEvalFraction — VERDICT r14 #3): every
    // fixture scale (<= ExactEvalDocBudget docs) resolves to 1.0, where
    // the sample filter is ABSENT and the oracle needs no sampling twin;
    // past the budget the quadratic ground-truth join runs over a
    // ~budget-sized md5-bucket doc sample and the schema's recall_lo/hi
    // CI columns carry the estimator's uncertainty.
    ("q122_simhash_quality",
      (s: SparkSession, dir: String) => {
        val nDocs = graft.core.Tables.load(s, dir, "documents").count()
        simhashQuality(s, dir, graft.core.BlockPolicy.exactEvalFraction(nDocs))
      },
      Some(simhashQualitySql())),

    // ---- the unified sketch-eval matrix (see [[sketchEval]]): every
    // sketch family's quality measured under one shape, one row per
    // CONFIG (two banding layouts, two hamming thresholds, two probe
    // widths) — the config sweep that picks a sketch tuning before a
    // 100 TB run. The oracle wraps each config's standalone WITH…SELECT
    // as a UNION ALL subquery, so the CTE namespaces never collide.
    ("q124_sketch_eval",
      (s: SparkSession, dir: String) => sketchEval(s, dir),
      Some(s"""SELECT * FROM (
          SELECT 'minhash_lsh_4x4' AS family, n_exact, n_cand, n_hit, recall
          FROM (${lshRecallSql()})
        UNION ALL
          SELECT 'minhash_lsh_8x2' AS family, n_exact, n_cand, n_hit, recall
          FROM (${lshRecallSql(8, 2)})
        UNION ALL
          SELECT 'simhash_ham3' AS family, n_exact, n_pred AS n_cand, n_hit, recall
          FROM (${simhashQualitySql()})
        UNION ALL
          SELECT 'simhash_ham2' AS family, n_exact, n_pred AS n_cand, n_hit, recall
          FROM (${simhashQualitySql(2)})
        UNION ALL
          SELECT 'srp_ivf_p32' AS family, n_exact, n_cand, n_hit, recall
          FROM (${srpRecallSql()})
        UNION ALL
          SELECT 'srp_ivf_p8' AS family, n_exact, n_cand, n_hit, recall
          FROM (${srpRecallSql(8)})
        ) ORDER BY family""")),

    // ---- the COMPOSED dedup pipeline: ONE clustering feeds BOTH
    // downstream consumers — q104's leakage-safe split and q79's
    // survivor resolution (largest doc per cluster, ties to smallest id)
    // — fused into a per-split dedup report: docs, clusters, dropped
    // near-dups, kept/dropped chars. This is the
    // one-pipeline-feeds-many-consumers discipline as a LOAD-BEARING
    // catalog query (VERDICT r7 #5): the CC fixpoint runs once (inside
    // splitAssignment's self-contained path), its cluster_id column is
    // shared by the split routing and the survivor window in a single
    // lineage, and the whole report is one action. Cost shape = CC + one
    // label join + one cluster-partitioned window + one small agg — vs
    // running q104 and q79 separately, which pays the simhash+CC
    // pipeline twice (CurationSpec cross-checks the report against
    // both).
    ("q123_dedup_pipeline",
      (s: SparkSession, dir: String) => {
        // ONE simhash+CC labeling runs inside splitAssignment; its
        // cluster_id column then feeds BOTH the split routing and the
        // survivor window below in a single lineage — no second pipeline
        // (the labels hook exists for callers that ALREADY materialized
        // q49's output; here the self-contained path is the single
        // producer, so re-deriving labels outside it would just be a
        // fourth copy of the cand→CC→free pattern)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
          .orderBy(desc("n_chars"), asc("doc_id"))
        splitAssignment(s, dir)
          .select(col("doc_id"), col("n_chars"), col("cluster_id"), col("split"))
          .withColumn("rk", row_number().over(w)) // q79's survivor rule
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster_id")).as("n_clusters"),
            sum(when(col("rk") === 1, 0L).otherwise(1L)).as("n_dropped"),
            sum(when(col("rk") === 1, col("n_chars")).otherwise(0L))
              .cast("long").as("chars_kept"),
            sum(when(col("rk") > 1, col("n_chars")).otherwise(0L))
              .cast("long").as("chars_dropped"))
          .orderBy(col("split"))
      },
      Some(s"""${simhashSql64().replaceFirst("WITH", "WITH RECURSIVE")},
        $simhashCandSql64,
        pairs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        eg AS (SELECT id_a AS u, id_b AS v FROM pairs
               UNION ALL SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT u AS v FROM eg),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT eg.u AS v, reach.r FROM reach JOIN eg ON eg.v = reach.v),
        comp AS (SELECT v AS doc_id, MIN(r) AS comp FROM reach GROUP BY v),
        dd AS (SELECT d.doc_id, d.n_chars,
            COALESCE(c.comp, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        sp AS (SELECT *,
            CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT *,
            ('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
          FROM dd)),
        rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
            ORDER BY n_chars DESC, doc_id) AS rk FROM sp)
        SELECT split, COUNT(*) AS n_docs,
          COUNT(DISTINCT cluster_id) AS n_clusters,
          CAST(SUM(CASE WHEN rk = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
          CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
          CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
        FROM rk GROUP BY split ORDER BY split""")),

    // ---- exact duplicated-SUBSTRING spans (the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better"
    // operator): find, per document, the maximal token spans whose every
    // L-gram (L = 8 tokens) occurs at least twice in the corpus —
    // sub-document duplication that doc-level (q30) and near-dup (q32/
    // q34) dedup cannot see, and segment-frequency stripping (q127) only
    // catches when it repeats in MANY docs (this query's threshold is
    // occurrences >= 2 ANYWHERE, including within one document). The
    // distributed shape replaces the paper's suffix array with rolling
    // L-gram fingerprints — exact for every duplicated substring of
    // length >= L, the standard cluster-scale approximation. The fixture
    // has no natural 8-gram dups, so the query plants both kinds
    // (identically on both sides): a shared 10-token slogan appended to
    // every 5th doc (cross-doc dup) and the doc's own first 12 tokens
    // re-appended on every 7th (within-doc dup).
    //
    // Scale: gram extraction is map-side (one tokenize pass); the
    // occurrence count is ONE combinable shuffle keyed on the md5 gram
    // fingerprint (same shape as a term count — never the corpus
    // cartesian); the dup-set join back is a fingerprint equi-join
    // (q111's chunk-hash shape; the dup set is corpus-sized in the worst
    // case, so no broadcast is assumed); the span merge is a per-doc
    // window (partitioned, bounded by doc length). At 100 TB every stage
    // is linear in total grams.
    ("q129_substring_spans",
      (s: SparkSession, dir: String) => {
        val L = 8
        val slogan = "all rights reserved contact us for licensing details effective today"
        val base = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk0"))
        val planted = base.select(col("doc_id"),
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + slogan)))
            .when(col("doc_id") % 7 === 0,
              concat(col("text"), lit(" "), concat_ws(" ", expr("slice(tk0, 1, 12)"))))
            .otherwise(col("text")).as("text"))
        val toks = planted
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .withColumn("n_tokens", size(col("tk")).cast("long"))
        val grams = explodeLean(toks, Seq(col("doc_id"), col("n_tokens")),
          expr(s"""if(size(tk) < $L, array(),
                    transform(sequence(1, size(tk) - ${L - 1}),
                      i -> named_struct('i', cast(i as bigint),
                        'g', md5(concat_ws(' ', slice(tk, i, $L))))))"""), "gr")
          .select(col("doc_id"), col("n_tokens"),
            col("gr.i").as("i"), col("gr.g").as("g"))
        val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("n_occ"))
          .filter(col("n_occ") >= 2).select(col("g"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("i"))
        val spans = grams.join(dup, Seq("g"))
          .select(col("doc_id"), col("n_tokens"), col("i"),
            (col("i") + (L - 1)).as("e"))
          .withColumn("pmax", max(col("e")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
          .withColumn("ns",
            when(col("pmax").isNull || col("i") > col("pmax"), 1L).otherwise(0L))
          .withColumn("sid", sum(col("ns")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
          .groupBy(col("doc_id"), col("n_tokens"), col("sid"))
          .agg(min(col("i")).as("s"), max(col("e")).as("e2"))
        val perDoc = spans.groupBy(col("doc_id"), col("n_tokens"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e2") - col("s") + 1).as("dup_tokens"))
        toks.select(col("doc_id"), col("n_tokens"))
          .join(perDoc, Seq("doc_id", "n_tokens"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
            (floor(coalesce(col("dup_tokens"), lit(0L)).cast("double")
              / greatest(col("n_tokens"), lit(1L)).cast("double") * 1e4 + 0.5) / 1e4)
              .as("dup_frac"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH baseq AS (SELECT doc_id, text, string_split(text, ' ') AS tk0 FROM documents),
        pl AS (SELECT doc_id,
            CASE WHEN doc_id % 5 = 0
                 THEN text || ' all rights reserved contact us for licensing details effective today'
                 WHEN doc_id % 7 = 0 THEN text || ' ' || array_to_string(tk0[1:12], ' ')
                 ELSE text END AS text
          FROM baseq),
        tks AS (SELECT doc_id, string_split(text, ' ') AS tk,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM pl),
        grams AS (SELECT doc_id, n_tokens, CAST(u.i AS BIGINT) AS i,
            md5(array_to_string(tk[CAST(u.i AS BIGINT):(CAST(u.i AS BIGINT) + 7)], ' ')) AS g
          FROM tks, UNNEST(range(1, CAST(n_tokens AS BIGINT) - 6)) AS u(i)),
        dupg AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
        hits AS (SELECT gr.doc_id, gr.n_tokens, gr.i, gr.i + 7 AS e
          FROM grams gr JOIN dupg USING (g)),
        mk AS (SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM hits),
        mk2 AS (SELECT *, CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END AS ns FROM mk),
        mk3 AS (SELECT *, SUM(ns) OVER (PARTITION BY doc_id ORDER BY i
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM mk2),
        spans AS (SELECT doc_id, n_tokens, sid, MIN(i) AS s, MAX(e) AS e2
          FROM mk3 GROUP BY 1, 2, 3),
        pd AS (SELECT doc_id, n_tokens, COUNT(*) AS n_spans,
            CAST(SUM(e2 - s + 1) AS BIGINT) AS dup_tokens
          FROM spans GROUP BY 1, 2)
        SELECT t.doc_id, t.n_tokens,
          COALESCE(pd.n_spans, 0) AS n_spans,
          COALESCE(pd.dup_tokens, 0) AS dup_tokens,
          floor(COALESCE(pd.dup_tokens, 0)
            / CAST(greatest(t.n_tokens, 1) AS DOUBLE) * 1e4 + 0.5) / 1e4 AS dup_frac
        FROM tks t LEFT JOIN pd ON pd.doc_id = t.doc_id ORDER BY t.doc_id""")),

    // ---- product quantization TRAIN + ENCODE (the PQ half of FAISS-style
    // IVF-PQ — the memory-side scale path for ANN that q37/q38's coarse
    // quantizers don't cover): the 64-dim embedding splits into M = 4
    // fixed subspaces; each subspace trains its own small codebook with
    // the shared integer-exact Lloyd loop (q103's); a vector's PQ code is
    // its per-subspace nearest centroid. Gate = the full codebook
    // quality surface: per (subspace, code) population and total
    // quantization error over ALL vectors — a broken fit, slice, or
    // encode moves it. k = 4 codes/subspace at fixture scale so the
    // oracle's recursive Lloyd stays tractable; production PQ uses 256
    // and changes nothing but literal widths (64 dims × 4 bits of code
    // here ≈ the 64→2-byte compression PQ exists for).
    //
    // Scale: training collects k·dims longs per round (bytes); encode is
    // a MAP-ONLY pass — centroids enter the plan as literals, so the
    // per-vector work is M codegen'd integer folds, no join, no shuffle;
    // the only shuffle is the k·M-group stats agg. At 100 TB the encode
    // is embarrassingly parallel and the stored artifact (vec_id, M
    // small ints) is ~30× smaller than the float vectors.
    ("q130_pq_encode",
      (s: SparkSession, dir: String) => {
        import graft.similarity.KMeans
        def eqOf() = t(s, dir, "embeddings")
          .select(col("vec_id"), KMeans.quantCol(col("embedding")).as("eq"))
        val eqCp = eqOf().localCheckpoint()
        val cbs = pqFit(eqCp)
        Scoped.free(eqCp)
        (0 until pqM).map { m =>
          KMeans.assign(
            eqOf().select(col("vec_id"),
              expr(s"slice(eq, ${m * pqSub + 1}, $pqSub)").as("eq")), cbs(m))
            .groupBy(col("cluster"))
            .agg(count(lit(1)).as("n_vecs"), sum(col("dist")).as("sq_err"))
            .select(lit(m.toLong).as("subspace"), col("cluster").as("code"),
              col("n_vecs"), col("sq_err"))
        }.reduce(_.unionByName(_))
          .orderBy(col("subspace"), col("code"))
      },
      Some {
        val fin = kmeansIters + 1
        s"""WITH ${(0 until pqM).map(m => kmeansCtes(pqSrcSql(m), s"p$m")).mkString(",\n        ")}
          SELECT * FROM (
            ${(0 until pqM).map(m =>
              s"""SELECT CAST($m AS BIGINT) AS subspace, cluster AS code,
                COUNT(*) AS n_vecs, CAST(SUM(dist) AS BIGINT) AS sq_err
              FROM p${m}s$fin GROUP BY cluster""").mkString("\n            UNION ALL ")}
          ) ORDER BY subspace, code"""
      }),

    // ---- PQ asymmetric-distance search (ADC — the read path of q130's
    // artifact): the query vector precomputes, per subspace, its exact
    // L2² to each of the k centroids (an M×k table of longs, built on the
    // driver from the codebooks — bytes); a database vector's approximate
    // distance is then the SUM OF M TABLE LOOKUPS keyed by its PQ code.
    // Here encode+lookup fuse into one map-only scan (the code column
    // would be stored, pre-computed at ingest, in production); ranking is
    // a TakeOrdered. Integer-exact end to end, so the oracle recomputes
    // the same distances from its own Lloyd CTEs. Probe = vec_id 0
    // (q35's convention).
    ("q131_pq_adc",
      (s: SparkSession, dir: String) => {
        import graft.similarity.KMeans
        def eqOf() = t(s, dir, "embeddings")
          .select(col("vec_id"), KMeans.quantCol(col("embedding")).as("eq"))
        val eqCp = eqOf().localCheckpoint()
        val cbs = pqFit(eqCp)
        val probe = eqCp.filter(col("vec_id") === 0)
          .select(col("eq")).collect()(0).getSeq[Long](0).toArray
        Scoped.free(eqCp)
        val dtabs = Array.tabulate(pqM) { m =>
          val pm = probe.slice(m * pqSub, (m + 1) * pqSub)
          cbs(m).map(cent =>
            pm.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        // distance arrays land in NAMED columns so min+position evaluate
        // each k-fold once (array_position is 1-based = code + 1, exactly
        // element_at's index)
        eqOf().select(Seq(col("vec_id")) ++ (0 until pqM).map(m =>
            KMeans.distArray(
              expr(s"slice(eq, ${m * pqSub + 1}, $pqSub)"), cbs(m)).as(s"dm$m")): _*)
          .select(col("vec_id"),
            (0 until pqM).map { m =>
              element_at(array(dtabs(m).map(lit(_)): _*),
                array_position(col(s"dm$m"), array_min(col(s"dm$m"))).cast("int"))
            }.reduce(_ + _).as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(10)
      },
      Some {
        val fin = kmeansIters + 1
        val adcs = (0 until pqM).map(m =>
          s"""adc$m AS (SELECT sx.vec_id, SUM((qe.v - cf.c) * (qe.v - cf.c)) AS d
            FROM p${m}s$fin sx
            JOIN p${m}c${kmeansIters}f cf ON cf.cluster = sx.cluster
            JOIN (SELECT dim, v FROM p${m}e WHERE vec_id = 0) qe ON qe.dim = cf.dim
            GROUP BY sx.vec_id)""").mkString(",\n        ")
        s"""WITH ${(0 until pqM).map(m => kmeansCtes(pqSrcSql(m), s"p$m")).mkString(",\n        ")},
          $adcs
          SELECT a0.vec_id, CAST(a0.d + a1.d + a2.d + a3.d AS BIGINT) AS adc_dist
          FROM adc0 a0 JOIN adc1 a1 USING (vec_id) JOIN adc2 a2 USING (vec_id)
            JOIN adc3 a3 USING (vec_id)
          ORDER BY adc_dist, vec_id LIMIT 10"""
      }),

    // ---- COMPOSED IVF-PQ search (the FAISS IVFADC read path, assembled
    // from the catalog's own parts): q38's SRP coarse quantizer picks the
    // 32 lowest-flip-cost cells to probe; WITHIN the probed cells only,
    // vectors rank by q131's asymmetric PQ distance (sum of M table
    // lookups). This is the shape that serves billion-vector ANN: the
    // cell is a partition column (probe = partition-pruned read, ~32/256
    // of the corpus), the PQ codes are the 30×-smaller stored artifact,
    // and the per-vector query cost is M lookups — no floats, no full
    // vectors touched at query time. Both stages are already
    // oracle-gated alone (q38, q131); the gate here pins their
    // COMPOSITION (probe set ∩ ADC ranking, one lineage).
    ("q134_ivfpq_search", {
      import graft.similarity.Ivf
      val nbits = Ivf.DefaultBits
      val dims = Ivf.DefaultDims
      (s: SparkSession, dir: String) => {
        import graft.similarity.KMeans
        val e = t(s, dir, "embeddings")
        def eqOf() = e.select(col("vec_id"), KMeans.quantCol(col("embedding")).as("eq"))
        val eqCp = eqOf().localCheckpoint()
        val cbs = pqFit(eqCp)
        val probe = eqCp.filter(col("vec_id") === 0)
          .select(col("eq")).collect()(0).getSeq[Long](0).toArray
        Scoped.free(eqCp)
        val dtabs = Array.tabulate(pqM) { m =>
          val pm = probe.slice(m * pqSub, (m + 1) * pqSub)
          cbs(m).map(cent =>
            pm.zip(cent).map { case (a, b) => (a - b) * (a - b) }.sum)
        }
        val qvec = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val cells = Ivf.probeCellsForQuery(qvec, nbits, nprobe = 32)
        Ivf.buildIndex(e.filter(col("vec_id") =!= 0), "embedding", nbits, dims)
          .filter(col("cell").isin(cells: _*))
          .withColumn("eq", KMeans.quantCol(col("embedding")))
          .select(Seq(col("vec_id"), col("cell").cast("long").as("cell")) ++
            (0 until pqM).map(m =>
              KMeans.distArray(
                expr(s"slice(eq, ${m * pqSub + 1}, $pqSub)"), cbs(m)).as(s"dm$m")): _*)
          .select(col("vec_id"), col("cell"),
            (0 until pqM).map { m =>
              element_at(array(dtabs(m).map(lit(_)): _*),
                array_position(col(s"dm$m"), array_min(col(s"dm$m"))).cast("int"))
            }.reduce(_ + _).as("adc_dist"))
          .orderBy(col("adc_dist"), col("vec_id"))
          .limit(20)
      }
    },
      Some {
        val fin = kmeansIters + 1
        val adcs = (0 until pqM).map(m =>
          s"""adc$m AS (SELECT sx.vec_id, SUM((qe.v - cf.c) * (qe.v - cf.c)) AS d
            FROM p${m}s$fin sx
            JOIN p${m}c${kmeansIters}f cf ON cf.cluster = sx.cluster
            JOIN (SELECT dim, v FROM p${m}e WHERE vec_id = 0) qe ON qe.dim = cf.dim
            GROUP BY sx.vec_id)""").mkString(",\n        ")
        s"""WITH ${srpIvfOracleCtes()},
          ${(0 until pqM).map(m => kmeansCtes(pqSrcSql(m), s"p$m")).mkString(",\n        ")},
          $adcs
          SELECT i.vec_id, CAST(i.cell AS BIGINT) AS cell,
            CAST(a0.d + a1.d + a2.d + a3.d AS BIGINT) AS adc_dist
          FROM idx i
            JOIN adc0 a0 ON a0.vec_id = i.vec_id
            JOIN adc1 a1 ON a1.vec_id = i.vec_id
            JOIN adc2 a2 ON a2.vec_id = i.vec_id
            JOIN adc3 a3 ON a3.vec_id = i.vec_id
          WHERE i.cell IN (SELECT cell FROM probe)
          ORDER BY adc_dist, i.vec_id LIMIT 20"""
      }),

    // ---- multi-signal dedup AGREEMENT MATRIX: the same pair universe
    // scored by BOTH dedup signals the catalog maintains — text SimHash
    // (hamming ≤ 3, q34's blocked pairing) and embedding cosine (≥ 0.95
    // over (label, SRP-cell) blocks, q36's pairing) — bucketed into
    // both / text_only / vector_only. This is the measurement that
    // decides whether the signals are redundant or complementary before
    // a pipeline pays for both at corpus scale (they usually ARE
    // complementary: paraphrases miss SimHash; template boilerplate with
    // swapped entities misses cosine). Planting populates every cell
    // deterministically on the SHARED +10^12 id grid: an exact TEXT copy
    // of every 6th doc and q36's halved-first-element VECTOR copy of
    // every 10th — so (i, i+10^12) fires both signals iff i % 30 = 0,
    // text-only iff i % 6 (natural q34 near-dups land here too), and
    // vector-only iff i % 10.
    //
    // Scale: each signal keeps its own bounded blocking (never all-pairs);
    // the matrix itself is a full-outer pair-key join of two SMALL pair
    // sets (outputs of the blocked searches) plus one 3-row aggregate.
    // The text side runs the WIDENED 64-bit / 262,144-bucket config
    // (q126): a first cut on the 32-bit space measured 1.16x linear over
    // sf0.1->sf1 -- q34's known n^2/1024 candidate term resurfacing --
    // and the wide blocking is exactly the built fix (SCALING.md).
    ("q136_dedup_signal_matrix",
      (s: SparkSession, dir: String) => {
        import graft.similarity.Ivf
        val grid = 1000000000000L
        val d0 = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val pd = d0.unionByName(d0.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + grid).as("doc_id"), col("text")))
        val textPairs = simhashCandFrom(pd, bits = 64)
          .filter(expr("bit_count(ha ^ hb)") <= 3)
          .select(col("id_a"), col("id_b"))
        val e0 = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
        val eplant = e0.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + grid).as("vec_id"),
            concat(
              array(expr("cast(cast(element_at(embedding, 1) as double) * 0.5d as float)")),
              expr("slice(embedding, 2, size(embedding) - 1)")).as("embedding"),
            col("label"))
        // banded cell width via BlockPolicy (VERDICT r13 #7) — the vector
        // side's (label, cell) pair space grows with the corpus, matching
        // the text side's 64-bit scale config
        val bits = graft.core.BlockPolicy.srpBits(e0.count())
        val e = e0.unionByName(eplant)
          .withColumn("cell", Ivf.cellCol("embedding", bits, Ivf.DefaultDims))
        val va = e.select(col("vec_id").as("id_a"), col("label"), col("cell"),
          col("embedding").as("ea"))
        val vb = e.select(col("vec_id").as("id_b"), col("label"), col("cell"),
          col("embedding").as("eb"))
        val vecPairs = va.join(vb, Seq("label", "cell"))
          .filter(col("id_a") < col("id_b"))
          .filter(expr(cosSpark("ea", "eb")) >= 0.95)
          .select(col("id_a"), col("id_b"))
        textPairs.withColumn("t", lit(true))
          .join(vecPairs.withColumn("v", lit(true)), Seq("id_a", "id_b"), "full_outer")
          .select(
            when(col("t").isNotNull && col("v").isNotNull, "both")
              .when(col("t").isNotNull, "text_only")
              .otherwise("vector_only").as("signal"))
          .groupBy(col("signal")).agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("signal"))
      },
      Some(s"""${simhashSql64(src = "pd").replaceFirst("WITH ",
          """WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
            pd AS (SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id + 1000000000000, text
            FROM documents WHERE doc_id % 6 = 0), """)},
        $simhashCandSql64,
        tp AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        aug AS (
          SELECT vec_id, embedding, label FROM embeddings
          UNION ALL
          SELECT vec_id + 1000000000000,
            list_prepend(CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS FLOAT), embedding[2:]),
            label
          FROM embeddings WHERE vec_id % 10 = 0),
        cc AS (SELECT vec_id, label, embedding,
            (${srpCellCaseSql("embedding")}) AS cell FROM aug),
        vp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM cc a JOIN cc b
            ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE ${cosDuck("a.embedding", "b.embedding")} >= 0.95),
        u AS (SELECT
            tp.id_a IS NOT NULL AS t, vp.id_a IS NOT NULL AS v
          FROM tp FULL OUTER JOIN vp
            ON vp.id_a = tp.id_a AND vp.id_b = tp.id_b)
        SELECT CASE WHEN t AND v THEN 'both'
            WHEN t THEN 'text_only' ELSE 'vector_only' END AS signal,
          COUNT(*) AS n_pairs
        FROM u GROUP BY 1 ORDER BY 1""")),

    // ---- MMR (maximal marginal relevance) DIVERSIFIED top-k: the
    // result-diversification step between retrieval and consumption —
    // rerank a candidate pool so each pick maximizes relevance MINUS its
    // worst redundancy against what's already picked (λ = 0.5, where
    // argmax(λ·rel − (1−λ)·maxsim) ≡ argmax(rel − maxsim) on the shared
    // 1e-4 integer grid — tie-free and engine-exact; first pick is pure
    // relevance, the standard convention). The DISTRIBUTED work is the
    // retrieval: one full-scan cosine top-20 (TakeOrdered — at corpus
    // scale this is the ANN probe, q35/q38's shape) plus the pool's
    // pairwise similarity matrix (20×19, computed as a broadcast
    // self-join of the checkpointed pool). The greedy selection itself
    // is O(k·|pool|) over a BOUNDED collect (≤ 20 + 380 rows — same
    // driver-artifact discipline as q131's ADC lookup table); the picks
    // rejoin the pool so the gate output closes through one lineage.
    // The oracle unrolls the 5 greedy rounds as CTEs (the kmeansCtes
    // precedent for driver-bounded iteration).
    ("q144_mmr_rerank",
      (s: SparkSession, dir: String) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val pool = e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("embedding"),
            floor(expr(cosSpark("embedding", "qv")) * 1e4 + 0.5)
              .cast("long").as("rel4"))
          .orderBy(desc("rel4"), asc("vec_id")).limit(20)
          .localCheckpoint()
        val pairs = pool.select(col("vec_id").as("a"), col("embedding").as("ea"))
          .join(broadcast(pool.select(col("vec_id").as("b"), col("embedding").as("eb"))),
            col("a") =!= col("b"))
          .select(col("a"), col("b"),
            floor(expr(cosSpark("ea", "eb")) * 1e4 + 0.5).cast("long").as("p4"))
        val rel = pool.select(col("vec_id"), col("rel4")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val pmap = pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        // the bounded collects above are actions too — arm the pool's
        // release only NOW, so it fires on the consumer's terminal action
        // (the gate write through the final join), not on the first collect
        Scoped.releaseAfterUse(pool)
        var picked = Vector.empty[(Long, Long)] // (vec_id, score4)
        (1 to 5).foreach { _ =>
          val chosen = picked.map(_._1).toSet
          val best = rel.keysIterator.filterNot(chosen)
            .map { d =>
              val sc = if (picked.isEmpty) rel(d)
                else rel(d) - picked.iterator.map(p => pmap((d, p._1))).max
              (d, sc)
            }
            .minBy { case (d, sc) => (-sc, d) }
          picked :+= best
        }
        val selDf = picked.zipWithIndex
          .map { case ((v, sc), i) => (i + 1L, v, sc) }
          .toDF("rank", "vec_id", "score4")
        pool.select(col("vec_id"), col("rel4"))
          .join(broadcast(selDf), Seq("vec_id"))
          .select(col("rank"), col("vec_id"), col("rel4"), col("score4"))
          .orderBy(col("rank"))
      },
      Some {
        def round(r: Int): String =
          s"""r$r AS (SELECT p.vec_id, p.rel4, p.rel4 - MAX(pr.p4) AS score4
            FROM pool p JOIN pr ON pr.a = p.vec_id
              AND pr.b IN (SELECT vec_id FROM sel${r - 1})
            WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
            GROUP BY p.vec_id, p.rel4),
          s$r AS (SELECT vec_id, rel4, score4 FROM r$r
            ORDER BY score4 DESC, vec_id LIMIT 1),
          sel$r AS (SELECT vec_id FROM sel${r - 1}
            UNION ALL SELECT vec_id FROM s$r)"""
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
          pool AS (SELECT vec_id, embedding,
              CAST(floor(${cosDuck("embedding", "qv")} * 10000 + 0.5) AS BIGINT) AS rel4
            FROM embeddings, q WHERE vec_id <> 0
            ORDER BY rel4 DESC, vec_id LIMIT 20),
          pr AS (SELECT a.vec_id AS a, b.vec_id AS b,
              CAST(floor(${cosDuck("a.embedding", "b.embedding")} * 10000 + 0.5)
                AS BIGINT) AS p4
            FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
          s1 AS (SELECT vec_id, rel4, rel4 AS score4 FROM pool
            ORDER BY rel4 DESC, vec_id LIMIT 1),
          sel1 AS (SELECT vec_id FROM s1),
          ${round(2)}, ${round(3)}, ${round(4)}, ${round(5)}
          SELECT CAST(rnk AS BIGINT) AS rank, vec_id, rel4, score4 FROM (
            SELECT 1 AS rnk, * FROM s1
            UNION ALL SELECT 2, * FROM s2
            UNION ALL SELECT 3, * FROM s3
            UNION ALL SELECT 4, * FROM s4
            UNION ALL SELECT 5, * FROM s5)
          ORDER BY rank"""
      }),

    // ---- entity resolution (record linkage): match a dirty vendor feed
    // against the part catalog — the cross-SOURCE sibling of the
    // within-corpus dedup family. The catalog entity string is
    // name+brand+type (the fixture's p_name alone has a 64-combo
    // vocabulary — blocking on it leaves an n²/64 in-block term, the
    // first cut MEASURED 14.7 s at sf0.1 on 28 M pairs; the composite
    // string has ~8 k distinct values and the same pipeline drops to
    // ~160 k pairs). The feed plants three candidate classes so every
    // verdict is load-bearing: exact duplicates (every 13th part,
    // distance 0), case-folded truncations (every 7th: UPPER(desc) minus
    // its last char — survives case-fold at distance 1), and
    // reversed-string decoys (every 11th — must come back UNMATCHED).
    // COMPLEMENTARY-KEY blocking: pass 1 keys on words 1..3 (drops the
    // last word, so edits there — the truncation — still block); pass 2
    // keys on words 2..4 (drops the first). Union the passes, dedup,
    // pre-prune with |length diff| ≤ 2 (necessary for levenshtein ≤ 2),
    // score case-folded levenshtein ≤ 2, best match per candidate by
    // (distance, key) window pick.
    //
    // Scale: blocking bounds the pair space (no all-pairs), and the
    // block key's cardinality must grow with the catalog (the q34→q126
    // width lesson applied to ER; production adds phonetic/LSH passes,
    // same union-dedup-verify shape). Joins are equi on the block keys;
    // the window partitions by candidate.
    ("q154_entity_resolution",
      (s: SparkSession, dir: String) => {
        val cat = t(s, dir, "part").select(col("p_partkey"),
          concat_ws(" ", col("p_name"), lower(col("p_brand")),
            lower(col("p_type"))).as("p_desc"))
        val cands = cat.filter(col("p_partkey") % 7 === 0 ||
            col("p_partkey") % 11 === 0 || col("p_partkey") % 13 === 0)
          .select((col("p_partkey") + lit(2000000000L)).as("cand_id"),
            when(col("p_partkey") % 7 === 0,
                expr("substring(upper(p_desc), 1, length(p_desc) - 1)"))
              .when(col("p_partkey") % 11 === 0, reverse(col("p_desc")))
              .otherwise(col("p_desc")).as("cand_name"))
        // the blocked-pair term is n²/|blocks| and the 3-word key space
        // is VOCABULARY-bounded (it does not grow with the catalog):
        // measured 93× pairs for 10× parts at sf1 (76 k → 7.1 M), the
        // q34→q126 quadratic resurfacing in ER form. Above the
        // BlockPolicy band each complementary key is refined with the
        // first 3 chars of the word it OMITS — loss-free for every
        // corruption class the operator is specified against (case is
        // normalized, truncation drops the string's final char, never
        // the omitted word's prefix) and mirrored by a CASE on COUNT(*)
        // in the oracle so both engines pick the same space.
        val refine = graft.core.BlockPolicy.refineNameBlocks(cat.count())
        def key(c: String, start: Int, omitted: Int): org.apache.spark.sql.Column = {
          val base = s"concat_ws(' ', slice(split(lower($c), ' '), $start, 3))"
          if (refine)
            expr(s"$base || ' ' || substring(element_at(split(lower($c), ' '), $omitted), 1, 3)")
          else expr(base)
        }
        def pass(k: String => org.apache.spark.sql.Column): DataFrame =
          cands.withColumn("bk", k("cand_name"))
            .join(cat.withColumn("bk", k("p_desc")), Seq("bk"))
            .filter(abs(length(col("cand_name")) - length(col("p_desc"))) <= 2)
            .select(col("cand_id"), col("cand_name"),
              col("p_partkey"), col("p_desc"))
        val pairs = pass(key(_, 1, 4))
          .unionByName(pass(key(_, 2, 1)))
          .distinct()
          .withColumn("dist",
            levenshtein(lower(col("cand_name")), lower(col("p_desc")))
              .cast("long"))
          .filter(col("dist") <= 2)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cand_id")).orderBy(col("dist"), col("p_partkey"))
        val best = pairs.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cand_id"), col("p_partkey").as("best_partkey"),
            col("dist").as("best_distance"))
        cands.join(best, Seq("cand_id"), "left")
          .select(col("cand_id"), col("best_partkey").isNotNull.as("matched"),
            col("best_partkey"), col("best_distance"))
          .orderBy(col("cand_id"))
      },
      Some {
        // the banded key refinement (BlockPolicy.refineNameBlocks),
        // mirrored as a CASE on COUNT(*) — the q161 idiom
        def bk(v: String, a: Int, b: Int, omitted: Int) = {
          val base = s"""array_to_string(list_slice(
                 string_split(lower($v), ' '), $a, $b), ' ')"""
          s"""CASE WHEN (SELECT n FROM pcnt) >= 100000
               THEN $base || ' ' ||
                 substring(string_split(lower($v), ' ')[$omitted], 1, 3)
               ELSE $base END"""
        }
        s"""WITH pcnt AS (SELECT COUNT(*) AS n FROM part),
        cat AS (SELECT p_partkey,
            p_name || ' ' || lower(p_brand) || ' ' || lower(p_type) AS p_desc
          FROM part),
        cands AS (SELECT p_partkey + 2000000000 AS cand_id,
            CASE WHEN p_partkey % 7 = 0
                   THEN substring(upper(p_desc), 1, length(p_desc) - 1)
                 WHEN p_partkey % 11 = 0 THEN reverse(p_desc)
                 ELSE p_desc END AS cand_name
          FROM cat
          WHERE p_partkey % 7 = 0 OR p_partkey % 11 = 0 OR p_partkey % 13 = 0),
        ck AS (SELECT cand_id, cand_name,
            (${bk("cand_name", 1, 3, 4)}) AS bk1,
            (${bk("cand_name", 2, 4, 1)}) AS bk2 FROM cands),
        pk AS (SELECT p_partkey, p_desc,
            (${bk("p_desc", 1, 3, 4)}) AS bk1,
            (${bk("p_desc", 2, 4, 1)}) AS bk2 FROM cat),
        rawpairs AS (
          SELECT DISTINCT cand_id, cand_name, p_partkey, p_desc FROM (
            SELECT c.cand_id, c.cand_name, p.p_partkey, p.p_desc
            FROM ck c JOIN pk p ON c.bk1 = p.bk1
            UNION ALL
            SELECT c.cand_id, c.cand_name, p.p_partkey, p.p_desc
            FROM ck c JOIN pk p ON c.bk2 = p.bk2)
          WHERE abs(length(cand_name) - length(p_desc)) <= 2),
        pairs AS (SELECT cand_id, p_partkey,
            CAST(levenshtein(lower(cand_name), lower(p_desc)) AS BIGINT)
              AS dist
          FROM rawpairs
          WHERE levenshtein(lower(cand_name), lower(p_desc)) <= 2),
        best AS (SELECT cand_id, p_partkey AS best_partkey,
            dist AS best_distance,
            row_number() OVER (PARTITION BY cand_id
              ORDER BY dist, p_partkey) AS rn
          FROM pairs)
        SELECT c.cand_id, b.best_partkey IS NOT NULL AS matched,
          b.best_partkey, b.best_distance
        FROM cands c
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (cand_id)
        ORDER BY c.cand_id"""
      })
  ,

    // ---- embedding-space covariance DIAGNOSTICS (whitening /
    // anisotropy prep): per-dimension variance and the most-coupled
    // off-diagonal covariance pairs — the statistics a whitening or
    // dimension-drop decision reads before PQ/IVF config. All sums ride
    // EXACT BIGINT numerators (per-row x_i·x_j quantized to the 1e-8
    // grid, the q150 discipline), so partition order cannot move a bit;
    // the final cov lands on a 1e-6 grid from integer inputs via
    // identical */÷ shapes in both engines. d is read from the data
    // (size(embedding)), never hard-coded. The covariance construction
    // itself is [[covGrid]]/[[covGridCtes]], shared with q217's power
    // iteration — one arithmetic, two surfaces.
    //
    // Scale: per-row work is the inherent d(d+1)/2 product terms,
    // map-side; ONE combinable (i,j)-keyed aggregate ⇒ wire cost is
    // partitions × d², independent of row count. Means join back as
    // broadcast d-row sides. element_at here reads a STORED column
    // (cheap attribute access — the HOF-no-CSE trap applies to computed
    // arrays only). Top-10 off-diag is TakeOrdered, no global sort.
    ("q157_embedding_covariance",
      (s: SparkSession, dir: String) => {
        val cov = covGrid(s, dir)
        val diag = cov.filter(col("i") === col("j"))
          .select(lit("diag").as("kind"), col("i"), col("j"), col("cov6"))
        val offTop = cov.filter(col("i") =!= col("j"))
          .orderBy(abs(col("cov6")).desc, col("i"), col("j")).limit(10)
          .select(lit("offdiag_top").as("kind"), col("i"), col("j"),
            col("cov6"))
        diag.unionByName(offTop).orderBy(col("kind"), col("i"), col("j"))
      },
      Some(s"""WITH $covGridCtes,
        diag AS (SELECT 'diag' AS kind, i, j, cov6 FROM cov WHERE i = j),
        offtop AS (SELECT 'offdiag_top' AS kind, i, j, cov6 FROM cov
          WHERE i <> j ORDER BY abs(cov6) DESC, i, j LIMIT 10)
        SELECT * FROM (SELECT * FROM diag UNION ALL SELECT * FROM offtop)
        ORDER BY kind, i, j"""))
  ,

    // ---- PCA TOP COMPONENT by power iteration (distributed linear
    // algebra over the covariance grid): the first principal direction,
    // leading eigenvalue, and explained-variance share of the embedding
    // space — what a whitening/dimension-drop decision actually wants
    // after q157's raw diagnostics. Twelve fixed power iterations
    // v ← C·v over q217's L∞-normalized integer state: the matvec
    // numerator Σ cov6·vq is an EXACT BIGINT sum (≤ d·5e12, order-free),
    // and the per-step renormalization floor(w/max|w|·1e6 + 0.5) is
    // per-ELEMENT IEEE ops from exactly-representable integers — no
    // float summation anywhere, so both engines walk bit-identical
    // grids (the q29 fixed-iteration discipline, applied to a vector
    // instead of a rank). λ falls out of the L∞ normalization itself
    // (at a fixed point max|C·v| = λ when max|v| = 1): eigen6 =
    // max|w| div 1e12·1e6 — integer floor division, no Rayleigh
    // quotient float fold. Output is ALL integer: the component on the
    // 1e-6 grid, eigen6, trace6, evr4 = eigen6·10⁴ div trace6, and the
    // last-step L1 delta (convergence evidence on the gate itself).
    // PcaPowerSpec pins accuracy on a crafted anisotropic corpus where
    // the top direction is known analytically.
    //
    // Scale: the corpus-sized work is ONE covariance pass (covGrid's
    // d²-bounded shape); the iteration state is d rows and the matrix
    // d² rows REGARDLESS of corpus size — checkpointed once and reused,
    // each step a broadcast join + combinable d-keyed sum. At 100 TB
    // the twelve steps cost twelve trivial jobs over 4096 rows; nothing
    // re-reads the table.
    ("q217_pca_power_iteration",
      (s: SparkSession, dir: String) =>
        pcaPowerIteration(t(s, dir, "embeddings")),
      Some(pcaPowerSql))
  ,

    // ---- PCA SECOND component by DEFLATION (Hotelling): subtract the
    // rank-one term λ₁v₁v₁ᵀ from the covariance and power-iterate the
    // residual — the top-2 subspace a dimension-drop or anisotropy-
    // correction decision actually wants (is the space effectively
    // 1-D, or does a second direction carry comparable mass?). The
    // deflation term rides PER-ELEMENT IEEE ops from exactly-
    // representable integers (λ6·vq_i/1e6·vq_j/1e6, every intermediate
    // < 2^53), then floors back onto cov6's 1e-6 grid, so the residual
    // matrix is integer-identical cross-engine and the second walk is
    // the SAME powerLoop as q217's first — one engine, two components.
    // Gate carries both eigenvalues, pc2 on the grid, evr4 of each,
    // and the v₁·v₂ dot (orthogonality evidence on the gate: exact
    // BIGINT, bounded by d·1e12 — near-0 means the deflation worked;
    // rounding residue keeps it from being exactly 0, which also keeps
    // the column non-vacuous).
    //
    // Scale: q217's argument twice — ONE corpus-sized covariance pass,
    // then 24 d²-row iteration steps whose cost is independent of
    // corpus size.
    ("q219_pca_deflation",
      (s: SparkSession, dir: String) =>
        pcaDeflation(t(s, dir, "embeddings")),
      Some(pcaDeflationSql))
  ,

    // ---- kNN LABEL PROPAGATION eval (semi-supervised labeling over the
    // ANN machinery): new unlabeled points — planted as perturbed copies
    // of every 5th vector (first coordinate halved, id + 1e12), so the
    // correct label is KNOWN — are classified by similarity-WEIGHTED
    // 5-NN vote against the labeled base within a shared SRP cell whose
    // width is BANDED on corpus size (4/6/10 bits at ≥0/2k/10k vectors —
    // cells hold ~32 vectors at every scale; a fixed width re-creates
    // the q34 n²/cells term, measured 0.90×-linear before this banding).
    // The perturbed copy sits at cosine ≥ 0.98 of its
    // source while unrelated fixture pairs stay ≤ 0.51, so the weighted
    // vote recovers the source label WHENEVER the cell blocking finds
    // the source — the confusion matrix's diagonal measures blocking
    // recall for near-dup probes (q114's question, asked of the vector
    // side), off-diagonal + pred −1 rows are the measured misses, not
    // hidden ones. Weights are sim4 × 1e4 integers; vote ties break
    // toward the smaller label.
    //
    // Scale: probes join the base on the cell key only (q36's bounded-
    // candidate shape; cells grow with the corpus per the q126 width
    // lesson); the rank and vote windows are k-bounded per probe; the
    // confusion rollup is one combinable |labels|²-row aggregate.
    ("q161_knn_label_eval",
      (s: SparkSession, dir: String) => {
        import graft.similarity.Ivf
        val e0 = t(s, dir, "embeddings")
        // the cell count must GROW with the corpus (the q34→q126 width
        // lesson — a fixed 16-cell space measured 0.90×-linear at sf1 on
        // its n²/cells candidate term): banded bits keep cells at ~32
        // vectors at every fixture scale; the bands are mirrored by a
        // CASE on COUNT(*) in the oracle, so both engines pick the same
        // width from the data. Band values live in BlockPolicy (r13 #7).
        val nBase = e0.count()
        val bits = graft.core.BlockPolicy.srpBits(nBase)
        val base = e0
          .withColumn("cell", Ivf.cellCol("embedding", bits, Ivf.DefaultDims))
          .select(col("vec_id").as("id_b"), col("label").as("nb_l"),
            col("cell"), col("embedding").as("eb"))
        val probes = e0.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 1000000000000L).as("id_a"),
            col("label").as("true_l"),
            concat(
              array(expr(
                "cast(cast(element_at(embedding, 1) as double) * 0.5d as float)")),
              expr("slice(embedding, 2, size(embedding) - 1)")).as("ea"))
          .withColumn("cell", Ivf.cellCol("ea", bits, Ivf.DefaultDims))
        val wRank = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id_a")).orderBy(desc("sim4"), asc("id_b"))
        val wVote = org.apache.spark.sql.expressions.Window
          .partitionBy(col("id_a")).orderBy(desc("w"), asc("nb_l"))
        val pred = probes.join(base, Seq("cell"))
          .withColumn("sim4", round(expr(cosSpark("ea", "eb")), 4))
          .withColumn("rk", row_number().over(wRank))
          .filter(col("rk") <= 5)
          .groupBy(col("id_a"), col("nb_l"))
          // floor(x*1e4 + 0.5): sim4*10000 sits just below the integer for
          // 573 of the 4-dp grid points (and cosine can be negative, where
          // Spark's cast truncates toward zero but DuckDB's rounds)
          .agg(sum(floor(col("sim4") * 10000 + 0.5).cast("long")).as("w"))
          .withColumn("vr", row_number().over(wVote))
          .filter(col("vr") === 1)
          .select(col("id_a"), col("nb_l").as("pred_l"))
        probes.select(col("id_a"), col("true_l"))
          .join(pred, Seq("id_a"), "left")
          .groupBy(col("true_l").cast("long").as("true_label"),
            coalesce(col("pred_l"), lit(-1)).cast("long").as("pred_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("true_label"), col("pred_label"))
      },
      Some({
        s"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
        base AS (SELECT vec_id AS id_b, label AS nb_l, embedding AS eb,
            (${srpCellCaseSql("embedding")}) AS cell FROM embeddings),
        pr0 AS (SELECT vec_id + 1000000000000 AS id_a, label AS true_l,
            list_prepend(CAST(CAST(embedding[1] AS DOUBLE) * 0.5 AS FLOAT),
              embedding[2:]) AS ea
          FROM embeddings WHERE vec_id % 5 = 0),
        probes AS (SELECT id_a, true_l, ea,
            (${srpCellCaseSql("ea")}) AS cell FROM pr0),
        pairs AS (SELECT p.id_a, b.id_b, b.nb_l,
            ROUND(${cosDuck("p.ea", "b.eb")}, 4) AS sim4
          FROM probes p JOIN base b ON p.cell = b.cell),
        rk AS (SELECT *, row_number() OVER (PARTITION BY id_a
            ORDER BY sim4 DESC, id_b) AS rk FROM pairs),
        votes AS (SELECT id_a, nb_l,
            CAST(SUM(CAST(floor(sim4 * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS w
          FROM rk WHERE rk <= 5 GROUP BY 1, 2),
        pick AS (SELECT id_a, nb_l AS pred_l, row_number() OVER (
            PARTITION BY id_a ORDER BY w DESC, nb_l) AS vr FROM votes)
        SELECT CAST(p.true_l AS BIGINT) AS true_label,
          CAST(COALESCE(k.pred_l, -1) AS BIGINT) AS pred_label,
          COUNT(*) AS n
        FROM probes p LEFT JOIN (SELECT id_a, pred_l FROM pick WHERE vr = 1) k
          ON p.id_a = k.id_a
        GROUP BY 1, 2 ORDER BY true_label, pred_label"""
      }))
  ,

    // ---- dimension-TRUNCATION retrieval eval (the Matryoshka/MRL
    // question): how much of the exact top-5 neighborhood survives when
    // cosine runs on only the first 32 / 16 embedding dimensions? For
    // each probe (vec_id < 5, q74's batch), the top-5 at each width is
    // compared to the full-width top-5 — overlap@5 per (width, probe) is
    // the number a dimension-drop decision (cheaper ANN index, smaller
    // PQ codes) is made on. Widths share ONE scan: the corpus side is
    // crossed with a 3-row width table and a broadcast probe batch, the
    // sliced cosine ranks on the 1e-4 grid with vec_id tie-break, and
    // the overlap join is between 5-row-per-key sets.
    //
    // Scale: corpus × probes × widths stays probe-bounded map work over
    // one corpus pass (q74's broadcast-probe shape); per-key top-5 via
    // rank ≤ 5 windows (WindowGroupLimit); overlap joins touch 5·|probes|
    // rows per width. At production scale the widths ride the same SRP/
    // IVF candidate generation as q38 — the eval shape is unchanged.
    ("q169_dim_truncation_eval",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
        val probes = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val widths = s.range(1).select(
          explode(expr("array(64, 32, 16)")).as("dims"))
        val ranked = e.filter(col("vec_id") >= 5)
          .crossJoin(broadcast(probes))
          .crossJoin(broadcast(widths))
          .withColumn("sim4", round(expr(cosSpark(
            "slice(embedding, 1, dims)", "slice(qv, 1, dims)")), 4))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("dims"), col("qid"))
              .orderBy(desc("sim4"), asc("vec_id"))))
          .filter(col("rk") <= 5)
          .select(col("dims"), col("qid"), col("vec_id"))
        val full = ranked.filter(col("dims") === 64)
          .select(col("qid"), col("vec_id"))
        val overlaps = ranked.join(full, Seq("qid", "vec_id"), "left_semi")
          .groupBy(col("dims"), col("qid"))
          .agg(count(lit(1)).as("n_ov"))
        // a width whose top-5 shares NOTHING with full-dim must report 0,
        // not vanish — left join from the (width, probe) universe
        widths.crossJoin(probes.select(col("qid")))
          .join(overlaps, Seq("dims", "qid"), "left_outer")
          .select(col("dims").cast("long").as("dims"), col("qid"),
            coalesce(col("n_ov"), lit(0L)).as("n_overlap5"))
          .orderBy(col("dims"), col("qid"))
      },
      Some(s"""WITH probes AS (SELECT vec_id AS qid, embedding AS qv
            FROM embeddings WHERE vec_id < 5),
        widths AS (SELECT unnest([64, 32, 16]) AS dims),
        ranked0 AS (SELECT w.dims, p.qid, e.vec_id,
            ROUND(${cosDuck("list_slice(e.embedding, 1, w.dims)",
              "list_slice(p.qv, 1, w.dims)")}, 4) AS sim4
          FROM embeddings e, probes p, widths w WHERE e.vec_id >= 5),
        ranked AS (SELECT dims, qid, vec_id, row_number() OVER (
            PARTITION BY dims, qid ORDER BY sim4 DESC, vec_id) AS rk
          FROM ranked0),
        top AS (SELECT dims, qid, vec_id FROM ranked WHERE rk <= 5),
        fullw AS (SELECT qid, vec_id FROM top WHERE dims = 64),
        ov AS (SELECT t.dims AS dims, t.qid AS qid, COUNT(*) AS n_ov
          FROM top t JOIN fullw f ON t.qid = f.qid AND t.vec_id = f.vec_id
          GROUP BY 1, 2)
        SELECT CAST(w.dims AS BIGINT) AS dims, p.qid,
          COALESCE(ov.n_ov, 0) AS n_overlap5
        FROM widths w CROSS JOIN probes p
        LEFT JOIN ov ON ov.dims = w.dims AND ov.qid = p.qid
        ORDER BY w.dims, p.qid"""))
  ,

    // ---- cross-SOURCE duplication flow (dedup provenance): q32's
    // LSH-verified near-dup pairs aggregated into a source×source
    // matrix — which crawls/feeds duplicate which, the number that
    // decides whether a source is worth re-ingesting and where the
    // dedup budget goes. Pairs come from the identical shingle→minhash→
    // band→verify chain as q32 (same helpers, same SQL generator — one
    // place mirrors the permutation constants); sources join on doc id,
    // the pair key is unordered via (least, greatest), and the mean
    // verified Jaccard rides exact BIGINT j4 numerators (sum of the
    // 4-dp-rounded values ×1e4, floor-divided — no float accumulation).
    //
    // Scale: the pair set is LSH-bounded (never all-pairs); the source
    // join is doc-keyed equi; the matrix is |sources|²-bounded. The
    // fixture's planted near-dup families cross sources, so off-diagonal
    // cells are load-bearing.
    ("q171_source_dup_flow",
      (s: SparkSession, dir: String) => {
        val sh = shingles(s, dir).localCheckpoint()
        Scoped.releaseAfterUse(sh)
        val bands = minhashBands(sh)
        val cand = bands.select(col("doc_id").as("id_a"), col("band"), col("sig"))
          .join(bands.select(col("doc_id").as("id_b"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val verified = cand
          .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("shingle")),
            Seq("id_b", "shingle"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")),
            Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")),
            Seq("id_b"))
          .filter(col("common").cast("double") /
            (col("na") + col("nb") - col("common")) >= 0.5)
          .select(col("id_a"), col("id_b"),
            // floor(x*1e4 + 0.5) grid (the q144/q157 idiom): round(x,4)*1e4
            // then cast truncates in Spark but rounds in DuckDB's CAST —
            // 573 of the 10000 4-dp grid points land just below the integer
            floor(col("common").cast("double") /
              (col("na") + col("nb") - col("common")) * 10000 + 0.5)
              .cast("long").as("j4"))
        val srcs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"))
        verified
          .join(srcs.select(col("doc_id").as("id_a"), col("source").as("sa")),
            Seq("id_a"))
          .join(srcs.select(col("doc_id").as("id_b"), col("source").as("sb")),
            Seq("id_b"))
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"), col("j4"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sum_j4"))
          .select(col("src_a"), col("src_b"), col("n_pairs"),
            expr("sum_j4 div n_pairs").as("avg_j4"),
            (col("src_a") =!= col("src_b")).as("cross_source"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some {
        s"""WITH $shinglesSql,
          sh_s AS (SELECT doc_id, shingle FROM sh),
          ${minhashBandsSql("s")},
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands_s a JOIN bands_s b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          common AS (SELECT c.id_a, c.id_b, COUNT(*) AS common
                     FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                     JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
                     GROUP BY c.id_a, c.id_b),
          verified AS (SELECT id_a, id_b,
              CAST(floor(CAST(common AS DOUBLE) / (na.n + nb.n - common)
                * 10000 + 0.5) AS BIGINT) AS j4
            FROM common JOIN sizes na ON na.doc_id = id_a
            JOIN sizes nb ON nb.doc_id = id_b
            WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5),
          flow AS (SELECT least(da.source, db.source) AS src_a,
              greatest(da.source, db.source) AS src_b, v.j4
            FROM verified v
            JOIN documents da ON da.doc_id = v.id_a
            JOIN documents db ON db.doc_id = v.id_b)
          SELECT src_a, src_b, COUNT(*) AS n_pairs,
            CAST(SUM(j4) AS BIGINT) // COUNT(*) AS avg_j4,
            src_a <> src_b AS cross_source
          FROM flow GROUP BY 1, 2 ORDER BY src_a, src_b"""
      }),

    // ---- asymmetric CONTAINMENT dedup (Broder's containment, not
    // resemblance): a document wrapped in boilerplate — quoted articles,
    // templated mirrors, license-stamped re-posts — has containment
    // |Sa∩Sb|/|Sa| ≈ 1 while its Jaccard can sit far BELOW every
    // resemblance threshold in q31/q32 (the wrapper inflates the union).
    // This op reports ordered pairs with containment ≥ 0.9 plus the
    // Jaccard each pair would have scored, and flags the ones resemblance
    // dedup would have MISSED (jac4 < 5000 — q31's own 0.5 cut).
    //
    // The fixture corpus has no wrapped copies, so the derivation PLANTS
    // them (the q30 pattern): every 40th doc re-issued under id + 2e12
    // inside 64+64 distinct all-letter boilerplate words, built by
    // char arithmetic so both engines generate identical text. The
    // filler is SEEDED with the doc_id (four base-26 tail letters,
    // period 26⁴ — ADVICE r15): identical wrappers made short originals'
    // wrapper copies score spurious wrapper-vs-wrapper containment at
    // small sf; per-doc filler has zero cross-wrapper shingle overlap
    // at every scale, so every emitted pair is a real containment.
    //
    // Scale: candidate generation joins on IDENTITY-BEARING shingles only
    // — a df ≤ 50 cutoff (P5's df-cutoff lesson applied to dedup
    // blocking) drops boilerplate shingles, so per-shingle pair fan-out
    // is ≤ df², total candidate work ≤ |shingles|·50 — linear in the
    // corpus. (The planted wrapper shingles themselves cross df=50 at
    // sf0.01 and are dropped — the cutoff is load-bearing at fixture
    // scale.) Containment is then verified EXACTLY on candidates over the
    // full shingle sets (the q32 candidates-then-verify shape), so the
    // cutoff can only lose candidates sharing < 1 rare shingle — and a
    // contained doc shares ALL its shingles with its container.
    ("q178_containment_dup",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        // doc_id resolves against the SELECT's input row (the original id)
        def filler(p: String) = expr(
          s"concat_ws(' ', transform(sequence(1, 64), i -> concat('$p', " +
            "char(97 + (i - 1) % 26), char(97 + (i - 1) div 26), " +
            "char(cast(97 + doc_id % 26 as int)), " +
            "char(cast(97 + (doc_id div 26) % 26 as int)), " +
            "char(cast(97 + (doc_id div 676) % 26 as int)), " +
            "char(cast(97 + (doc_id div 17576) % 26 as int)))))")
        val pfx = filler("w")
        val sfx = filler("x")
        val aug = d.unionByName(
          d.filter(col("doc_id") % 40 === 0)
            .select((col("doc_id") + 2000000000000L).as("doc_id"),
              concat(pfx, lit(" "), col("text"), lit(" "), sfx).as("text")))
        // per-doc shingle SET built on the doc's OWN row — no shuffle ever
        // touches text: array_distinct(transform(...)) over the token
        // array, each 5-gram compacted to [[hash60]] inside the lambda.
        // The checkpoint is |docs| array rows (~55 longs each), not a
        // |docs|×55 flat table; the flat view for df-counting explodes
        // the STORED array (plain explode — no InferFilters tax, see
        // Portable.explodeLean's doc). Set intersections then run row-
        // local (array_intersect), replacing r15's first-cut 19M-row
        // verify shuffle+groupBy (sf1 A/B in SCALING.md).
        val docsh = aug
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .filter(size(col("ws")) >= 5)
          // native fused gram kernel (GramHash60Spec pins bit-parity
          // with the portable HOF the oracle keeps)
          .select(col("doc_id"),
            expr("array_distinct(gram_hash60(ws, 5))").as("arr"))
          .localCheckpoint()
        Scoped.releaseAfterUse(docsh)
        val flat = docsh.select(col("doc_id"), explode(col("arr")).as("shingle"))
        val rare = flat.join(
          flat.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= 50L).select(col("shingle")),
          Seq("shingle"), "left_semi")
        val cand = rare.select(col("doc_id").as("id_a"), col("shingle"))
          .join(rare.select(col("doc_id").as("id_b"), col("shingle")),
            Seq("shingle"))
          .filter(col("id_a") =!= col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
        cand
          .join(docsh.select(col("doc_id").as("id_a"), col("arr").as("sa")),
            Seq("id_a"))
          .join(docsh.select(col("doc_id").as("id_b"), col("arr").as("sb")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
            size(col("sa")).cast("long").as("na"),
            size(col("sb")).cast("long").as("nb"))
          // containment ≥ 0.9 as exact integers — no double threshold
          .filter(col("common") * 10 >= col("na") * 9)
          .select(col("id_a").as("contained_id"),
            col("id_b").as("container_id"), col("na"), col("nb"),
            expr("common * 10000 div na").as("cont4"),
            expr("common * 10000 div (na + nb - common)").as("jac4"))
          .withColumn("resemblance_missed", col("jac4") < 5000L)
          .orderBy(col("contained_id"), col("container_id"))
      },
      Some("""WITH aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000000000,
            array_to_string(list_transform(range(1, 65),
              i -> 'w' || chr(CAST(97 + (i - 1) % 26 AS INTEGER)) || chr(CAST(97 + (i - 1) // 26 AS INTEGER))
                || chr(CAST(97 + doc_id % 26 AS INTEGER)) || chr(CAST(97 + (doc_id // 26) % 26 AS INTEGER))
                || chr(CAST(97 + (doc_id // 676) % 26 AS INTEGER)) || chr(CAST(97 + (doc_id // 17576) % 26 AS INTEGER))), ' ')
            || ' ' || text || ' ' ||
            array_to_string(list_transform(range(1, 65),
              i -> 'x' || chr(CAST(97 + (i - 1) % 26 AS INTEGER)) || chr(CAST(97 + (i - 1) // 26 AS INTEGER))
                || chr(CAST(97 + doc_id % 26 AS INTEGER)) || chr(CAST(97 + (doc_id // 26) % 26 AS INTEGER))
                || chr(CAST(97 + (doc_id // 676) % 26 AS INTEGER)) || chr(CAST(97 + (doc_id // 17576) % 26 AS INTEGER))), ' ')
          FROM documents WHERE doc_id % 40 = 0),
        toks AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws
                 FROM aug WHERE len(regexp_extract_all(text, '[a-zA-Z]+')) >= 5),
        docsh AS (SELECT doc_id,
                    list_distinct(list_transform(range(0, greatest(len(ws) - 4, 0)),
                      i -> CAST(('0x' || substr(md5(array_to_string(
                        list_slice(ws, i + 1, i + 5), ' ')), 1, 15)) AS BIGINT))) AS arr
                  FROM toks),
        flat AS (SELECT doc_id, unnest(arr) AS shingle FROM docsh),
        rare AS (SELECT doc_id, shingle FROM flat
                 WHERE shingle IN (SELECT shingle FROM flat
                                   GROUP BY shingle HAVING COUNT(*) <= 50)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM rare a JOIN rare b
                 ON a.shingle = b.shingle AND a.doc_id <> b.doc_id),
        common AS (SELECT c.id_a, c.id_b,
                     CAST(len(list_intersect(da.arr, db.arr)) AS BIGINT) AS common,
                     CAST(len(da.arr) AS BIGINT) AS na,
                     CAST(len(db.arr) AS BIGINT) AS nb
                   FROM cand c JOIN docsh da ON da.doc_id = c.id_a
                   JOIN docsh db ON db.doc_id = c.id_b)
        SELECT id_a AS contained_id, id_b AS container_id, na, nb,
          common * 10000 // na AS cont4,
          common * 10000 // (na + nb - common) AS jac4,
          common * 10000 // (na + nb - common) < 5000 AS resemblance_missed
        FROM common
        WHERE common * 10 >= na * 9
        ORDER BY contained_id, container_id""")),

    // ---- HARD-NEGATIVE mining for embedding-model training: per anchor,
    // the top-3 highest-cosine vectors of a DIFFERENT label (the
    // negatives a contrastive loss learns most from) plus the anchor's
    // best same-label cosine and the margin between them — margin ≤ 0 is
    // a label-noise / boundary signal the curriculum reads. The mining
    // sibling of q161 (which EVALUATES a classifier on the same blocked
    // pair space; this op EMITS training pairs).
    //
    // Scale: the pair space is Σ|cell|² within corpus-banded SRP cells
    // ([[graft.core.BlockPolicy.srpBits]] — cells grow with the corpus,
    // the q34→q126 width lesson), never all-pairs; cosine is the codegen'd
    // [[graft.functions.CosineSim]]; per-anchor top-3 is rank ≤ k over an
    // (anchor)-partitioned window (Partial WindowGroupLimit — per-anchor
    // wire cost is partitions × 3 rows); the positive side is a plain max
    // aggregate. All scores on the floor(x·1e4 + 0.5) BIGINT grid (the
    // q161 negative-cosine cast discipline).
    ("q179_hard_negatives",
      (s: SparkSession, dir: String) => {
        import graft.similarity.Ivf
        val e0 = t(s, dir, "embeddings")
        val bits = graft.core.BlockPolicy.srpBits(e0.count())
        val base = e0.withColumn("cell",
          Ivf.cellCol("embedding", bits, Ivf.DefaultDims))
        // the blocked cosine self-join feeds TWO consumers (top-3 negs
        // and the same-label max), so it is projected down to 5 slim
        // columns — the embeddings never survive the join — and
        // checkpointed once (ADVICE r15: a two-consumer frame left lazy
        // runs twice). The rank<=3 WindowGroupLimit rewrite is a
        // physical rewrite on the window node itself, so the PlanSpec
        // pin holds over the checkpointed scan.
        val pairs = base
          .select(col("vec_id").as("anchor_id"), col("label").as("la"),
            col("cell"), col("embedding").as("ea"))
          .join(base.select(col("vec_id").as("cand_id"),
            col("label").as("lb"), col("cell"), col("embedding").as("eb")),
            Seq("cell"))
          .filter(col("anchor_id") =!= col("cand_id"))
          .select(col("anchor_id"), col("la"), col("cand_id"), col("lb"),
            floor(round(expr(cosSpark("ea", "eb")), 4) * 10000 + 0.5)
              .cast("long").as("sim4i"))
          .localCheckpoint()
        Scoped.releaseAfterUse(pairs)
        val wNeg = org.apache.spark.sql.expressions.Window
          .partitionBy(col("anchor_id")).orderBy(desc("sim4i"), asc("cand_id"))
        val negs = pairs.filter(col("lb") =!= col("la"))
          .withColumn("rk", row_number().over(wNeg))
          .filter(col("rk") <= 3)
        val pos = pairs.filter(col("lb") === col("la"))
          .groupBy(col("anchor_id")).agg(max(col("sim4i")).as("pos4i"))
        negs.join(pos, Seq("anchor_id"), "left")
          .select(col("anchor_id"), col("rk").cast("long").as("rk"),
            col("cand_id").as("neg_id"), col("lb").cast("long").as("neg_label"),
            col("sim4i").as("neg4i"),
            // no same-label neighbor in the cell → sentinel below the
            // cosine grid floor (−10000), kept distinguishable from it
            coalesce(col("pos4i"), lit(-10001L)).as("pos4i"))
          .withColumn("margin4i", col("pos4i") - col("neg4i"))
          .orderBy(col("anchor_id"), col("rk"))
      },
      Some {
        s"""WITH cnt AS (SELECT COUNT(*) AS n FROM embeddings),
          base AS (SELECT vec_id, label, embedding,
              (${srpCellCaseSql("embedding")}) AS cell FROM embeddings),
          pairs AS (SELECT a.vec_id AS anchor_id, a.label AS la,
              b.vec_id AS cand_id, b.label AS lb,
              CAST(floor(round(${cosDuck("a.embedding", "b.embedding")}, 4)
                * 10000 + 0.5) AS BIGINT) AS sim4i
            FROM base a JOIN base b
            ON a.cell = b.cell AND a.vec_id <> b.vec_id),
          negs AS (SELECT anchor_id, cand_id, lb, sim4i,
              row_number() OVER (PARTITION BY anchor_id
                ORDER BY sim4i DESC, cand_id) AS rk
            FROM pairs WHERE lb <> la),
          pos AS (SELECT anchor_id, MAX(sim4i) AS pos4i
            FROM pairs WHERE lb = la GROUP BY anchor_id)
          SELECT n.anchor_id, CAST(n.rk AS BIGINT) AS rk,
            n.cand_id AS neg_id, CAST(n.lb AS BIGINT) AS neg_label,
            n.sim4i AS neg4i,
            COALESCE(p.pos4i, -10001) AS pos4i,
            COALESCE(p.pos4i, -10001) - n.sim4i AS margin4i
          FROM negs n LEFT JOIN pos p ON p.anchor_id = n.anchor_id
          WHERE n.rk <= 3
          ORDER BY n.anchor_id, n.rk"""
      }),

    // ---- WINNOWING fingerprint overlap (Schleimer/Wilkerson/Aiken,
    // SIGMOD'03 — the MOSS algorithm): per document, hash every token
    // 4-gram, slide a 4-hash window, and keep each window's MINIMUM hash
    // (ties to the RIGHTMOST position, the paper's rule — encoded as
    // min over hash*4 + (3 - offset) so one integer min does both).
    // Guarantee: any shared run of >= w + k - 1 = 7 tokens yields a
    // shared fingerprint; expected density 2/(w+1) of positions. This is
    // the LOCAL-overlap detector the family lacked: q111's CDC chunks
    // find shared long blocks cut at content boundaries, q178's
    // containment needs |Sa∩Sb|/|Sa| near 1 — winnowing reports partial
    // overlap (a spliced second half, a quoted paragraph) between
    // documents that are globally dissimilar, with a guaranteed floor.
    //
    // The fixture has no spliced docs, so the derivation PLANTS them
    // (the q178 pattern): every 60th doc re-issued under id + 3e12 with
    // its first half replaced by 64 unique filler words — the pair
    // shares only the second half, far below resemblance thresholds.
    //
    // Scale: fingerprinting is map-side on the doc's own row (ONE HOF
    // pass; each gram hashed w times rather than materializing a gram
    // array — 4x the md5s, no cross-projection inlining risk); the
    // fingerprint table is ~2/(w+1) of gram count; candidates join on
    // df <= 50 identity-bearing fingerprints (the q178 cutoff), and the
    // exact match count is a row-local array_intersect over the two
    // checkpointed fingerprint sets — no post-join aggregation.
    ("q181_winnowing_overlap",
      (s: SparkSession, dir: String) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val filler = expr("concat_ws(' ', transform(sequence(1, 64), " +
          "i -> concat('y', char(97 + (i - 1) % 26), char(97 + (i - 1) div 26))))")
        val twin = d.filter(col("doc_id") % 60 === 0)
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .filter(size(col("ws")) >= 14)
          .select((col("doc_id") + 3000000000000L).as("doc_id"),
            concat(filler, lit(" "), expr(
              "concat_ws(' ', slice(ws, size(ws) div 2 + 1, size(ws) - size(ws) div 2))"))
              .as("text"))
        val aug = d.unionByName(twin)
        val fps = aug
          .select(col("doc_id"),
            expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
          .filter(size(col("ws")) >= 7)
          // the shared [[winnowFpsExpr]] (also the stream twin's): the
          // fused gram kernel, bound once as a lambda value (q111 lesson)
          .select(col("doc_id"), expr(winnowFpsExpr).as("fps"))
          .localCheckpoint()
        Scoped.releaseAfterUse(fps)
        val flat = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
        val rare = flat.join(
          flat.groupBy(col("fp")).agg(count(lit(1)).as("df"))
            .filter(col("df") <= 50L).select(col("fp")),
          Seq("fp"), "left_semi")
        // candidate refinement (the q154 lesson, measured in SCALING.md):
        // a pair must share TWO rare fingerprints, not one — chance
        // 4-gram collisions in a bounded vocabulary are overwhelmingly
        // single-fingerprint (sf1: 1.11 M pairs at >=1 vs 7.4 k at >=2,
        // 150x), while a genuinely shared run of >= 14 tokens GUARANTEES
        // >= 2 fingerprints (winnowed positions are never more than w
        // apart), so the detection floor moves 7 -> 14 tokens — far
        // under any splice worth reporting
        val cand = rare.select(col("doc_id").as("id_a"), col("fp"))
          .join(rare.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("shared_rare"))
          .filter(col("shared_rare") >= 2L)
          .select(col("id_a"), col("id_b"))
        cand
          .join(fps.select(col("doc_id").as("id_a"), col("fps").as("fa")),
            Seq("id_a"))
          .join(fps.select(col("doc_id").as("id_b"), col("fps").as("fb")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("fa"), col("fb"))).cast("long").as("matched"),
            size(col("fa")).cast("long").as("na"),
            size(col("fb")).cast("long").as("nb"))
          .filter(col("matched") >= 3L)
          .select(col("id_a"), col("id_b"), col("matched"), col("na"), col("nb"),
            expr("matched * 10000 div (na + nb - matched)").as("sim4"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH twin AS (
          SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws
          FROM documents WHERE doc_id % 60 = 0),
        aug AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 3000000000000,
            array_to_string(list_transform(range(1, 65),
              i -> 'y' || chr(CAST(97 + (i - 1) % 26 AS INTEGER)) || chr(CAST(97 + (i - 1) // 26 AS INTEGER))), ' ')
            || ' ' || array_to_string(ws[(len(ws) // 2 + 1):len(ws)], ' ')
          FROM twin WHERE len(ws) >= 14),
        toks AS (SELECT doc_id, regexp_extract_all(text, '[a-zA-Z]+') AS ws
                 FROM aug WHERE len(regexp_extract_all(text, '[a-zA-Z]+')) >= 7),
        gr AS (SELECT doc_id,
                 list_transform(range(0, len(ws) - 3),
                   i -> CAST(('0x' || substr(md5(array_to_string(
                          list_slice(ws, i + 1, i + 4), ' ')), 1, 15)) AS BIGINT)) AS gs
               FROM toks),
        fps AS (SELECT doc_id,
                  list_distinct(list_transform(range(0, len(gs) - 3),
                    j -> list_min(list_transform(range(0, 4),
                      o -> gs[CAST(j + o + 1 AS BIGINT)] * 4 + 3 - o)) // 4)) AS fps
                FROM gr),
        flat AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
        rare AS (SELECT doc_id, fp FROM flat
                 WHERE fp IN (SELECT fp FROM flat
                              GROUP BY fp HAVING COUNT(*) <= 50)),
        cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM rare a JOIN rare b
                 ON a.fp = b.fp AND a.doc_id < b.doc_id
                 GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        m AS (SELECT c.id_a, c.id_b,
                CAST(len(list_intersect(fa.fps, fb.fps)) AS BIGINT) AS matched,
                CAST(len(fa.fps) AS BIGINT) AS na,
                CAST(len(fb.fps) AS BIGINT) AS nb
              FROM cand c JOIN fps fa ON fa.doc_id = c.id_a
              JOIN fps fb ON fb.doc_id = c.id_b)
        SELECT id_a, id_b, matched, na, nb,
          matched * 10000 // (na + nb - matched) AS sim4
        FROM m WHERE matched >= 3
        ORDER BY id_a, id_b""")),

    // ---- dedup threshold OPERATING CURVE: the decision table an
    // operator reads before picking 0.80 vs 0.85 — for each Jaccard
    // threshold (0.50..0.95 step 0.05, ‱ grid), how many verified
    // near-dup pairs clear it, how many documents a greedy
    // keep-smallest-id pass would drop, and how many chars of corpus
    // that forfeits. The pair set is q32's LSH-candidates-then-exact-
    // verify (same shingle/minhash CTEs — one definition), WITHOUT the
    // 0.5 floor so the curve covers its whole domain; jac4 on the exact
    // integer grid. Every threshold row is emitted (zeros kept) so the
    // curve is always 10 rows.
    //
    // Scale: the pair set is LSH-banded (never all-pairs); the curve is
    // a 10-row broadcast crossed against it, two small aggregates, and
    // one broadcast-able join of dropped ids against doc lengths.
    ("q185_dedup_threshold_curve",
      (s: SparkSession, dir: String) => {
        val sh = shingles(s, dir).localCheckpoint()
        Scoped.releaseAfterUse(sh)
        val bands = minhashBands(sh)
        val cand = bands.select(col("doc_id").as("id_a"), col("band"), col("sig"))
          .join(bands.select(col("doc_id").as("id_b"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val pairs = cand
          .join(sh.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
          .join(sh.select(col("doc_id").as("id_b"), col("shingle")),
            Seq("id_b", "shingle"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("common"))
          .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
          .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            expr("common * 10000 div (na + nb - common)").as("jac4"))
          .localCheckpoint()
        Scoped.releaseAfterUse(pairs)
        // bigint thresholds: DuckDB's range() yields BIGINT and the
        // compare sorts on schema-hashed columns
        val ts = s.range(1).select(
          explode(expr("sequence(bigint(5000), bigint(9500), bigint(500))"))
            .as("threshold"))
        val hit = broadcast(ts).crossJoin(pairs)
          .filter(col("jac4") >= col("threshold"))
        val nPairs = hit.groupBy(col("threshold"))
          .agg(count(lit(1)).as("n_pairs"))
        val dropped = hit.select(col("threshold"), col("id_b")).distinct()
          .join(t(s, dir, "documents")
            .select(col("doc_id").as("id_b"), col("n_chars")), Seq("id_b"))
          .groupBy(col("threshold"))
          .agg(count(lit(1)).as("n_docs_dropped"),
            sum(col("n_chars")).as("chars_dropped"))
        ts.join(nPairs, Seq("threshold"), "left")
          .join(dropped, Seq("threshold"), "left")
          .select(col("threshold"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
            coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
            coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"))
          .orderBy(col("threshold"))
      },
      Some {
        s"""WITH $shinglesSql,
          sh_s AS (SELECT doc_id, shingle FROM sh),
          ${minhashBandsSql("s")},
          cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM bands_s a JOIN bands_s b
                   ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          common AS (SELECT c.id_a, c.id_b, COUNT(*) AS common
                     FROM cand c JOIN sh sa ON sa.doc_id = c.id_a
                     JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
                     GROUP BY c.id_a, c.id_b),
          pairs AS (SELECT id_a, id_b,
              common * 10000 // (na.n + nb.n - common) AS jac4
            FROM common JOIN sizes na ON na.doc_id = id_a
            JOIN sizes nb ON nb.doc_id = id_b),
          ts AS (SELECT unnest(range(5000, 10000, 500)) AS threshold),
          hit AS (SELECT t.threshold, p.id_a, p.id_b
                  FROM ts t JOIN pairs p ON p.jac4 >= t.threshold),
          np AS (SELECT threshold, COUNT(*) AS n_pairs FROM hit GROUP BY 1),
          dr AS (SELECT h.threshold, COUNT(*) AS n_docs_dropped,
              CAST(SUM(d.n_chars) AS BIGINT) AS chars_dropped
            FROM (SELECT DISTINCT threshold, id_b FROM hit) h
            JOIN documents d ON d.doc_id = h.id_b
            GROUP BY 1)
          SELECT t.threshold, COALESCE(np.n_pairs, 0) AS n_pairs,
            COALESCE(dr.n_docs_dropped, 0) AS n_docs_dropped,
            COALESCE(dr.chars_dropped, 0) AS chars_dropped
          FROM ts t LEFT JOIN np ON np.threshold = t.threshold
          LEFT JOIN dr ON dr.threshold = t.threshold
          ORDER BY t.threshold"""
      }),

    // ---- DEDUP-CLUSTER-SAFE SPLIT ASSIGNMENT: the FIX to what q104
    // detects — train/val/test assignment keyed on the near-dup CLUSTER
    // (q49's SimHash CC labels; singletons key on their own doc_id), so
    // two near-duplicates can never straddle a split boundary and leak
    // eval answers into training. Buckets ride the q48 deterministic
    // md5 hash ("split:" ++ group, mod 10 → 8/1/1), seed-free and
    // re-run-stable; the output carries a COMPUTED cross-split-group
    // count (structurally zero — the contract column a release gate
    // reads, derived from the assignments, not assumed).
    //
    // Scale: CC labels are the q49 machinery (banded SimHash blocking,
    // min-label propagation); assignment is a map-side hash after one
    // left join of docs to the (smaller) labeled set; the leak column
    // is a group-keyed count-distinct over the slim checkpointed
    // assignment projection, joined back as a broadcast 1-row table.
    ("q204_cluster_safe_split",
      (s: SparkSession, dir: String) => {
        val cand = simhashCand(s, dir, ScaleBits)
        val labels = graft.graph.ConnectedComponents.assign(
          cand.filter(expr("bit_count(ha ^ hb)") <= 3)
            .select(col("id_a"), col("id_b")))
        Scoped.free(cand)
        val grouped = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
          .join(labels.select(col("v").as("doc_id"), col("comp")),
            Seq("doc_id"), "left")
          .select(col("n_chars"),
            coalesce(col("comp"), col("doc_id")).as("grp"))
          .withColumn("bucket",
            graft.core.Portable.hash32(
              concat(lit("split:"), col("grp").cast("string"))) % 10)
          .withColumn("split",
            when(col("bucket") < 8L, "train")
              .when(col("bucket") === 8L, "val").otherwise("test"))
          .localCheckpoint()
        Scoped.free(labels)
        Scoped.releaseAfterUse(grouped)
        val leaks = grouped.groupBy(col("grp"))
          .agg(countDistinct(col("split")).as("ns"))
          .filter(col("ns") > 1)
          .agg(count(lit(1)).as("leaked_groups"))
        grouped.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("grp")).as("n_groups"),
            sum(col("n_chars")).as("n_chars"))
          .crossJoin(broadcast(leaks))
          .orderBy(col("split"))
      },
      Some(s"""${simhashSql64().replaceFirst("WITH", "WITH RECURSIVE")},
        $simhashCandSql64,
        pairs AS (SELECT id_a, id_b FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        e AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
        verts AS (SELECT DISTINCT u AS v FROM e),
        reach AS (
          SELECT v, v AS r FROM verts
          UNION
          SELECT e.u AS v, reach.r FROM reach JOIN e ON e.v = reach.v),
        labels AS (SELECT v AS doc_id, MIN(r) AS comp FROM reach GROUP BY v),
        g AS (SELECT d.n_chars, COALESCE(l.comp, d.doc_id) AS grp
              FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
        sp AS (SELECT n_chars, grp,
            CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8 THEN 'train'
                 WHEN CAST(('0x' || substr(md5('split:' || CAST(grp AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 8 THEN 'val'
                 ELSE 'test' END AS split
          FROM g),
        lk AS (SELECT COUNT(*) AS leaked_groups FROM (
            SELECT grp FROM sp GROUP BY grp
            HAVING COUNT(DISTINCT split) > 1))
        SELECT sp.split, COUNT(*) AS n_docs,
          COUNT(DISTINCT sp.grp) AS n_groups,
          CAST(SUM(sp.n_chars) AS BIGINT) AS n_chars,
          lk.leaked_groups
        FROM sp CROSS JOIN lk
        GROUP BY sp.split, lk.leaked_groups ORDER BY sp.split""")),

    // ---- LABEL-NOISE OUTLIERS (confident-learning shape): per label,
    // the 3 vectors FARTHEST from their own label centroid — the audit
    // list a labeling pipeline re-reviews first, and the complement of
    // q179's hard negatives (q179 mines confusable CROSS-label pairs;
    // this flags suspect WITHIN-label members). Exactness discipline:
    // each embedding dimension is gridded to integers up front
    // (floor(x·1e6 + 0.5) — the q157 covariance pattern), the centroid
    // stays an exact rational (per-dim integer sum, count), and the
    // distance statistic is the all-integer ‖n·q − s‖² — DECIMAL(38,0)
    // internally (64 dims of (n·q−s)² wrap int64 even at fixture n;
    // the q177 contract), shipped as the n²-normalized d2g6 on a 1e-6
    // grid via a short double sequence (÷(n·n as double) then ÷1e12,
    // ·1e6) mirrored operation-for-operation in the oracle SQL.
    //
    // Scale: the centroid is one map-side-combinable (label, dim)
    // aggregate, |labels|·dims rows → broadcast as an assembled
    // |labels|-row array table; scoring is map-side (zip_with over the
    // row's own vector); top-3 per label is a WindowGroupLimit
    // (partitioned by label — the q179 plan shape), so per-partition
    // wire cost is 3 rows per label.
    ("q192_label_outliers",
      (s: SparkSession, dir: String) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6 + 0.5) as bigint))")
              .as("q"))
        val cent = e
          .select(col("label"), posexplode(col("q")).as(Seq("dim", "v")))
          .groupBy(col("label"), col("dim"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("dim"), col("sv")))).as("ds"),
            max(col("n")).as("n"))
          .select(col("label"), expr("transform(ds, p -> p.sv)").as("sv"), col("n"))
        val scored = e.join(broadcast(cent), Seq("label"))
          // d2n2 = Σ_d (n·q_d − s_d)² exactly; d2g6 = d2n2 / n² / 1e12
          // on the 1e-6 grid (q ticks are 1e-6 units, so squared ticks
          // are 1e-12 of the float scale)
          .withColumn("d2n2", expr(
            """aggregate(zip_with(q, sv, (a, b) -> cast(n as decimal(38,0)) * a - b),
                 cast(0 as decimal(38,0)), (acc, x) -> acc + x * x)"""))
          // operation-for-operation match with the oracle's
          // `CAST(n AS DOUBLE) * n`: the n² divisor is a DOUBLE multiply
          // (not an exact integer product cast late — for n > 2^26 the
          // two round differently by 1 ulp, enough to flip a grid tick;
          // ADVICE r16)
          .withColumn("d2g6",
            floor(col("d2n2").cast("double")
              / (col("n").cast("double") * col("n").cast("double"))
              / lit(1e12) * lit(1e6)
              + 0.5).cast("long"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label")).orderBy(desc("d2g6"), asc("vec_id"))
        scored
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("label"), col("rk").cast("long").as("rk"),
            col("vec_id"), col("d2g6"), col("n").as("label_size"))
          .orderBy(col("label"), col("rk"))
      },
      Some("""WITH e AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
            list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS q
          FROM embeddings),
        dims AS (SELECT vec_id, label, unnest(q) AS v,
            generate_subscripts(q, 1) AS dim FROM e),
        cent AS (SELECT label, dim, CAST(SUM(v) AS BIGINT) AS sv,
            COUNT(*) AS n FROM dims GROUP BY 1, 2),
        scored AS (SELECT d.vec_id, d.label, MAX(c.n) AS n,
            SUM(CAST(c.n AS HUGEINT) * d.v * (CAST(c.n AS HUGEINT) * d.v)
              - 2 * CAST(c.n AS HUGEINT) * d.v * c.sv
              + CAST(c.sv AS HUGEINT) * c.sv) AS d2n2
          FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim
          GROUP BY 1, 2),
        g AS (SELECT vec_id, label, n,
            CAST(floor(CAST(d2n2 AS DOUBLE) / (CAST(n AS DOUBLE) * n) / 1e12
              * 1e6 + 0.5) AS BIGINT) AS d2g6
          FROM scored),
        rk AS (SELECT label, vec_id, d2g6, n,
            row_number() OVER (PARTITION BY label
              ORDER BY d2g6 DESC, vec_id) AS rk
          FROM g)
        SELECT label, CAST(rk AS BIGINT) AS rk, vec_id, d2g6,
          CAST(n AS BIGINT) AS label_size
        FROM rk WHERE rk <= 3 ORDER BY label, rk""")),

    // ---- EXACT DUPLICATED-SPAN EXCISION with canonical-copy retention
    // (the "remove every duplicated span >= K tokens corpus-wide"
    // operator — Lee et al. 2022's ExactSubstr dedup, VERDICT r16 #3):
    // q129 REPORTS where duplication lives (every span whose grams occur
    // >= 2x, in ALL copies); this query decides what a dedup pass
    // actually DELETES — for every duplicated K-token substring, the
    // first occurrence in corpus order (min (doc_id, position)) is the
    // canonical copy and survives; every OTHER occurrence is marked for
    // excision, and marked positions merge into maximal per-doc spans.
    // The paper's suffix array is replaced by the cluster-scale shape:
    // rolling K-gram fingerprints ([[graft.functions.GramHash60]], the
    // native kernel) grouped per fingerprint — "sorted fingerprint
    // runs" realized as a hash shuffle instead of a driver-memory
    // suffix sort. Exact for every duplicated substring of length >= K
    // (K = 10 tokens; the fixture's shingle-level near-dup plantings
    // give ~1k natural duplicated 10-grams at sf0.01 — nothing is
    // planted here).
    //
    // Positional fidelity (the inverted-index offsets contract,
    // /root/reference/src/main/scala/invertedIndex.scala:46,52 —
    // downstream consumers slice the ORIGINAL text, so offsets must be
    // exact): spans ship both token coordinates and 1-based CHAR
    // coordinates, and span_md5 — the md5 of the substring the char
    // range addresses — proves on every row that both engines agree on
    // the bytes being excised, not just the indices.
    //
    // Scale: gram fingerprinting is map-side (one native pass, no gram
    // strings); the canonical occurrence is min(struct(doc_id, i)) — a
    // COMBINABLE partial aggregate, so a slogan duplicated a million
    // times corpus-wide is a combiner cell, never a hot window
    // partition (contrast the oracle's row_number window, fine at
    // fixture scale); the excision mark-back is a fingerprint
    // equi-join (linear in total grams); span merge + offset cumsum
    // are per-doc windows bounded by document length. Every stage is
    // linear in corpus tokens at 100 TB.
    ("q207_dedup_span_excision",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val toks = docs
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
        val spans = exactSubstrSpans(toks, ExactSubstrK)
        // 1-based char offset of token ti = 1 + Σ_{j<ti} (len_j + 1),
        // computed ROW-LOCALLY on the span rows (an O(doc-length) fold
        // over the already-joined token array): spans are orders of
        // magnitude fewer than corpus tokens, so this replaces exploding
        // EVERY corpus token into a per-doc cumulative window plus two
        // offset joins — fixture-neutral at sf1 (A/B 8.61 → 8.59 s,
        // span count too small to show it) but the removed stage is the
        // one whose cost is linear in corpus tokens, the term that
        // dominates at 100 TB; the measured sf1 win came from
        // checkpointing the two-consumer gram table (8.59 → 7.06 s).
        // Both A/Bs in SCALING.md r17.
        spans
          .join(toks, Seq("doc_id"))
          .select(col("doc_id"), col("s_tok"), col("e_tok"),
            (col("e_tok") - col("s_tok") + 1).as("span_tokens"),
            expr("""aggregate(slice(tk, 1, cast(s_tok - 1 as int)),
                      cast(0 as bigint), (a, t) -> a + length(t) + 1) + 1""")
              .as("s_char"),
            expr("""aggregate(slice(tk, 1, cast(e_tok as int)),
                      cast(0 as bigint), (a, t) -> a + length(t) + 1) - 1""")
              .as("e_char"),
            col("text"))
          .select(col("doc_id"), col("s_tok"), col("e_tok"),
            col("span_tokens"), col("s_char"), col("e_char"),
            md5(expr("substring(text, cast(s_char as int), cast(e_char - s_char + 1 as int))"))
              .as("span_md5"))
          .orderBy(col("doc_id"), col("s_tok"))
      },
      Some(s"""WITH $exactSubstrSpanCtes,
        toko AS (SELECT doc_id, CAST(u.i AS BIGINT) AS ti,
            CAST(len(tk[CAST(u.i AS BIGINT)]) AS BIGINT) AS len
          FROM tks, UNNEST(range(1, CAST(len(tk) AS BIGINT) + 1)) AS u(i)),
        offs AS (SELECT doc_id, ti, len,
            CAST(COALESCE(SUM(len + 1) OVER (PARTITION BY doc_id ORDER BY ti
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
              AS BIGINT) AS off
          FROM toko)
        SELECT sp.doc_id, sp.s_tok, sp.e_tok,
          sp.e_tok - sp.s_tok + 1 AS span_tokens,
          o1.off AS s_char,
          CAST(o2.off + o2.len - 1 AS BIGINT) AS e_char,
          md5(substr(t.text, CAST(o1.off AS BIGINT),
            CAST(o2.off + o2.len - o1.off AS BIGINT))) AS span_md5
        FROM spans sp
        JOIN offs o1 ON o1.doc_id = sp.doc_id AND o1.ti = sp.s_tok
        JOIN offs o2 ON o2.doc_id = sp.doc_id AND o2.ti = sp.e_tok
        JOIN tks t ON t.doc_id = sp.doc_id
        ORDER BY sp.doc_id, sp.s_tok""")),

    // ---- ExactSubstr dedup, APPLIED (the cleaned-corpus product of
    // q207, and the q152-rebuild contract extended corpus-wide): every
    // document's q207 excision spans are cut out and the survivor text
    // reassembled — the actual artifact a training run consumes after
    // span-level dedup. EVERY document is a gate row (affected or not),
    // so the gate also pins identity preservation: a rebuild bug that
    // mangles untouched docs breaks the hash even though no span
    // touched them. `changed` + tokens_removed + clean_hash tie the
    // rebuilt bytes to the span report.
    //
    // Scale: spans are the shared [[exactSubstrSpans]] machinery (its
    // scale argument in q207's header); the rebuild is MAP-ONLY over
    // the span-joined docs — an O(doc-length) row-local filter over
    // the doc's own token array against its own bounded span list —
    // and affected docs are a left-join minority, so the dominant
    // corpus pass stays one scan.
    ("q209_dedup_span_rebuild",
      (s: SparkSession, dir: String) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val toks = docs
          .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"))
        val sps = exactSubstrSpans(toks, ExactSubstrK)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_spans"),
            sum(col("e_tok") - col("s_tok") + 1).as("tokens_removed"),
            collect_list(struct(col("s_tok"), col("e_tok"))).as("sps"))
        toks
          .join(sps, Seq("doc_id"), "left")
          .withColumn("n_tokens", size(col("tk")).cast("long"))
          .withColumn("cleaned", expr(
            """concat_ws(' ', filter(tk,
                 (tok, ix) -> sps IS NULL OR NOT exists(sps,
                   sp -> ix + 1 >= sp.s_tok AND ix + 1 <= sp.e_tok)))"""))
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
            col("n_spans").isNotNull.as("changed"),
            md5(col("cleaned")).as("clean_hash"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $exactSubstrSpanCtes,
        pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
            CAST(SUM(e_tok - s_tok + 1) AS BIGINT) AS tokens_removed,
            list({'s_tok': s_tok, 'e_tok': e_tok}) AS sps
          FROM spans GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          COALESCE(pd.n_spans, 0) AS n_spans,
          COALESCE(pd.tokens_removed, 0) AS tokens_removed,
          pd.n_spans IS NOT NULL AS changed,
          md5(COALESCE(array_to_string(list_transform(
            list_filter(range(1, CAST(len(t.tk) AS BIGINT) + 1),
              ix -> pd.sps IS NULL OR len(list_filter(pd.sps,
                sp -> ix >= sp.s_tok AND ix <= sp.e_tok)) = 0),
            ix -> t.tk[ix]), ' '), '')) AS clean_hash
        FROM tks t LEFT JOIN pd ON pd.doc_id = t.doc_id
        ORDER BY t.doc_id""")),

    // ---- NEAR-DUPLICATE SPAN ALIGNMENT (fuzzy ExactSubstr — VERDICT
    // r17 #3): cross-doc aligned span PAIRS that match under bounded
    // token-substitution tolerance — what production pipelines run
    // after exact excision (q207), because one edited token defeats
    // every exact K-gram it touches. The shape is seed-and-extend
    // diagonal chaining (the public BLAST/MUMmer idea, re-expressed
    // relationally): exact 5-gram fingerprint SEEDS (q207's
    // gram_hash60 runs, extending the positional-fidelity contract of
    // ref invertedIndex.scala:46,52 the same way q207 did) pair docs
    // through a banded gram neighborhood — only grams with 2..8
    // occurrences corpus-wide seed, so a hot slogan can never fan out
    // |occ|² pairs — and seeds CHAIN per (pair, diagonal) when the
    // uncovered run between them is <= 3 tokens. A substituted token
    // kills exactly the 5 seeds overlapping it (gap = 1 uncovered
    // token <= 3 → the chain rides through); an indel SHIFTS the
    // diagonal and honestly starts a new span — this operator is
    // k-mismatch-tolerant by construction, which the header declares
    // rather than approximating edit distance. Reported per chain:
    // both docs' token coordinates, seed count, covered tokens (exact,
    // via the same gap-0 running-max fold), and the mismatch count
    // span_tokens − covered. The gate would pass vacuously on a corpus
    // with no near-identical-but-edited pairs, so the derivation
    // PLANTS both tolerance classes (the q30 discipline, mirrored in
    // the oracle): every 37th doc gets a copy with every 29th token
    // substituted (diagonal 0, mismatched > 0) and every 53rd doc a
    // copy with a 5-token prefix (diagonal −5).
    //
    // Scale: grams are one native map-side pass; the occurrence cap
    // bounds the seed self-join at 8·|grams| pairs (linear in corpus
    // tokens); chaining windows partition by (id_a, id_b, diagonal) —
    // bounded by the shorter doc, never corpus-sized; output is spans,
    // not pairs-of-everything. The all-pairs edit-distance formulation
    // this replaces is quadratic in documents and never appears.
    ("q214_neardup_span_align",
      (s: SparkSession, dir: String) => {
        val K = 5    // seed gram width
        val G = 3L   // max uncovered run between chained seeds
        val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val mut = base.filter(col("doc_id") % 37 === 0)
          .select((col("doc_id") + 2000000000000L).as("doc_id"),
            expr("""array_join(transform(split(text, ' '),
                (tok, ix) -> if((ix + 1) % 29 = 8, '@@', tok)), ' ')""")
              .as("text"))
        val pre = base.filter(col("doc_id") % 53 === 0)
          .select((col("doc_id") + 3000000000000L).as("doc_id"),
            concat(lit("pad pad pad pad pad "), col("text")).as("text"))
        val aug = base.unionByName(mut).unionByName(pre)
        val grams = explodeLean(
          aug.select(col("doc_id"), split(col("text"), " ").as("tk")),
          Seq(col("doc_id")),
          expr(s"""transform(gram_hash60(tk, $K),
                     (g, i) -> named_struct('i', cast(i + 1 as bigint), 'g', g))"""),
          "gr")
          .select(col("doc_id"), col("gr.i").as("i"), col("gr.g").as("g"))
          .localCheckpoint()
        // banded neighborhood: duplicated-but-not-hot grams only
        val rare = grams.groupBy(col("g")).agg(count(lit(1)).as("nocc"))
          .filter(col("nocc") >= 2L && col("nocc") <= 8L)
          .select(col("g"))
        val seeds = grams.join(rare, Seq("g")).localCheckpoint()
        // the seeds checkpoint just consumed grams' two readers (the
        // nocc agg + the mark-back join) — free it now, q49's pattern
        Scoped.free(grams)
        Scoped.releaseAfterUse(seeds)
        val pairs = seeds.select(col("doc_id").as("da"), col("i").as("ia"), col("g"))
          .join(seeds.select(col("doc_id").as("db"), col("i").as("ib"), col("g")),
            Seq("g"))
          .filter(col("da") < col("db"))
          .select(col("da"), col("db"), (col("ia") - col("ib")).as("d"),
            col("ia"), (col("ia") + lit(K - 1).cast("long")).as("ea"))
        val wd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("da"), col("db"), col("d")).orderBy(col("ia"))
        val up = org.apache.spark.sql.expressions.Window.unboundedPreceding
        val marked = pairs
          .withColumn("pmax", max(col("ea")).over(wd.rowsBetween(up, -1)))
          .withColumn("ns",
            when(col("pmax").isNull || col("ia") > col("pmax") + G + 1L, 1L)
              .otherwise(0L))
          .withColumn("cid", sum(col("ns")).over(wd.rowsBetween(up, 0)))
          // fresh coverage of this seed past everything already covered:
          // full K when disjoint from the running max, the overhang when
          // overlapping, 0 when contained — summed per chain this is the
          // exact union length, so mismatched is exact, not a bound
          .withColumn("newcov",
            when(col("pmax").isNull || col("ia") > col("pmax"),
              lit(K.toLong))
              .otherwise(greatest(col("ea") - col("pmax"), lit(0L))))
        marked.groupBy(col("da"), col("db"), col("d"), col("cid"))
          .agg(min(col("ia")).as("a_s"), max(col("ea")).as("a_e"),
            count(lit(1)).as("n_seeds"), sum(col("newcov")).as("covered"))
          .select(col("da").as("id_a"), col("db").as("id_b"), col("d"),
            col("a_s"), col("a_e"),
            (col("a_s") - col("d")).as("b_s"),
            (col("a_e") - col("d")).as("b_e"),
            (col("a_e") - col("a_s") + 1L).as("span_tokens"),
            col("n_seeds"), col("covered"),
            (col("a_e") - col("a_s") + 1L - col("covered")).as("mismatched"))
          .filter(col("span_tokens") >= 15L)
          .orderBy(col("id_a"), col("id_b"), col("d"), col("a_s"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
        mutsrc AS (SELECT doc_id, string_split(text, ' ') AS tk
          FROM base WHERE doc_id % 37 = 0),
        mut AS (SELECT doc_id + 2000000000000 AS doc_id,
            array_to_string(list_transform(
              range(1, CAST(len(tk) AS BIGINT) + 1),
              j -> CASE WHEN j % 29 = 8 THEN '@@' ELSE tk[j] END), ' ')
              AS text
          FROM mutsrc),
        pre AS (SELECT doc_id + 3000000000000 AS doc_id,
            'pad pad pad pad pad ' || text AS text
          FROM base WHERE doc_id % 53 = 0),
        aug AS (SELECT * FROM base UNION ALL SELECT * FROM mut
          UNION ALL SELECT * FROM pre),
        tks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM aug),
        g0 AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
            CAST(('0x' || substr(md5(array_to_string(
              tk[CAST(u.i AS BIGINT):(CAST(u.i AS BIGINT) + 4)], ' ')),
              1, 15)) AS BIGINT) AS g
          FROM tks, UNNEST(range(1, CAST(len(tk) AS BIGINT) - 3)) AS u(i)),
        rare AS (SELECT g FROM g0 GROUP BY g
          HAVING COUNT(*) BETWEEN 2 AND 8),
        sd AS (SELECT g0.doc_id, g0.i, g0.g FROM g0 JOIN rare USING (g)),
        prs AS (SELECT a.doc_id AS da, b.doc_id AS db, a.i - b.i AS d,
            a.i AS ia, a.i + 4 AS ea
          FROM sd a JOIN sd b ON a.g = b.g AND a.doc_id < b.doc_id),
        mk AS (SELECT *, max(ea) OVER (PARTITION BY da, db, d ORDER BY ia
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
          FROM prs),
        mk2 AS (SELECT *,
            CASE WHEN pmax IS NULL OR ia > pmax + 4 THEN 1 ELSE 0 END AS ns,
            CASE WHEN pmax IS NULL OR ia > pmax THEN 5
                 ELSE greatest(ea - pmax, 0) END AS newcov
          FROM mk),
        mk3 AS (SELECT *, SUM(ns) OVER (PARTITION BY da, db, d ORDER BY ia
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
          FROM mk2),
        ch AS (SELECT da, db, d, cid, MIN(ia) AS a_s, MAX(ea) AS a_e,
            CAST(COUNT(*) AS BIGINT) AS n_seeds,
            CAST(SUM(newcov) AS BIGINT) AS covered
          FROM mk3 GROUP BY 1, 2, 3, 4)
        SELECT da AS id_a, db AS id_b, d, a_s, a_e,
          a_s - d AS b_s, a_e - d AS b_e,
          a_e - a_s + 1 AS span_tokens, n_seeds, covered,
          a_e - a_s + 1 - covered AS mismatched
        FROM ch WHERE a_e - a_s + 1 >= 15
        ORDER BY id_a, id_b, d, a_s"""))
  ,

    // ---- SOURCE-pair shingle CONTAINMENT matrix: how much of source
    // a's 5-gram vocabulary appears in source b — the corpus-level
    // lift of q178's per-doc containment (a doc-level dup detector
    // can't see that an entire FEED is a re-crawl or subset of another;
    // this matrix does, and it is the number a data-mixing decision
    // reads before weighting sources). Directional by design:
    // cont(a→b) = |S_a ∩ S_b| / |S_a| — a small feed fully contained
    // in a large one reads 100% one way and small the other, exactly
    // the asymmetry resemblance hides (q178's argument, at source
    // grain). All INTEGER: distinct hash60 shingle sets per source,
    // one equi self-join on shingle for the intersections, one ‱
    // division; the pair grid is filled so disjoint sources surface
    // with cont4 = 0 (the q240 left-join rule; |S_a| ≥ 1 for any
    // source that emitted a shingle, so no zero division).
    //
    // Scale: shingles are built map-side per doc (gram_hash60 inside
    // the row — q178's zero-text-shuffle build), reduced to the
    // DISTINCT (source, shingle) table once; the self-join keys on
    // shingle with ≤ |sources| rows per key, so pair fan-out is
    // |shingles|·|sources|²-bounded (q205's per-key cap), and the
    // output is the |sources|² matrix.
    ("q252_source_containment",
      (s: SparkSession, dir: String) => {
        val ssh = q252SourceShingles(s, dir).localCheckpoint()
        Scoped.releaseAfterUse(ssh)
        val na = ssh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
        val inter = ssh.as("a")
          .join(ssh.as("b"),
            col("a.sh") === col("b.sh")
              && col("a.source") =!= col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_inter"))
        na.select(col("source").as("src_a"), col("n_sh").as("n_a"))
          .join(na.select(col("source").as("src_b"), col("n_sh").as("n_b")),
            col("src_a") =!= col("src_b"))
          .join(inter, Seq("src_a", "src_b"), "left_outer")
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            coalesce(col("n_inter"), lit(0L)).as("n_inter"),
            expr("coalesce(n_inter, 0L) * 10000 div n_a").as("cont4"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""WITH toks AS (SELECT source,
            regexp_extract_all(text, '[a-zA-Z]+') AS ws
          FROM documents WHERE len(regexp_extract_all(text, '[a-zA-Z]+')) >= 5),
        ssh AS (SELECT DISTINCT source, sh FROM (
          SELECT source,
            unnest(list_transform(range(0, greatest(len(ws) - 4, 0)),
              i -> CAST(('0x' || substr(md5(array_to_string(
                list_slice(ws, i + 1, i + 5), ' ')), 1, 15)) AS BIGINT)))
              AS sh
          FROM toks)),
        na AS (SELECT source, COUNT(*) AS n_sh FROM ssh GROUP BY source),
        inter AS (SELECT a.source AS src_a, b.source AS src_b,
            COUNT(*) AS n_inter
          FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source <> b.source
          GROUP BY 1, 2)
        SELECT x.source AS src_a, y.source AS src_b,
          x.n_sh AS n_a, y.n_sh AS n_b,
          COALESCE(i.n_inter, 0) AS n_inter,
          COALESCE(i.n_inter, 0) * 10000 // x.n_sh AS cont4
        FROM na x JOIN na y ON x.source <> y.source
        LEFT JOIN inter i ON i.src_a = x.source AND i.src_b = y.source
        ORDER BY src_a, src_b"""))
  )


  /** q252's pre-checkpoint DISTINCT (source, shingle) derivation, exposed
    * as a seam so PlanSpec can pin the Generate shape BELOW the
    * checkpoint (VERDICT r21 #7 — the committed before/after captures sat
    * above it, so the explodeLean claim carried no plan proof).
    * explodeLean (ADVICE r20): a plain explode over the COMPUTED array
    * would let InferFiltersFromGenerate duplicate the
    * regexp_extract_all+gram_hash60+array_distinct chain into an inferred
    * pre-Generate filter (the q111 hazard this file's header documents) —
    * the helper's explode_outer shape is exempt from that rule and the
    * arrays are null-element-free. */
  private[graft] def q252SourceShingles(s: SparkSession, dir: String): DataFrame = {
    explodeLean(
      t(s, dir, "documents")
        .select(col("source"),
          expr("regexp_extract_all(text, '[a-zA-Z]+', 0)").as("ws"))
        .filter(size(col("ws")) >= 5),
      Seq(col("source")),
      expr("array_distinct(gram_hash60(ws, 5))"), "sh")
      .distinct()
  }

  /** q217's full pipeline over an already-loaded embedding frame
    * (12 fixed power iterations over [[covGridOf]]'s exact grid) — the
    * seam PcaPowerSpec drives with a crafted exactly-diagonal corpus.
    * See the q217 catalog comment for semantics and the scale story. */
  private[graft] def pcaPowerIteration(emb: DataFrame): DataFrame = {
    val covUp = covGridOf(emb)
    val full = fullCovOf(covUp).localCheckpoint()
    val (v, prev, lastW) = powerLoop(full)
    val trace = covUp.filter(col("i") === col("j"))
      .agg(sum(col("cov6")).as("trace6"))
    val eigen = lastW.agg(max(abs(col("w"))).as("mx"))
      .select(expr("mx div 1000000").as("eigen6"))
      .crossJoin(trace)
    val comp = v.select(lit("pc1").as("kind"), col("i"), col("vq").as("v"))
    val delta = v.select(col("i"), col("vq"))
      .join(prev.select(col("i"), col("vq").as("pvq")), Seq("i"))
      .agg(sum(abs(col("vq") - col("pvq"))).as("d"))
      .select(lit("delta").as("kind"), lit(0L).as("i"), col("d").as("v"))
    val summary = eigen.select(
        array(
          struct(lit("eigen6").as("kind"), lit(0L).as("i"),
            col("eigen6").as("v")),
          struct(lit("trace6").as("kind"), lit(0L).as("i"),
            col("trace6").as("v")),
          struct(lit("evr4").as("kind"), lit(0L).as("i"),
            expr("eigen6 * 10000 div trace6").as("v"))).as("rows"))
      .select(explode(col("rows")).as("r"))
      .select(col("r.kind").as("kind"), col("r.i").as("i"),
        col("r.v").as("v"))
    val out = comp.unionByName(summary).unionByName(delta)
      .orderBy(col("kind"), col("i"))
    Scoped.releaseAfterUse(full, prev, v)
    out
  }

  /** The symmetric full matrix of an upper-triangle covariance grid. */
  private def fullCovOf(covUp: DataFrame): DataFrame =
    covUp.unionByName(covUp.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("cov6")))

  /** Twelve L∞-normalized power iterations over a CHECKPOINTED full
    * matrix (i, j, cov6) — the shared engine of q217 (top component)
    * and q219 (deflated second component). Returns (v_12, v_11, final
    * w plan); the caller owns the storage lifecycle of the two
    * checkpointed vectors.
    *
    * ONE checkpoint barrier per iteration, not three: v is cut every
    * step, so the double read of `w` inside a step (once under the
    * 1-row max subtree, once on the main path) re-runs only a d²-row
    * join+agg over checkpointed inputs — cheaper than two extra job
    * barriers per step (A/B'd: 6.38 → 5.07 s sf0.1 / 13.20 → 9.38 sf1
    * 3-run medians; the sf0.1 windows differ — cpu sentinel 0.289
    * before vs 0.178 after — but the sf1 pair is clean at 0.248/0.193
    * and 24 fewer job barriers is structural). */
  private def powerLoop(full: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    var v = full.select(col("i")).distinct()
      .select(col("i"), lit(1000000L).as("vq")).localCheckpoint()
    var prev: DataFrame = null
    var lastW: DataFrame = null
    for (_ <- 1 to 12) {
      val w = full
        .join(broadcast(v.select(col("i").as("j"), col("vq"))), Seq("j"))
        .groupBy(col("i")).agg(sum(col("cov6") * col("vq")).as("w"))
      val mx = w.agg(max(abs(col("w"))).as("mx"))
      val nv = w.crossJoin(broadcast(mx))
        .select(col("i"),
          floor(col("w").cast("double") / col("mx") * lit(1e6) + lit(0.5))
            .cast("long").as("vq"))
        .localCheckpoint()
      lastW = w
      if (prev != null) Scoped.free(prev)
      prev = v
      v = nv
    }
    (v, prev, lastW)
  }

  /** q219's pipeline — deflate λ₁v₁v₁ᵀ out of the covariance on the
    * exact cov6 grid, then run the SAME [[powerLoop]] on the residual.
    * See the q219 catalog comment for semantics and grid arguments. */
  private[graft] def pcaDeflation(emb: DataFrame): DataFrame = {
    val covUp = covGridOf(emb)
    val full1 = fullCovOf(covUp).localCheckpoint()
    // prev1/prev2 stay live until the output is consumed: the final-step
    // w plans (eig1/eig2) read them on every re-evaluation
    val (v1, prev1, w1) = powerLoop(full1)
    val eig1 = w1.agg(max(abs(col("w"))).as("mx"))
      .select(expr("mx div 1000000").as("eigen6"))
    val full2 = full1
      .join(broadcast(v1.select(col("i"), col("vq").as("vqi"))), Seq("i"))
      .join(broadcast(v1.select(col("i").as("j"), col("vq").as("vqj"))),
        Seq("j"))
      .crossJoin(broadcast(eig1))
      .select(col("i"), col("j"),
        (col("cov6") - floor(col("eigen6").cast("double") *
          col("vqi").cast("double") / lit(1e6) *
          col("vqj").cast("double") / lit(1e6) + lit(0.5)).cast("long"))
          .as("cov6"))
      .localCheckpoint()
    val (v2, prev2, w2) = powerLoop(full2)
    val trace = covUp.filter(col("i") === col("j"))
      .agg(sum(col("cov6")).as("trace6"))
    val eig2 = w2.agg(max(abs(col("w"))).as("mx"))
      .select(expr("mx div 1000000").as("eigen6_2"))
    val dot = v1.select(col("i"), col("vq").as("vq1"))
      .join(v2.select(col("i"), col("vq").as("vq2")), Seq("i"))
      .agg(sum(col("vq1") * col("vq2")).as("dot12"))
    val comp2 = v2.select(lit("pc2").as("kind"), col("i"), col("vq").as("v"))
    val summary = eig1.crossJoin(eig2).crossJoin(trace).crossJoin(dot)
      .select(array(
          struct(lit("eigen6_1").as("kind"), lit(0L).as("i"),
            col("eigen6").as("v")),
          struct(lit("eigen6_2").as("kind"), lit(0L).as("i"),
            col("eigen6_2").as("v")),
          struct(lit("trace6").as("kind"), lit(0L).as("i"),
            col("trace6").as("v")),
          struct(lit("evr4_1").as("kind"), lit(0L).as("i"),
            expr("eigen6 * 10000 div trace6").as("v")),
          struct(lit("evr4_2").as("kind"), lit(0L).as("i"),
            expr("eigen6_2 * 10000 div trace6").as("v")),
          struct(lit("dot12").as("kind"), lit(0L).as("i"),
            col("dot12").as("v"))).as("rows"))
      .select(explode(col("rows")).as("r"))
      .select(col("r.kind").as("kind"), col("r.i").as("i"),
        col("r.v").as("v"))
    val out = comp2.unionByName(summary).orderBy(col("kind"), col("i"))
    Scoped.releaseAfterUse(full1, full2, v1, v2, prev1, prev2)
    out
  }

}
