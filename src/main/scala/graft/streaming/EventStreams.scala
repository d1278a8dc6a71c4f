package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface (SURVEY.md §2.10 extension — the reference
  * has no streaming; these are the streaming twins of the batch event
  * queries in [[graft.queries.Events]], built the Spark-native way:
  * `readStream` → watermark → windowed agg / session window / keyed state →
  * `writeStream`).
  *
  * Scale notes (100 TB/day feeds): all three operators partition state by
  * key hash (window-start×type, user_id) so state scales horizontally;
  * watermarks bound state size; RocksDB state store + changelog
  * checkpointing is the production config (session conf, not code).
  */
object EventStreams {

  final case class Event(event_id: Long, user_id: Long, event_type: String,
      value: Double, ts: Timestamp)

  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, session_value: Double)

  /** In-flight session state for [[sessionizeWithState]]. */
  final case class Sess(start: Long, end: Long, n: Long, value: Double)

  /** Tumbling 1-hour window rollup with a 10-minute watermark (streaming
    * twin of q50_hourly_rollup). Late events beyond the watermark are
    * dropped; in-watermark late data updates its window in place. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))

  /** Gap-based sessionization via the built-in session_window (streaming
    * twin of q51_sessionize, 30-minute inactivity gap). */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("session_value"))

  /** Watermarked stream-stream join: each purchase joined to the same
    * user's views within the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so state for both
    * streams is evicted once the watermark passes — the unbounded-state
    * trap of naive stream joins is structurally avoided. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(views,
      col("p_user") === col("v_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("view_id"), col("value"), col("purchase_ts"), col("view_ts"))
  }

  /** Streaming exact dedup — the ingest-side twin of the batch q30 path:
    * re-ingested duplicate payloads are dropped by content hash while the
    * duplicate-tracking state is EVICTED once the watermark passes the
    * horizon, so state is bounded by the dedup window, not the corpus
    * (historical dedup stays a batch join against the corpus table; a feed
    * that replays within minutes-to-hours is exactly what the horizon
    * covers). `dropDuplicatesWithinWatermark` keeps the first arrival per
    * hash; md5 is the same content key the batch operator groups on. */
  def dedupStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming GDPR scrub — the INGEST side of the q153 erasure batch
    * job: once a user is on the tombstone list, no new event of theirs
    * may enter the serving tables, so arriving events are LEFT-ANTI
    * joined against the static tombstone keys. Stream-static anti joins
    * keep NO join state and re-plan the static side every micro-batch,
    * so the tombstone table may exceed broadcast size AND picks up
    * newly-filed erasure requests without a restart (request-sized lists
    * still broadcast via AQE). The batch q153 pass stays responsible for
    * history; this guard closes the gap between a request landing and
    * the next batch sweep. StreamingSpec pins stream == batch anti-join
    * on a shared fixture. */
  def erasureScrubStream(events: DataFrame, tombstones: DataFrame): DataFrame =
    events.join(tombstones.select(col("k")).distinct(),
      events("user_id") === col("k"), "left_anti")

  /** Custom keyed state: per-user session assembly with
    * flatMapGroupsWithState + event-time timeout — the fully-general state
    * path for semantics session_window can't express (e.g. value-dependent
    * gaps). Emits a session when the watermark passes its gap horizon. */
  def sessionizeWithState(spark: SparkSession, events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionOut] = {
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[Sess]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(SessionOut(userId, new Timestamp(s.start),
          new Timestamp(s.end), s.n, s.value))
      } else {
        val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption
        val out = Seq.newBuilder[SessionOut]
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.end <= gapMs =>
              cur = Some(Sess(s.start, math.max(s.end, t), s.n + 1, s.value + e.value))
            case Some(s) =>
              out += SessionOut(userId, new Timestamp(s.start),
                new Timestamp(s.end), s.n, s.value)
              cur = Some(Sess(t, t, 1, e.value))
            case None =>
              cur = Some(Sess(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.end + gapMs)
        }
        out.result().iterator
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
  }

  final case class Transition(user_id: Long, from_type: String,
      to_type: String)

  /** Per-user last-event state for [[transitionStream]]. */
  final case class LastEv(us: Long, event_id: Long, event_type: String)

  /** Streaming event-type TRANSITIONS — the ingest twin of batch q163's
    * Markov matrix, and the genuinely STATEFUL streaming shape (not
    * stream-static): each user's last event is kept as keyed state, so a
    * transition is emitted the moment its successor arrives — including
    * across micro-batch boundaries, which a per-batch window cannot see.
    * Downstream, a windowed count over (from_type, to_type) maintains
    * the live matrix. Batch parity: the emitted pair multiset equals
    * q163's non-END rows on the same fixture (streams have no 'END' —
    * a stream tail is just a transition not yet emitted); StreamingSpec
    * pins it. State is ONE (us, event_id, type) triple per active user;
    * eviction by the same event-time timeout discipline as
    * [[sessionizeWithState]] belongs in production — the test keeps
    * NoTimeout so parity is exact.
    *
    * DISORDER contract: events are ordered by (ts, event_id) within a
    * micro-batch, and an event NOT strictly newer than the stored state
    * (a cross-batch straggler, or a replayed duplicate) is DROPPED — it
    * can no longer be sequenced truthfully once its successor's
    * transition has been emitted, and emitting it in arrival order would
    * break the q163 multiset parity. So parity holds exactly when
    * per-user cross-batch arrival is in order; under disorder the stream
    * under-reports (drops) rather than mis-reports. A full repair needs
    * watermark-bounded event buffering (park until watermark, then sort)
    * — the sessionizeWithState timeout pattern — at O(disorder window)
    * state per user instead of O(1). */
  def transitionStream(spark: SparkSession,
      events: Dataset[Event]): Dataset[Transition] = {
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[LastEv]): Iterator[Transition] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[Transition]
      var last = state.getOption
      sorted.foreach { e =>
        val newer = last.forall(l =>
          e.ts.getTime > l.us ||
            (e.ts.getTime == l.us && e.event_id > l.event_id))
        if (newer) {
          last.foreach { l =>
            out += Transition(userId, l.event_type, e.event_type)
          }
          last = Some(LastEv(e.ts.getTime, e.event_id, e.event_type))
        } // else: older than emitted state — drop (see disorder contract)
      }
      last.foreach(state.update)
      out.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  final case class AnomalyOut(event_id: Long, user_id: Long, value: Double,
      z: Double)

  /** Per-user running moments (n, Σv, Σv²) in exact centi-units. O(1)
    * state per user, forever — the streaming-anomaly state never grows
    * with event count, only with user cardinality. */
  final case class Moments(n: Long, s1: Long, s2: Long)

  /** ONLINE z-score anomaly flagging — the streaming twin of batch
    * q75_zscore_anomaly, with prior-only semantics: each event is scored
    * against the user's history BEFORE it (the only thing an online
    * detector can do), then folded into the running moments. Events
    * inside a micro-batch are processed in (ts, event_id) order so
    * replays are deterministic. A user needs `minPrior` history before
    * anything is flagged; a deviation from a CONSTANT history (σ=0) is
    * flagged with z = ±∞ (any nonzero deviation is infinitely many σ).
    *
    * Scale: state is three longs per user (exact integer moments — same
    * cross-engine-portable centi-unit trick as q75), hash-partitioned by
    * user_id. No watermark needed for correctness (state is O(1) per
    * key); idle-user state can be aged out with a processing-time
    * timeout if user cardinality itself is unbounded. */
  def anomalyStream(spark: SparkSession, events: Dataset[Event],
      minPrior: Int = 5, zThresh: Double = 3.0): Dataset[AnomalyOut] = {
    import spark.implicits._

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[Moments]): Iterator[AnomalyOut] = {
      var m = state.getOption.getOrElse(Moments(0L, 0L, 0L))
      val out = Seq.newBuilder[AnomalyOut]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val v100 = math.floor(e.value * 100 + 0.5).toLong
        if (m.n >= minPrior) {
          val mean = m.s1.toDouble / m.n
          val sd = math.sqrt(math.max(0.0, m.s2.toDouble / m.n - mean * mean))
          if (math.abs(v100 - mean) > zThresh * sd) {
            val z =
              if (sd == 0.0)
                if (v100 > mean) Double.PositiveInfinity else Double.NegativeInfinity
              else (v100 - mean) / sd
            out += AnomalyOut(e.event_id, userId, e.value, z)
          }
        }
        m = Moments(m.n + 1, m.s1 + v100, m.s2 + v100 * v100)
      }
      state.update(m)
      out.result().iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
  }

  /** Ingest-time contamination screening — the STREAM-STATIC twin of the
    * batch decontam check (q77): each arriving document is flagged if it
    * shares any word-13-gram with the static benchmark gram table. The
    * static side collapses to ONE row holding the gram set (benchmarks
    * are KBs–MBs), so the stream side is completely stateless map work:
    * no watermark, no join state, each doc decided within its own
    * micro-batch — `array_intersect` against the broadcast set. At
    * production gram-set sizes beyond broadcast range, swap the
    * collected set for an exploded stream-static equi join plus a
    * windowless `dropDuplicates` on doc_id within the batch. */
  def contaminationStream(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    // grams ride the native 60-bit fingerprint, exactly like the batch
    // q77 probe after r17 (`benchGrams.gram` is the LONG fingerprint,
    // not the gram string) — stream and batch screen on bit-identical
    // keys, the cdcChunkHashArray twin contract
    val grams13 = expr("gram_hash60(ws, 13)")
    val benchSet = broadcast(
      benchGrams.agg(collect_set(col("gram")).as("bench_set")))
    docs.withColumn("ws", expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
      .withColumn("grams", grams13)
      .crossJoin(benchSet)
      .select(col("doc_id"), col("ts"),
        size(array_intersect(col("grams"), col("bench_set"))).cast("long")
          .as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Ingest-time ExactSubstr span screening — the STREAM-STATIC twin of
    * batch q207/q209: each arriving document is screened against the
    * static corpus's duplicated-K-gram fingerprint table (`dupGrams.gram`,
    * LONG fingerprints, the q207 contract). Every arriving occurrence of
    * a corpus gram is BY DEFINITION non-canonical — the corpus preceded
    * it — so the doc's hit positions merge into maximal would-be
    * excision spans and the verdict (n_spans, dup_tokens) ships with the
    * doc before it lands. Completely stateless per micro-batch: the gram
    * set collapses to one broadcast row (slogan/benchmark-scale tables;
    * at corpus-scale gram sets, swap for the exploded stream-static equi
    * join, the cdcChunkStream shape), and the island merge is row-local
    * arithmetic over the ASCENDING hit-position array — hit j adds
    * min(K, pos_j − pos_{j−1}) covered tokens and opens a new span iff
    * the gap exceeds K−1, so no per-doc window or state store exists.
    * Tokenization is q207's exact split-on-space. */
  def exactSubstrScreenStream(docs: DataFrame, dupGrams: DataFrame,
      k: Int = 10): DataFrame = {
    val dupSet = broadcast(
      dupGrams.agg(collect_set(col("gram")).as("dup_set")))
    docs.withColumn("tk", split(col("text"), " "))
      .crossJoin(dupSet)
      // ascending 1-based positions whose K-gram is in the corpus set
      .withColumn("ps", expr(
        s"""filter(transform(gram_hash60(tk, $k),
              (g, i) -> IF(array_contains(dup_set, g),
                cast(i + 1 as bigint), cast(-1 as bigint))),
              p -> p > 0)"""))
      // guard: slice length must be >= 0, so fewer than 2 hits → no gaps
      .withColumn("gaps", expr(
        """IF(size(ps) < 2, cast(array() as array<bigint>),
             zip_with(slice(ps, 2, size(ps)), slice(ps, 1, size(ps) - 1),
               (b, a) -> b - a))"""))
      .select(col("doc_id"), col("ts"),
        size(col("tk")).cast("long").as("n_tokens"),
        expr(s"""IF(size(ps) = 0, 0L,
             1L + aggregate(gaps, 0L, (acc, g) -> acc + IF(g > ${k - 1}, 1L, 0L)))""")
          .as("n_spans"),
        expr(s"""IF(size(ps) = 0, 0L,
             $k + aggregate(gaps, 0L, (acc, g) -> acc + least(g, cast($k as bigint))))""")
          .as("dup_tokens"))
      .withColumn("flagged", col("n_spans") > 0L)
  }

  /** Ingest-time CDC chunk dedup — the STREAM-STATIC twin of batch q111
    * (the dedup-at-ingest shape: decide keep/drop while the doc arrives,
    * not in a later batch sweep). Each arriving doc is chunked MAP-SIDE by
    * the same O(L) rolling-hash fold as the batch path (shared
    * [[graft.queries.DedupSim.cdcChunkHashArray]], so stream and batch
    * chunk hashes are bit-identical — pinned by StreamingSpec), then its
    * chunk set probes the STATIC corpus chunk index with one equi join;
    * the per-doc verdict is (n_chunks, n_dup, dup_ratio). Stream-static
    * joins keep no join state and the static side is re-planned per
    * micro-batch, so the corpus index can exceed broadcast size; the
    * per-doc aggregation is windowed on the watermarked ingest time, so
    * agg state is horizon-bounded. A doc whose text yields no ≥16-char
    * chunk carries no dedup signal and reports n_chunks = 0 (explode_outer
    * keeps its row). The grouping key includes the event's `ts` as the
    * per-EVENT discriminator: the same doc_id re-ingested within one
    * window yields one verdict row per ingest instead of a silently
    * summed n_dup across both (ADVICE r7); two events with identical
    * (doc_id, ts) are byte-identical retransmissions, for which collapsing
    * is the right answer. The discriminator is a MICROSECOND copy of ts
    * (`unix_micros` — a plain long cast truncates to SECONDS and would
    * re-collapse sub-second re-ingests); grouping by the watermarked
    * attribute itself would give the aggregate two event-time columns,
    * which streaming rejects. */
  def cdcChunkStream(docs: DataFrame, corpusChunks: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val ch = graft.queries.DedupSim.cdcChunkHashArray(docs)
      .withWatermark("ts", horizon)
      .select(col("doc_id"), col("ts"),
        unix_micros(col("ts")).as("event_us"),
        size(col("hs")).as("n_chunks"),
        explode_outer(col("hs")).as("h"))
    val idx = corpusChunks.select(col("h")).distinct().withColumn("dup", lit(1))
    ch.join(idx, Seq("h"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), horizon),
        col("doc_id"), col("event_us"), col("n_chunks"))
      .agg(sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_ratio",
        when(col("n_chunks") > 0,
          col("n_dup").cast("double") / col("n_chunks")))
  }

  /** Streaming boilerplate strip: q127 at INGEST — each arriving document
    * is segmented map-side by the shared fold
    * ([[graft.queries.TextOps.boilerplateSegments]], so stream and batch
    * can never disagree on boundaries), probed against the STATIC
    * boilerplate lexicon (the corpus-frequency drop set a batch pass
    * maintains — bounded at |segments|/thr values, so the join's build
    * side broadcasts), and rebuilt from its surviving segments inside a
    * watermarked windowed aggregate. Output mirrors the batch gate:
    * (doc_id, n_segs, kept_segs, dropped_segs, clean_hash), clean_hash =
    * md5 of the position-ordered surviving text (md5('') when the whole
    * doc was boilerplate). Engine state is the in-flight windows' per-doc
    * segment lists — bounded by the watermark horizon, not the corpus. */
  def boilerplateStripStream(docs: DataFrame, dropSet: DataFrame,
      unit: Int = 8, horizon: String = "1 hour"): DataFrame = {
    val segs = graft.queries.TextOps.boilerplateSegments(
      docs.withWatermark("ts", horizon), unit, carry = Seq("ts"))
    val drop = dropSet.select(col("seg")).distinct().withColumn("boiler", lit(1))
    segs.join(drop, Seq("seg"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), horizon),
        col("doc_id"), col("n_segs"))
      .agg(
        sum(when(col("boiler").isNull, 1L).otherwise(0L)).as("kept_segs"),
        expr("""md5(concat_ws(' ',
            transform(array_sort(collect_list(
              case when boiler is null
                then named_struct('seg_idx', seg_idx, 'seg', seg) end)),
              x -> x.seg)))""").as("clean_hash"))
      .withColumn("dropped_segs", col("n_segs") - col("kept_segs"))
      .select(col("window"), col("doc_id"), col("n_segs"), col("kept_segs"),
        col("dropped_segs"), col("clean_hash"))
  }

  /** Streaming DSIR scoring: q128's target-likeness model applied at
    * INGEST — each arriving document explodes into its hashed-bigram
    * feature occurrences by the shared map
    * ([[graft.queries.TextOps.dsirFeatureRows]], so stream and batch
    * features can never diverge), probes the STATIC log-ratio model
    * (≤ 1024 rows by construction → stream-static broadcast join, no
    * state), and sums into a per-doc (n_feats, logw4) verdict inside a
    * watermarked windowed aggregate. Summing lr4 per occurrence equals
    * the batch Σ c·lr4 exactly. This is the admit/route-at-ingest read
    * path of the model q128 trains. */
  def dsirScoreStream(docs: DataFrame, lrModel: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    graft.queries.TextOps.dsirFeatureRows(
        docs.withWatermark("ts", horizon), carry = Seq("ts"))
      .join(broadcast(lrModel.select(col("b"), col("lr4"))), Seq("b"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), horizon),
        col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lr4")).as("logw4"))

  /** Streaming memorization guard: q145's n-gram attribution at SERVING
    * time — each arriving candidate generation (probe_id, text, ts)
    * explodes map-side into its DISTINCT 8-gram fingerprints (the shared
    * [[graft.queries.TextOps.gram8Expr]] derivation, deduped per probe
    * with `array_distinct` BEFORE the explode so the stream side holds no
    * per-probe state), probes the STATIC corpus gram index (a gram
    * equi-join — the index is corpus-sized and never assumed
    * broadcastable; at scale it is the persisted artifact
    * [[graft.queries.TextOps.corpusGramIndex]] builds once), and folds
    * into per-(window, probe, source-doc) overlap counts in a
    * watermarked windowed aggregate. The count equals q145's distinct-
    * gram overlap exactly (corpus grams are distinct per doc, probe
    * grams deduped map-side), so a serving-time verdict and a batch
    * audit can never disagree; ranking/thresholding is the consumer's
    * one cheap step over the per-probe rows. */
  def attributionStream(probes: DataFrame, corpusGrams: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    graft.queries.TextOps.probeGramRows(
        probes.withWatermark("ts", horizon), carry = Seq("ts"))
      .join(corpusGrams, Seq("g"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), horizon),
        col("probe_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_overlap"))

  /** Streaming RAG chunker: q98's sliding-window chunking applied at
    * INGEST — each arriving document maps to its 128-token / stride-96
    * chunk rows through the shared derivation
    * ([[graft.queries.TextOps.chunkRows]], so an ingest-time chunk store
    * and a batch corpus rebuild can never disagree on boundaries or
    * hashes). Entirely STATELESS (a per-row generate — no watermark, no
    * aggregation, Append output): the engine holds nothing, so the
    * operator runs at any ingest rate; downstream embedding/indexing
    * stages consume (doc_id, chunk_idx, chunk_md5) exactly as they would
    * from the batch table. */
  def chunkStream(docs: DataFrame): DataFrame =
    graft.queries.TextOps.chunkRows(docs, carry = Seq("ts"))

  /** Streaming perplexity filter: q133's bigram language model applied at
    * INGEST — the last member of the quality-at-ingest quartet (dedup,
    * boilerplate strip, DSIR routing, perplexity). Each arriving document
    * explodes into its bigram occurrences by the shared map
    * ([[graft.queries.TextOps.bigramRows]], so stream and batch can never
    * disagree on features), probes the STATIC per-bigram log-prob model
    * (built once by a batch pass via
    * [[graft.queries.TextOps.bigramLmModel]] — a bounded TABLE, not
    * assumed broadcastable: the stream-static join is a plain bg
    * equi-join and the planner picks broadcast vs shuffle from the
    * model's size), and folds into a per-doc
    * (n_bigrams, n_oov, avg_nll) verdict inside a watermarked windowed
    * aggregate — no engine state beyond the in-flight windows. Summing
    * lp4 per occurrence equals the batch Σ c·lp4 exactly, so in-vocab
    * scores are bit-identical to q133's ranking (StreamingSpec pins it).
    * Bigrams the model has never seen (impossible in batch, routine at
    * ingest) score as OOV: counted in `n_oov`, excluded from `avg_nll`
    * (NULL when nothing matched) — the router's high-ppl/high-OOV drop
    * signals stay separable. */
  def pplScoreStream(docs: DataFrame, lmModel: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    graft.queries.TextOps.bigramRows(
        docs.withWatermark("ts", horizon), carry = Seq("ts"))
      .join(lmModel.select(col("bg"), col("lp4")), Seq("bg"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), horizon),
        col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("lp4").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(col("lp4")).as("slp"))
      .withColumn("avg_nll",
        floor(-col("slp").cast("double") / (col("n_bigrams") - col("n_oov")) + 0.5)
          / 1e4)
      .drop("slp")

  /** Streaming count-min sketch: per event-time window, maintain the
    * depth-4 × width-256 counter table as a watermarked windowed
    * aggregate — the streaming twin of q108's batch sketch build. The
    * engine state is (windows in flight) × ≤ 1024 counters REGARDLESS of
    * vocabulary size — the point of sketching a stream: heavy-hitter
    * estimates probe min-over-d of the emitted counters downstream with
    * no per-term state anywhere. Counters are additive, so late windows
    * merge and per-shard sketches union at 100 TB. Hashing is the same
    * md5-derived [[graft.core.Portable.hash32]] family as the batch
    * sketch, so stream and batch counters are bit-identical on the same
    * data (pinned by StreamingSpec). */
  /** Streaming dataset checksum — q220 at ingest: per (window, source)
    * the SAME order-invariant content fingerprint the batch audit
    * computes (count + SUM/XOR/MIN/MAX of canonical row hashes — ONE
    * shared hash definition, [[graft.queries.TextOps.checksumHash]]),
    * maintained as a watermarked windowed aggregate. Every fold is
    * commutative + associative, so late arrivals merge into their
    * window and per-shard stream states union at 100 TB exactly like
    * the batch ones; a drift between the stream-maintained checksum
    * and a batch recompute localizes corruption to a (window, source)
    * cell without re-reading anything else. State is windows-in-flight
    * × |sources| five-long rows. StreamingSpec pins stream == batch
    * (including out-of-order arrival) on a shared fixture. */
  def checksumStream(docs: DataFrame, window: String = "1 hour",
      horizon: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"), col("source"),
        graft.queries.TextOps.checksumHash(
          col("doc_id"), col("text"), col("lang")).as("h"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("source"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("sum_h"),
        expr("bit_xor(h)").as("xor_h"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))

  /** Streaming Good–Turing coverage — q218 at ingest (VERDICT r18 #4's
    * second shape): per (window, lang) the count-of-counts coverage
    * surface (n_tokens / v_types / N1 / N2 and the derived unseen-mass
    * p0, coverage, Chao1 — the SAME integer expressions as the batch
    * gate), maintained as TWO CHAINED watermarked windowed aggregates:
    * (window, lang, tok) counts first, then the coverage fold over
    * `window_time()` of the finalized level — Append mode means level 2
    * only ever sees watermark-CLOSED type counts, so its outputs are
    * exact, never provisional. Both levels are combinable folds, which
    * is exactly the batch operator's 100 TB argument (shard states
    * union) — the chained stream proves it live. State: windows-in-
    * flight × in-window vocabulary (level 1) + × |langs| 4-long rows
    * (level 2); the vocabulary term is the honest cost of exact
    * singleton counts at ingest (a sketch can bound it, but N1/N2 are
    * exactly what sketches blur). */
  def coverageStream(docs: DataFrame, window: String = "1 hour",
      horizon: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.{window => fwindow, window_time}
    docs.withWatermark("ts", horizon)
      .select(col("ts"), col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .groupBy(fwindow(col("ts"), window), col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(fwindow(window_time(col("window")), window), col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        count(when(col("c") === 1L, 1)).as("n1"),
        count(when(col("c") === 2L, 1)).as("n2"))
      .select(col("window"), col("lang"), col("n_tokens"), col("v_types"),
        col("n1"), col("n2"),
        expr("n1 * 10000 div n_tokens").as("p0_4"),
        expr("10000 - n1 * 10000 div n_tokens").as("coverage4"),
        (col("v_types") + expr("n1 * (n1 - 1) div (2 * (n2 + 1))"))
          .as("chao1"))
  }

  /** Streaming hour-of-day seasonality + χ² uniformity — q234 at ingest
    * (VERDICT r19 #5): per (window, event_type) the traffic count, peak
    * hour/share, and the χ² statistic against a flat 24-hour shape, as
    * TWO CHAINED watermarked windowed aggregates (the q218/coverageStream
    * trick): (window, type, hour) counts first, then the χ² fold over
    * `window_time()` of the FINALIZED level — Append mode means level 2
    * only ever sees watermark-closed hour counts, so the statistic is
    * exact, never provisional.
    *
    * The batch query grid-fills the 24 cells so zero-traffic hours enter
    * the fold; a stream can't cross-join a grid into a watermarked agg,
    * but the zero cells fold ANALYTICALLY (the q237 private-token move):
    * Σ_{h=0..23}(24·O_h − n)² = 576·ΣO² − 48n·ΣO + 24n² and ΣO = n, so
    * ssq = 576·ΣO²_present − 24n² — zero cells contribute exactly their
    * n² through the closed form, and the integer is BIT-IDENTICAL to the
    * batch grid fold (StreamingSpec pins it). The peak can never be a
    * zero cell (any emitted group has n ≥ 1), so max(struct(o, −h)) over
    * present cells matches the batch grid's tie rule.
    *
    * Scale: both levels are combinable folds; state is windows-in-flight
    * × |types|·24 counters (level 1) + × |types| 4-long rows (level 2),
    * watermark-evicted. */
  def seasonalityStream(events: DataFrame, window: String = "1 hour",
      horizon: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.functions.{window => fwindow, window_time}
    events.withWatermark("ts", horizon)
      .select(col("ts"), col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("h"))
      .groupBy(fwindow(col("ts"), window), col("event_type"), col("h"))
      .agg(count(lit(1)).as("o"))
      .groupBy(fwindow(window_time(col("window")), window),
        col("event_type"))
      .agg(sum(col("o")).as("n"),
        sum(col("o") * col("o")).as("so2"),
        max(struct(col("o"), (-col("h")).as("nh"))).as("pk"))
      .select(col("window"), col("event_type"), col("n"),
        (-col("pk.nh")).as("peak_hour"),
        expr("pk.o * 10000 div n").as("peak_share4"),
        expr("(576 * so2 - 24 * n * n) * 100 div (24 * n)").as("chi2c"))
  }

  /** A [[Transition]] stamped with the DESTINATION event's event time, so
    * the downstream windowed aggregation can watermark on it. */
  final case class TransitionAt(user_id: Long, a: String, b: String,
      ts: Timestamp)

  /** Streaming Markov per-state conditional entropy — q243 at ingest
    * (VERDICT r19 #5): per (window, state a) the transition mass c_a, the
    * fanout, and H_a on the 1e-6 grid, EXACTLY q243's per-term integer-log
    * fold. Three chained stateful stages: (1) [[transitionStream]]'s
    * per-user keyed-state lag (same (us, event_id) disorder contract),
    * each transition stamped with its destination event time and
    * re-watermarked; (2) a windowed (window, a, b) count — finalized c_ab;
    * (3) the entropy fold over `window_time()` of the closed level. Stage
    * 3 needs the PER-TERM grid c_ab·⌊(ln c_ab − ln c_a)·10⁶ + 0.5⌋ with
    * c_a the group's own sum, which no distributive agg can see — but the
    * group is fanout-bounded (≤ |types| rows), so it collect_lists the
    * closed c_ab values and folds them with `aggregate()` post-agg:
    * bit-identical to the batch query, state bounded by |types|² per
    * window. `nts6` (= −Σ term) rides the output so a consumer derives
    * the window's GLOBAL rate exactly: ⌊Σ nts6 / Σ n_trans + 0.5⌋ — the
    * q243 rollup without a fourth stateful stage.
    *
    * Scale: keyed-state is 1 row/user (O(1) forever); level-2 state is
    * windows-in-flight × |types|²; level-3 × |types| short arrays — all
    * watermark-evicted. */
  def entropyRateStream(spark: SparkSession, events: Dataset[Event],
      window: String = "1 hour", horizon: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{window => fwindow, window_time}

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[LastEv]): Iterator[TransitionAt] = {
      val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      val out = Seq.newBuilder[TransitionAt]
      var last = state.getOption
      sorted.foreach { e =>
        val newer = last.forall(l =>
          e.ts.getTime > l.us ||
            (e.ts.getTime == l.us && e.event_id > l.event_id))
        if (newer) {
          last.foreach { l =>
            out += TransitionAt(userId, l.event_type, e.event_type, e.ts)
          }
          last = Some(LastEv(e.ts.getTime, e.event_id, e.event_type))
        }
      }
      last.foreach(state.update)
      out.result().iterator
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
      .withWatermark("ts", horizon)
      .groupBy(fwindow(col("ts"), window), col("a"), col("b"))
      .agg(count(lit(1)).as("c_ab"))
      .groupBy(fwindow(window_time(col("window")), window), col("a"))
      .agg(sum(col("c_ab")).as("n_trans"),
        count(lit(1)).as("fanout"),
        collect_list(col("c_ab")).as("cs"))
      .select(col("window"), col("a"), col("n_trans"), col("fanout"),
        expr("""aggregate(cs, 0L, (acc, c) -> acc - c *
            CAST(floor((ln(CAST(c AS DOUBLE)) - ln(CAST(n_trans AS DOUBLE)))
              * 1e6 + 0.5) AS BIGINT))""").as("nts6"))
      .select(col("window"), col("a"), col("n_trans"), col("fanout"),
        col("nts6"),
        floor(col("nts6").cast("double") / col("n_trans").cast("double")
          + 0.5).cast("long").as("h6"))
  }

  def cmSketchStream(docs: DataFrame, window: String = "1 hour",
      horizon: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .select(col("ts"), col("tok"), explode(expr("array(0, 1, 2, 3)")).as("d"))
      .withColumn("c",
        graft.core.Portable.hash32(
          concat(col("d").cast("string"), lit(":"), col("tok"))) % 256)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("d"), col("c"))
      .agg(count(lit(1)).as("cnt"))

  /** Streaming fence MONITOR — q172/q177 at ingest: the Tukey fences are
    * TRAINED by the batch histogram pass (a 4-row (event_type, lo2, hi2)
    * table in q172's multiply-through ×2-cents form — no division ever
    * happens) and FROZEN; the stream scores arrivals against them and
    * emits per-(1-hour window, type) violation counts. This split is the
    * production contract: fences move at batch cadence (retrain daily),
    * violation RATES move at stream cadence (alert in minutes) — a
    * stream cannot compute its own quartiles without unbounded state,
    * and a monitor that did would also let a corrupt feed drag its own
    * fences toward itself.
    *
    * Scale: the fence table is fences-sized (≤ |types| rows) so it
    * broadcasts by construction; state is windows-in-flight × |types|
    * counters, watermark-evicted; counts are additive so late windows
    * merge. StreamingSpec pins stream == batch window counts on a
    * shared fixture.
    *
    * Unfenced types are NOT dropped (ADVICE r15): the fence join is a
    * LEFT join, so an event_type with no fence row still surfaces with
    * its arrival count, null n_below/n_above, and fenced = false — a
    * stale fence table is visible at stream cadence instead of making
    * the monitor silently blind to new types. */
  def fenceMonitorStream(events: DataFrame, fences: DataFrame,
      window: String = "1 hour", horizon: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .withColumn("v", expr("cast(floor(value * 100 + 0.5) as bigint)"))
      .join(broadcast(fences.select(col("event_type"), col("lo2"), col("hi2"))),
        Seq("event_type"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") * 2 < col("lo2"), 1L).otherwise(0L)).as("n_below_raw"),
        sum(when(col("v") * 2 > col("hi2"), 1L).otherwise(0L)).as("n_above_raw"),
        max(col("lo2").isNotNull).as("fenced"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        when(col("fenced"), col("n_below_raw")).as("n_below"),
        when(col("fenced"), col("n_above_raw")).as("n_above"),
        col("fenced"))

  /** Ingest-time Gopher quality-rule monitor — the STREAM twin of batch
    * q190: arriving docs are scored against the SAME five rules + the
    * conjunction (the shared [[graft.queries.TextOps.gopherFlags]]
    * melt, so stream and batch verdicts are bit-identical), and the
    * output is per-(1-hour window, rule) document / pass counts — the
    * crawl-feed health dashboard a curation pipeline watches between
    * batch re-filters (a feed whose r_all pass rate drops at stream
    * cadence gets quarantined before it pollutes a day of intake).
    *
    * Scale: rule evaluation is map-side (integer comparisons, no
    * division); state is windows-in-flight × 6 rule counters,
    * watermark-evicted; counts are additive so late windows merge. */
  def gopherRulesStream(docs: DataFrame,
      window: String = "1 hour", horizon: String = "10 minutes"): DataFrame =
    graft.queries.TextOps.gopherFlags(
      docs.withWatermark("ts", horizon), Seq(col("ts")))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("rule"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
      .select(col("w.start").as("hour"), col("rule"), col("n_docs"),
        col("n_pass"))

  /** Ingest-time OOV monitor — the STREAM twin of batch q198: arriving
    * docs are tokenized map-side and probed against the FROZEN
    * vocabulary table (built batch-side, refreshed at batch cadence —
    * the fenceMonitorStream split applied to the tokenizer-coverage
    * question); output is per-(1-hour window) token / OOV-token counts.
    * A feed whose OOV rate jumps at stream cadence signals a language
    * or encoding shift BEFORE a day of intake embeds badly.
    *
    * Scale: the stream-static left join is stateless and re-plans the
    * vocab table per micro-batch (so it may exceed broadcast size and
    * picks up batch refreshes without a restart — the winnowMatchStream
    * contract); agg state is windows-in-flight counters,
    * watermark-evicted; counts are additive so late windows merge. */
  def oovMonitorStream(docs: DataFrame, vocab: DataFrame,
      window: String = "1 hour", horizon: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", horizon)
      .select(col("ts"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .join(vocab.select(col("tok"), lit(1L).as("in_v")), Seq("tok"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("oov_tok"))
      .select(col("w.start").as("hour"), col("n_tok"), col("oov_tok"))

  /** Ingest-time winnowing overlap — the STREAM twin of batch q181: each
    * arriving doc is fingerprinted MAP-SIDE by the shared
    * [[graft.queries.DedupSim.winnowFpsExpr]] (stream and batch
    * fingerprints are bit-identical — the cdcChunkStream contract), then
    * its fingerprint set probes the STATIC corpus fingerprint table with
    * one stream-static left equi join; the per-doc verdict is
    * (n_fps, n_matched, overlap = any corpus fingerprint hit). The
    * ingest-side half of plagiarism/splice screening: the corpus table
    * moves at batch cadence (a q181-style pass maintains it), arrivals
    * are screened in minutes. Stream-static joins keep no state and the
    * static side re-plans per micro-batch, so the corpus table may
    * exceed broadcast size and picks up batch refreshes without a
    * restart; agg state is horizon-bounded. The (doc_id, event_us)
    * grouping discriminator is the cdcChunkStream ADVICE-r7 rule: one
    * verdict per ingest event, not a silent merge of re-ingests. Docs
    * with < 7 alpha tokens report n_fps = 0 (explode_outer keeps them). */
  def winnowMatchStream(docs: DataFrame, corpusFps: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val fp = docs
      .withColumn("ws", expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
      .withColumn("fps", expr(graft.queries.DedupSim.winnowFpsExpr))
      .withWatermark("ts", horizon)
      .select(col("doc_id"), col("ts"),
        unix_micros(col("ts")).as("event_us"),
        size(col("fps")).as("n_fps"),
        explode_outer(col("fps")).as("fp"))
    val idx = corpusFps.select(col("fp")).distinct().withColumn("hit", lit(1))
    fp.join(idx, Seq("fp"), "left")
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), horizon),
        col("doc_id"), col("event_us"), col("n_fps"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_matched"))
      .select(col("doc_id"), col("event_us"), col("n_fps").cast("long").as("n_fps"),
        col("n_matched"))
      .withColumn("overlap", col("n_matched") > 0)
  }

  /** Streaming CDC apply: maintain a parquet serving table by MERGE-ing
    * each micro-batch through [[graft.maintenance.Upsert]] — the
    * streaming twin of q86 (a crawl feed continuously upserting a
    * serving corpus). Within a batch, `seqCol` breaks multi-version keys
    * (highest wins, further ties broken by a content hash so the winner
    * is independent of partition order); across failures foreachBatch may
    * re-run a batch, and the apply is idempotent (re-merging the same
    * batch lands the identical state).
    *
    * Crash safety: the merged state is written to a STAGING directory
    * while the live table stays intact, then swapped in (delete old,
    * rename staging) — a crash mid-write leaves the old table untouched;
    * a crash between delete and rename leaves the staging dir, which the
    * next batch recovers by completing the rename before reading. (A
    * production deployment on an object store would use a MERGE-capable
    * table format's commit protocol instead; the staging swap is the
    * plain-parquet equivalent.)
    *
    * Scale: the batch is small relative to the table, so the merge is
    * Upsert's broadcast anti join. The wholesale rewrite is the
    * single-node stand-in for a partition-scoped rewrite (only
    * partitions containing batch keys). */
  def upsertStream(changes: DataFrame, keys: Seq[String], seqCol: String,
      tablePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val others = batch.columns.filterNot(_ == seqCol).map(col)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)
          .orderBy(col(seqCol).desc, xxhash64(others: _*))
        val latest = batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        val live = new org.apache.hadoop.fs.Path(tablePath)
        val staged = new org.apache.hadoop.fs.Path(tablePath + ".staging")
        val fs = live.getFileSystem(s.sparkContext.hadoopConfiguration)
        // recovery: a previous batch crashed between delete and rename
        if (!fs.exists(live) && fs.exists(staged)) fs.rename(staged, live)
        val merged =
          if (fs.exists(live))
            graft.maintenance.Upsert(
              s.read.parquet(tablePath).select(batch.columns.map(col): _*),
              latest, keys)
          else latest
        // the staging write reads the INTACT live table (no read-and-
        // overwrite conflict), so no checkpoint is needed before it
        merged.write.mode("overwrite").parquet(staged.toString)
        fs.delete(live, true)
        if (!fs.rename(staged, live))
          throw new java.io.IOException(
            s"failed to publish staged table over $tablePath")
      }
      .start()
}
