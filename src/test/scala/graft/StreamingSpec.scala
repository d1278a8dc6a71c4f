package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** MemoryStream-driven tests of the Structured Streaming operators. */
class StreamingSpec extends SparkSpec {

  def ts(minute: Int): Timestamp = new Timestamp(3600_000L * 10 + minute * 60_000L)

  def runToCompletion(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable(); q.stop()
  }

  test("hourlyRollup: windowed agg with watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, 1, "view", 1.0, ts(5)),
      Event(2, 1, "view", 2.0, ts(10)),
      Event(3, 2, "purchase", 5.0, ts(65)))
    val q = EventStreams.hourlyRollup(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete()).start()
    runToCompletion(q)
    val rows = spark.table("hourly")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq(("purchase", 1L, 5.0), ("view", 2L, 3.0)))
  }

  test("sessionize: session_window groups by 30-min gaps") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // user 1: events at minute 0, 10 (one session), then 50 (gap 40 > 30: new)
    mem.addData(
      Event(1, 1, "view", 1.0, ts(0)),
      Event(2, 1, "view", 1.0, ts(10)),
      Event(3, 1, "view", 1.0, ts(50)))
    // watermark must advance past session end + gap for append emission
    mem.addData(Event(9, 99, "view", 0.0, ts(200)))
    val q = EventStreams.sessionize(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("sessions")
      .filter("user_id = 1").collect()
      .map(r => (r.getLong(3))).sorted
    assert(rows.toSeq === Seq(1L, 2L))
  }

  test("file-source stream of the events fixture == batch rollup") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // readStream.parquet wants a directory; stage the single fixture file
    val dir = java.nio.file.Files.createTempDirectory("evstream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    // encoding-adaptive, same as the batch loader (VERDICT r10 #1): the
    // fixture has shipped as both ns-as-long and µs-timestamp
    def withTs(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(graft.core.Tables.epochMicros(df, "ts")))
    val stream = withTs(spark.readStream.schema(schema).parquet(dir.toString))
    val q = EventStreams.hourlyRollup(stream)
      .writeStream.format("memory").queryName("file_hourly")
      .outputMode(OutputMode.Complete()).start()
    runToCompletion(q)
    val streamed = spark.table("file_hourly")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).sorted
    val batch = EventStreams.hourlyRollup(withTs(spark.read.parquet(dir.toString)))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).sorted
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("purchaseAttribution: stream-stream join within the hour window") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, 1, "view", 0.0, ts(0)),      // in window for purchase @50
      Event(2, 1, "view", 0.0, ts(40)),     // in window
      Event(3, 1, "purchase", 9.99, ts(50)),
      Event(4, 2, "view", 0.0, ts(0)),
      Event(5, 2, "purchase", 5.0, ts(70)): Event) // view @0 is 70min old: out
    mem.addData(Event(9, 99, "view", 0.0, ts(300))) // advance watermark
    val q = EventStreams.purchaseAttribution(mem.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("attrib")
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(rows.toSeq === Seq((3L, 1L), (3L, 2L)))
  }

  test("parquet sink + checkpoint: restart does not duplicate output") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("sinkckpt").toString
    val mem = MemoryStream[Event]
    mem.addData(Event(1, 1, "view", 1.0, ts(0)), Event(2, 1, "view", 2.0, ts(1)))
    def start() = mem.toDF().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(out).count() === 2)
    // restart against the same checkpoint: already-committed batch must
    // not be re-emitted; only new data appears
    mem.addData(Event(3, 2, "view", 3.0, ts(2)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
    assert(rows.count() === 3, "exactly-once: no duplicates after restart")
    assert(rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("sessionizeWithState: custom keyed state emits on timeout") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, 1, "view", 1.0, ts(0)),
      Event(2, 1, "view", 2.0, ts(5)),
      Event(3, 2, "view", 4.0, ts(7)))
    // advance watermark far enough to time out both sessions
    mem.addData(Event(9, 99, "view", 0.0, ts(300)))
    val q = EventStreams.sessionizeWithState(spark, mem.toDS())
      .writeStream.format("memory").queryName("state_sessions")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("state_sessions")
      .filter("user_id IN (1, 2)").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq((1L, 2L, 3.0), (2L, 1L, 4.0)))
  }

  test("anomalyStream: online z-score flags only post-warmup outliers, state carries across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    // user 1: varied warmup (minPrior=5) then an extreme outlier;
    // user 2: constant values then the same value again (never anomalous)
    mem.addData(
      Event(1, 1, "p", 1.00, ts(0)), Event(2, 1, "p", 1.02, ts(1)),
      Event(3, 1, "p", 0.98, ts(2)), Event(4, 1, "p", 1.01, ts(3)),
      Event(5, 1, "p", 0.99, ts(4)),
      Event(11, 2, "p", 2.00, ts(0)), Event(12, 2, "p", 2.00, ts(1)),
      Event(13, 2, "p", 2.00, ts(2)), Event(14, 2, "p", 2.00, ts(3)),
      Event(15, 2, "p", 2.00, ts(4)), Event(16, 2, "p", 2.00, ts(5)))
    // second batch exercises state carry-over: the outlier is scored
    // against moments accumulated in batch 1
    mem.addData(Event(6, 1, "p", 5.00, ts(6)), Event(17, 2, "p", 2.00, ts(6)))
    val q = EventStreams.anomalyStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("anomalies")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("anomalies").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(6L), s"only event 6 is anomalous: ${rows.toSeq}")
    assert(rows(0)._3 > 3.0, "z must exceed the threshold")
  }

  test("anomalyStream: sigma-0 history flags any deviation with infinite z") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    mem.addData((1 to 6).map(i => Event(i.toLong, 7L, "p", 3.00, ts(i))): _*)
    mem.addData(Event(7, 7, "p", 3.01, ts(7)))
    val q = EventStreams.anomalyStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("anomalies_sigma0")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("anomalies_sigma0").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(7L))
    assert(rows(0)._2.isPosInfinity)
  }

  test("transitionStream: cross-batch transitions equal the batch matrix's non-END rows") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Event(1, 1, "view", 1.0, ts(0)),
      Event(2, 1, "click", 1.0, ts(1)),
      Event(3, 2, "view", 1.0, ts(2)),
      Event(4, 1, "purchase", 5.0, ts(10)), // crosses the batch boundary
      Event(5, 2, "click", 1.0, ts(11)))
    val mem = MemoryStream[Event]
    mem.addData(events.take(3): _*)
    mem.addData(events.drop(3): _*)
    val q = EventStreams.transitionStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val streamed = spark.table("transitions")
      .groupBy(col("from_type"), col("to_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batch = events.toDF()
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull) // stream tails: no 'END' rows
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch, "stream == batch transitions incl. the cross-batch pair")
    assert(streamed.contains(("click", "purchase", 1L)), "the boundary-crossing transition was emitted")
  }

  test("transitionStream: cross-batch stragglers and replays are dropped, not sequenced by arrival") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = EventStreams.transitionStream(spark, mem.toDS())
      .writeStream.format("memory").queryName("transitions_disorder")
      .outputMode(OutputMode.Append()).start()
    // two processAllAvailable fences force a REAL micro-batch boundary —
    // a single drain would coalesce both adds into one batch, where the
    // intra-batch sort (correctly) sequences the straggler
    mem.addData(
      Event(1, 1, "view", 1.0, ts(0)),
      Event(2, 1, "click", 1.0, ts(2)))
    q.processAllAvailable()
    mem.addData(
      Event(9, 1, "add", 1.0, ts(1)),      // straggler: older than stored state → dropped
      Event(2, 1, "click", 1.0, ts(2)),    // exact replay of the stored state → dropped
      Event(3, 1, "purchase", 5.0, ts(3))) // in order: emits click→purchase
    runToCompletion(q)
    val streamed = spark.table("transitions_disorder")
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(streamed === Set(("view", "click"), ("click", "purchase")),
      s"straggler 'add' and the replayed 'click' must not appear: $streamed")
  }

  test("erasureScrubStream: tombstoned users' events never pass, equal to the batch anti-join") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val events = Seq(
      Event(1, 1, "view", 1.0, ts(0)),
      Event(2, 2, "view", 2.0, ts(1)), // user 2 is tombstoned → dropped
      Event(3, 3, "purchase", 5.0, ts(2)),
      Event(4, 2, "purchase", 9.0, ts(3))) // dropped
    val tomb = Seq(2L, 7L).toDF("k") // 7 never appears — no effect
    val mem = MemoryStream[Event]
    mem.addData(events.take(2): _*)
    mem.addData(events.drop(2): _*)
    val q = EventStreams.erasureScrubStream(mem.toDF(), tomb)
      .writeStream.format("memory").queryName("erasure_scrub")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val streamed = spark.table("erasure_scrub")
      .collect().map(r => r.getLong(0)).sorted.toSeq
    val batch = events.toDF()
      .join(tomb, col("user_id") === col("k"), "left_anti")
      .collect().map(r => r.getLong(0)).sorted.toSeq
    assert(streamed === Seq(1L, 3L), "only non-tombstoned users' events pass")
    assert(streamed === batch, "stream == batch anti-join on the shared fixture")
  }

  test("dedupStream: duplicate payloads within the watermark are dropped once") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (1L, "the same text", ts(0)),
      (2L, "the same text", ts(1)), // duplicate within horizon → dropped
      (3L, "different text", ts(2)))
    mem.addData((4L, "the same text", ts(3))) // still within horizon → dropped
    val q = EventStreams.dedupStream(
      mem.toDF().toDF("doc_id", "text", "ts"), horizon = "1 hour")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("dedup_stream")
      .collect().map(r => r.getLong(0)).sorted
    assert(rows.toSeq === Seq(1L, 3L), "first arrival per content hash survives")
  }

  test("cmSketchStream: windowed counters are bit-identical to the batch sketch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha", ts(0)),
      (2L, "beta gamma", ts(5)),
      (3L, "alpha delta epsilon", ts(20)))
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(docs.take(2): _*)
    mem.addData(docs.drop(2): _*)
    val q = EventStreams.cmSketchStream(
      mem.toDF().toDF("doc_id", "text", "ts"), window = "1 hour")
      .writeStream.format("memory").queryName("cm_sketch")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    // latest update per (window, d, c) is the final counter value
    val streamed = spark.table("cm_sketch")
      .groupBy(col("window"), col("d"), col("c")).agg(max("cnt").as("cnt"))
      .select(col("d"), col("c"), col("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = docs.toDF("doc_id", "text", "ts")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .select(col("tok"), explode(expr("array(0, 1, 2, 3)")).as("d"))
      .withColumn("c", graft.core.Portable.hash32(
        concat(col("d").cast("string"), lit(":"), col("tok"))) % 256)
      .groupBy(col("d"), col("c")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      "stream-maintained counters must equal the batch-built sketch")
    // the sketch state is counter-bounded: no row outside d 0..3 / c 0..255
    assert(streamed.forall { case (d, c, _) => d >= 0 && d < 4 && c >= 0 && c < 256 })
  }

  test("checksumStream: windowed fingerprints equal the batch audit, out-of-order safe") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "en", "web", ts(0)),
      (2L, "gamma delta", "en", "web", ts(10)),
      (3L, "epsilon", "de", "wiki", ts(20)),
      (4L, "zeta eta theta", "en", "web", ts(5))) // arrives LAST, lands in-window
    val mem = MemoryStream[(Long, String, String, String, Timestamp)]
    mem.addData(docs.take(3): _*)
    mem.addData(docs.drop(3): _*)
    val q = EventStreams.checksumStream(
      mem.toDF().toDF("doc_id", "text", "lang", "source", "ts"))
      .writeStream.format("memory").queryName("checksum_stream")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    // latest update per (window, source) is the final state
    val streamed = spark.table("checksum_stream")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("window"), col("source"))
          .orderBy(desc("n_rows"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("n_rows"), col("sum_h"), col("xor_h"),
        col("min_h"), col("max_h"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val batch = docs.toDF("doc_id", "text", "lang", "source", "ts")
      .select(col("source"), graft.queries.TextOps.checksumHash(
        col("doc_id"), col("text"), col("lang")).as("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("sum_h"),
        expr("bit_xor(h)").as("xor_h"),
        min(col("h")).as("min_h"), max(col("h")).as("max_h"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(streamed === batch,
      "stream-maintained checksums must equal the batch audit per source")
  }

  test("seasonalityStream: chained windowed chi-squared equals the batch q234 grid fold") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // hours 10/11/12 inside one 24h window; 'view' has a clear peak
    // (h10), 'purchase' a tie (h11 vs h12 — lowest hour must win);
    // the ts(8) view arrives LAST (out of order, in-window); the far-
    // future pair is the flush that closes the window through BOTH
    // chained aggregations and is excluded from the compare
    val events = Seq(
      Event(1, 1, "view", 1.0, ts(5)),       // h10
      Event(2, 1, "view", 1.0, ts(15)),      // h10
      Event(3, 2, "view", 1.0, ts(65)),      // h11
      Event(4, 2, "purchase", 5.0, ts(70)),  // h11
      Event(5, 1, "purchase", 5.0, ts(130))) // h12
    val late = Event(6, 3, "view", 1.0, ts(8)) // h10, out of order
    val flush = Event(9, 99, "view", 0.0, ts(200000))
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    mem.addData(late)
    mem.addData(flush)
    val q = EventStreams.seasonalityStream(mem.toDF(), window = "24 hours")
      .writeStream.format("memory").queryName("seasonality_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val streamed = spark.table("seasonality_stream")
      .filter(col("window.start") < ts(200000))
      .select(col("event_type"), col("n"), col("peak_hour"),
        col("peak_share4"), col("chi2c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // batch reference: q234's own grid-filled fold on the same fixture
    val oh = (events :+ late).toDF()
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("o"))
    val grid = oh.select(col("event_type")).distinct()
      .crossJoin(spark.range(24).select(col("id").as("h")))
      .join(oh, Seq("event_type", "h"), "left_outer")
      .select(col("event_type"), col("h"),
        coalesce(col("o"), lit(0L)).as("o"))
    val agg1 = grid.groupBy(col("event_type"))
      .agg(sum(col("o")).as("n"),
        max(struct(col("o"), (-col("h")).as("nh"))).as("pk"))
    val batch = grid.join(agg1, Seq("event_type"))
      .select(col("event_type"), col("n"), col("pk"),
        ((lit(24L) * col("o") - col("n"))
          * (lit(24L) * col("o") - col("n"))).as("sq"))
      .groupBy(col("event_type"), col("n"), col("pk"))
      .agg(sum(col("sq")).as("ssq"))
      .select(col("event_type"), col("n"), (-col("pk.nh")).as("peak_hour"),
        expr("pk.o * 10000 div n").as("peak_share4"),
        expr("ssq * 100 div (24 * n)").as("chi2c"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(streamed === batch,
      "analytic zero-cell chi2 fold must equal the batch grid fold per type")
    assert(streamed("purchase")._2 === 11L,
      "peak tie must resolve to the lowest hour, matching the batch grid rule")
  }

  test("entropyRateStream: keyed-state lag + chained windowed entropy equals the batch q243 fold") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // user 1's purchase crosses the micro-batch boundary (keyed state
    // carries the lag); event 4 for user 2 arrives out of order WITHIN
    // its micro-batch (the intra-batch sort sequences it); the far-
    // future PAIR is the flush — a single event emits no transition, so
    // the flush must itself be a transition to advance the downstream
    // watermark through both chained aggregations
    val batch1 = Seq(
      Event(1, 1, "view", 1.0, ts(0)),
      Event(2, 1, "click", 1.0, ts(1)),
      Event(5, 2, "view", 1.0, ts(4)),   // out of order in-batch
      Event(3, 2, "view", 1.0, ts(0)),
      Event(4, 2, "view", 1.0, ts(2)))
    val batch2 = Seq(
      Event(6, 1, "view", 1.0, ts(2)),
      Event(7, 1, "purchase", 5.0, ts(3)),
      Event(8, 2, "click", 1.0, ts(6)))
    val flush = Seq(
      Event(90, 99, "view", 0.0, ts(200000)),
      Event(91, 99, "click", 0.0, ts(200001)))
    val mem = MemoryStream[Event]
    mem.addData(batch1: _*)
    mem.addData(batch2: _*)
    mem.addData(flush: _*)
    val q = EventStreams.entropyRateStream(spark, mem.toDS(),
      window = "24 hours")
      .writeStream.format("memory").queryName("entropy_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val streamRows = spark.table("entropy_stream")
      .filter(col("window.start") < ts(200000))
    val streamed = streamRows
      .select(col("a"), col("n_trans"), col("fanout"), col("h6"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // batch reference: q243's own per-state fold on the same fixture
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tr = (batch1 ++ batch2).toDF()
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("next_type").as("b"))
      .agg(count(lit(1)).as("c_ab"))
    val ca = tr.groupBy(col("a"))
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("fanout"))
    val batchMap = tr.join(ca, Seq("a"))
      .select(col("a"), col("c_a"), col("fanout"),
        (col("c_ab") * floor((log(col("c_ab").cast("double"))
          - log(col("c_a").cast("double"))) * 1e6 + 0.5).cast("long"))
          .as("term"))
      .groupBy(col("a"), col("c_a"), col("fanout"))
      .agg(sum(col("term")).as("tsum"))
      .select(col("a"), col("c_a"), col("fanout"),
        floor((-col("tsum")).cast("double") / col("c_a").cast("double")
          + 0.5).cast("long").as("h6"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed === batchMap,
      "per-state windowed entropy must equal the batch q243 per-term grid fold")
    // the global rate derives EXACTLY from the emitted ingredients
    val g = streamRows.agg(sum(col("nts6")).as("gn"), sum(col("n_trans")).as("cc"))
      .select(floor(col("gn").cast("double") / col("cc").cast("double") + 0.5))
      .collect().head.getLong(0)
    val gBatch = {
      val vals = streamed.values.toSeq
      // recompute from the batch side to make the pin independent
      val bt = tr.join(ca, Seq("a"))
        .select((col("c_ab") * floor((log(col("c_ab").cast("double"))
          - log(col("c_a").cast("double"))) * 1e6 + 0.5).cast("long"))
          .as("term"), col("c_ab"))
        .agg((-sum(col("term"))).as("gn"), sum(col("c_ab")).as("cc"))
        .select(floor(col("gn").cast("double") / col("cc").cast("double") + 0.5))
        .collect().head.getLong(0)
      assert(vals.nonEmpty); bt
    }
    assert(g === gBatch, "consumer-derived global rate == batch q243 rollup")
  }

  test("coverageStream: chained windowed count-of-counts equals the batch q218 fold") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // repeated tokens pin n1 vs n2 vs higher; the doc at ts(5) arrives
    // LAST (out of order, in-window); ts(200) is the flush sentinel that
    // closes the first window through BOTH chained aggregations and is
    // excluded from the compare
    val docs = Seq(
      (1L, "alpha beta alpha", "en", ts(0)),
      (2L, "beta gamma", "en", ts(10)),
      (3L, "delta delta", "de", ts(20)),
      (4L, "epsilon beta", "en", ts(5)))
    val flush = (9L, "omega", "en", ts(200))
    val mem = MemoryStream[(Long, String, String, Timestamp)]
    mem.addData(docs.take(3): _*)
    mem.addData(docs.drop(3): _*)
    mem.addData(flush)
    val q = EventStreams.coverageStream(
      mem.toDF().toDF("doc_id", "text", "lang", "ts"))
      .writeStream.format("memory").queryName("coverage_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val streamed = spark.table("coverage_stream")
      .filter(col("window.start") === ts(0)) // the flushed first window
      .select(col("lang"), col("n_tokens"), col("v_types"), col("n1"),
        col("n2"), col("p0_4"), col("coverage4"), col("chao1"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val batch = docs.toDF("doc_id", "text", "lang", "ts")
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("v_types"),
        count(when(col("c") === 1L, 1)).as("n1"),
        count(when(col("c") === 2L, 1)).as("n2"))
      .select(col("lang"), col("n_tokens"), col("v_types"), col("n1"),
        col("n2"),
        expr("n1 * 10000 div n_tokens").as("p0_4"),
        expr("10000 - n1 * 10000 div n_tokens").as("coverage4"),
        (col("v_types") + expr("n1 * (n1 - 1) div (2 * (n2 + 1))"))
          .as("chao1"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(streamed === batch,
      "chained stream coverage fold must equal the batch q218 fold per lang")
  }

  test("cdcChunkStream: ingest-time chunk dedup matches the batch chunker") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog and then some " * 20
    val textC = "completely different content sharing no chunk with the corpus " * 20
    val corpus = Seq((1L, textA)).toDF("doc_id", "text")
    val corpusIdx = graft.queries.DedupSim.cdcChunkHashArray(corpus)
      .select(explode(col("hs")).as("h"))
    val streamDocs = Seq(
      (10L, textA, ts(0)),          // exact copy: every chunk is in the index
      (11L, "PFX " + textA, ts(1)), // prefix shift: boundaries re-sync on the tail
      (12L, textC, ts(2)),          // fresh text: no chunk can collide (md5)
      (13L, "tiny", ts(3)))         // < 16 chars: no chunk, no signal
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(streamDocs: _*)
    val q = EventStreams.cdcChunkStream(
      mem.toDF().toDF("doc_id", "text", "ts"), corpusIdx)
      .writeStream.format("memory").queryName("cdc_chunks")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val streamed = spark.table("cdc_chunks")
      .select(col("doc_id"), col("n_chunks"), col("n_dup"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // batch reference: same shared chunker, same probe, on a static DF —
    // the stream twin must be bit-identical to the batch decision
    val batch = graft.queries.DedupSim.cdcChunkHashArray(
        streamDocs.toDF("doc_id", "text", "ts"))
      .select(col("doc_id"), size(col("hs")).as("n_chunks"),
        explode_outer(col("hs")).as("h"))
      .join(corpusIdx.withColumn("dup", lit(1)), Seq("h"), "left")
      .groupBy(col("doc_id"), col("n_chunks"))
      .agg(sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(streamed === batch, "stream verdicts must equal the batch chunker's")
    // deterministic semantics independent of boundary luck:
    val byDoc = streamed.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc(10L)._1 > 0 && byDoc(10L)._2.toInt === byDoc(10L)._1,
      "an exact copy's chunks are all duplicates")
    assert(byDoc(12L)._2 === 0L, "fresh text shares no chunk")
    assert(byDoc(13L) === ((0, 0L)), "chunkless doc still reports, with zero signal")
  }

  test("boilerplateStripStream: ingest-time strip matches the q127 segment rule") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // footer is EXACTLY one 8-token unit, so prepended it owns segment 0
    val footer = "cookie policy accept decline terms privacy subscribe newsletter"
    val corpus = (1L to 12L).map(i =>
      (i, s"$footer unique body content with several extra tokens $i"))
      .toDF("doc_id", "text")
    val dropSet = graft.queries.TextOps.boilerplateDropSet(corpus, unit = 8, thr = 10L)
    assert(dropSet.collect().map(_.getString(0)).toSet === Set(footer),
      "the lexicon is exactly the planted footer segment")
    val body101 = "fresh body one two three four five six seven" // 9 tokens
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (101L, s"$footer $body101", ts(0)), // footer seg dropped, body kept
      (102L, "no boilerplate here at all just eight words", ts(1)), // untouched
      (103L, footer, ts(2))) // all boilerplate -> md5("")
    val q = EventStreams.boilerplateStripStream(
      mem.toDF().toDF("doc_id", "text", "ts"), dropSet)
      .writeStream.format("memory").queryName("boiler_strip")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val got = spark.table("boiler_strip")
      .select(col("doc_id"), col("n_segs"), col("kept_segs"),
        col("dropped_segs"), col("clean_hash"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(101L) === ((3L, 2L, 1L, md5hex(body101))))
    assert(got(102L) === ((1L, 1L, 0L,
      md5hex("no boilerplate here at all just eight words"))))
    assert(got(103L) === ((1L, 0L, 1L, md5hex(""))))
  }

  test("dsirScoreStream: ingest-time scoring matches the batch feature dot product") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // an arbitrary deterministic model over the full bucket space —
    // model PRODUCTION is q128's oracle-gated job; the twin's contract
    // is scoring parity for a given model
    val model = (0L until 1024L).map(b => (b, b % 7 - 3)).toDF("b", "lr4")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", ts(0)),
      (2L, "one two three four five six seven eight nine ten", ts(1)),
      (3L, "solo", ts(2))) // < 2 tokens: no features, no output row
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(docs: _*)
    val q = EventStreams.dsirScoreStream(
      mem.toDF().toDF("doc_id", "text", "ts"), model)
      .writeStream.format("memory").queryName("dsir_score")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val got = spark.table("dsir_score")
      .select(col("doc_id"), col("n_feats"), col("logw4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = graft.queries.TextOps.dsirFeatureRows(docs.toDF("doc_id", "text", "ts"))
      .join(model, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lr4")).as("logw4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch, "stream scores must equal the batch dot product")
    assert(got.map(_._1) === Set(1L, 2L), "featureless doc emits nothing")
    val nf = got.map(t => t._1 -> t._2).toMap
    assert(nf(1L) === 8L && nf(2L) === 9L, "n-token doc yields n-1 bigrams")
  }

  test("attributionStream: serving-time overlap counts equal the batch audit") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val run = ('a' to 'l').map(c => s"run$c").mkString(" ") // a 12-token source run
    val corpus = Seq(
      (10L, s"alpha beta $run gamma delta"),
      (20L, "one two three four five six seven eight nine ten"),
      (30L, s"prefix tokens here then $run")) // docs 10 and 30 share the run
    val idx = graft.queries.TextOps.corpusGramIndex(
      corpus.toDF("doc_id", "text")).localCheckpoint()
    val probes = Seq(
      (1L, run, ts(0)),                          // quotes the shared run
      (2L, "totally novel words nobody wrote before now ever again", ts(1)),
      (3L, s"$run $run", ts(2)))                 // repeats: dedup must hold
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(probes: _*)
    val q = EventStreams.attributionStream(
      mem.toDF().toDF("probe_id", "text", "ts"), idx)
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val got = spark.table("attr_stream")
      .select(col("probe_id"), col("doc_id"), col("n_overlap"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch audit: same probe grams (distinct) joined to the same index
    val batch = graft.queries.TextOps.probeGramRows(
        probes.toDF("probe_id", "text", "ts"))
      .join(idx, Seq("g"))
      .groupBy(col("probe_id"), col("doc_id")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === batch, "stream overlap counts must equal the batch audit")
    assert(got.keySet.map(_._1) === Set(1L, 3L), "novel probe matches nothing")
    assert(got((1L, 10L)) === 5L && got((1L, 30L)) === 5L,
      "12-token quote -> 5 grams against both sharing docs")
    assert(got((3L, 10L)) === got((1L, 10L)),
      "repeated quote must not inflate the distinct-gram count for shared grams")
  }

  test("chunkStream: ingest-time chunks equal the batch chunker exactly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val long = (1 to 300).map(i => s"w$i").mkString(" ") // 3 chunks (128/96)
    val docs = Seq(
      (1L, long, ts(0)),
      (2L, "just a few tokens here", ts(1)), // single short chunk
      (3L, "", ts(2)))                       // tokenless: no rows
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(docs: _*)
    val q = EventStreams.chunkStream(mem.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("chunk_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val got = spark.table("chunk_stream")
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"), col("chunk_md5"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val batch = graft.queries.TextOps.chunkRows(docs.toDF("doc_id", "text", "ts"))
      .select(col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"), col("chunk_md5"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got === batch, "stream chunks must equal the batch chunker's")
    assert(got.count(_._1 == 1L) === 3, "300 tokens -> 3 stride-96 chunks")
    assert(!got.exists(_._1 == 3L), "tokenless doc emits no chunks")
  }

  test("pplScoreStream: ingest scores equal the batch bigram LM; OOV is separable") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // model TRAINED by the batch path (bigramRows -> counts ->
    // bigramLmModel) on a small corpus; the twin's contract is scoring
    // parity for a given model
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran to the mat"),
      (3L, "a dog sat on a rug")).toDF("doc_id", "text")
    val model = graft.queries.TextOps.bigramLmModel(
      graft.queries.TextOps.bigramRows(corpus)
        .groupBy(col("bg")).agg(count(lit(1)).as("c")))
      .localCheckpoint() // a static side must not be a lazy stream-side recompute
    val docs = Seq(
      (1L, "the cat sat on the mat", ts(0)),  // fully in-vocab
      (2L, "the cat sat on the zyx", ts(1)),  // 'the zyx' is OOV
      (3L, "zz yy xx", ts(2)),                // every bigram OOV
      (4L, "solo", ts(3)))                    // < 2 tokens: no output row
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(docs: _*)
    val q = EventStreams.pplScoreStream(
      mem.toDF().toDF("doc_id", "text", "ts"), model)
      .writeStream.format("memory").queryName("ppl_score")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val got = spark.table("ppl_score")
      .select(col("doc_id"), col("n_bigrams"), col("n_oov"), col("avg_nll"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    // batch twin over the matched bigrams only (q133's scoring shape)
    val batch = graft.queries.TextOps.bigramRows(
        docs.toDF("doc_id", "text", "ts"))
      .join(model, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("lp4")).as("slp"))
      .select(col("doc_id"),
        (floor(-col("slp").cast("double") / col("n") + 0.5) / 1e4).as("avg_nll"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "featureless doc emits nothing")
    assert(got(1L)._1 === 5L && got(1L)._2 === 0L)
    assert(got(1L)._3 === batch(1L), "in-vocab doc must score exactly the batch value")
    assert(got(2L)._1 === 5L && got(2L)._2 === 1L)
    assert(got(2L)._3 === batch(2L), "OOV bigrams must not perturb the in-vocab score")
    assert(got(3L)._1 === 2L && got(3L)._2 === 2L, "all-OOV doc: OOV counted")
    assert(got(3L)._3.isNaN, "all-OOV doc must have a NULL score")
  }

  test("cdcChunkStream: re-ingesting a doc_id within one window yields one verdict per event") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val textA = "the quick brown fox jumps over the lazy dog and then some " * 20
    val corpusIdx = graft.queries.DedupSim.cdcChunkHashArray(
        Seq((1L, textA)).toDF("doc_id", "text"))
      .select(explode(col("hs")).as("h"))
    // same doc_id, same text (equal n_chunks — the r7 ADVICE collision
    // case), two distinct ingest times inside one window and WITHIN ONE
    // SECOND (a seconds-granularity discriminator would re-collapse them:
    // cast(ts as long) truncates to seconds; the code must use micros)
    val subSecond = new Timestamp(ts(0).getTime + 300L) // +300 ms
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData((10L, textA, ts(0)), (10L, textA, subSecond))
    val q = EventStreams.cdcChunkStream(
      mem.toDF().toDF("doc_id", "text", "ts"), corpusIdx)
      .writeStream.format("memory").queryName("cdc_reingest")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val rows = spark.table("cdc_reingest")
      .select(col("doc_id"), col("n_chunks"), col("n_dup"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(rows.size === 2, s"each ingest event must keep its own verdict, got $rows")
    // both verdicts are the full-duplicate verdict, NOT a doubled n_dup
    rows.foreach { case (_, nChunks, nDup) =>
      assert(nChunks > 0 && nDup === nChunks.toLong, s"per-event verdict wrong: $rows")
    }
  }

  test("dedupStream runs on the RocksDB state store (the production config)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, String, Timestamp)]
      mem.addData((1L, "rocks text", ts(0)), (2L, "rocks text", ts(1)),
        (3L, "other text", ts(2)))
      val q = EventStreams.dedupStream(
        mem.toDF().toDF("doc_id", "text", "ts"), horizon = "1 hour")
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode(OutputMode.Append()).start()
      runToCompletion(q)
      val rows = spark.table("rocks_dedup").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq === Seq(1L, 3L),
        "dedup semantics must hold identically under RocksDB state")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("cdcChunkStream runs on the RocksDB state store (the production config)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val textA = "the quick brown fox jumps over the lazy dog and then some " * 20
      val corpusIdx = graft.queries.DedupSim.cdcChunkHashArray(
        Seq((1L, textA)).toDF("doc_id", "text"))
        .select(explode(col("hs")).as("h"))
      val mem = MemoryStream[(Long, String, Timestamp)]
      mem.addData((10L, textA, ts(0)), (12L, "fresh rocks-backed text " * 10, ts(1)))
      val q = EventStreams.cdcChunkStream(
        mem.toDF().toDF("doc_id", "text", "ts"), corpusIdx)
        .writeStream.format("memory").queryName("rocks_cdc")
        .outputMode(OutputMode.Update()).start()
      runToCompletion(q)
      val byDoc = spark.table("rocks_cdc")
        .select(col("doc_id"), col("n_chunks"), col("n_dup"))
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
      assert(byDoc(10L)._1 > 0 && byDoc(10L)._2.toInt === byDoc(10L)._1,
        "exact copy fully duplicate under RocksDB state")
      assert(byDoc(12L)._2 === 0L, "fresh text clean under RocksDB state")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("contaminationStream: stream-static screen flags only benchmark overlap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // letter-only tokens: the 13-gram tokenizer is [a-zA-Z]+, so digits
    // would be stripped from the doc side but not from this literal.
    // benchGrams carries the 60-bit FINGERPRINT of the gram (the r17
    // batch-q77 contract), so the fixture hashes its literal the same way
    graft.functions.GraftFunctions.register(spark)
    val words = (0 until 13).map(i => "tok" + ('a' + i).toChar).mkString(" ")
    val bench = Seq(words).toDF("g")
      .select(expr("element_at(gram_hash60(split(g, ' '), 13), 1)").as("gram"))
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (1L, s"prefix $words suffix", ts(0)),           // contains the gram
      (2L, "totally unrelated clean text", ts(1)),    // clean
      (3L, "short", ts(2)))                           // < 13 tokens
    val q = EventStreams.contaminationStream(
      mem.toDF().toDF("doc_id", "text", "ts"), bench)
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("contam_stream")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq((1L, 1L, true), (2L, 0L, false), (3L, 0L, false)))
  }

  test("exactSubstrScreenStream: corpus-gram hits merge into spans row-locally") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // static corpus doc: 15 tokens → six duplicated 10-gram fingerprints
    val corpusWords = (0 until 15).map(i => "tok" + ('a' + i).toChar)
    val dupGrams = Seq(corpusWords.mkString(" ")).toDF("text")
      .select(explode(expr("gram_hash60(split(text, ' '), 10)")).as("gram"))
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(
      (1L, corpusWords.mkString(" "), ts(0)),                     // full copy
      (2L, (corpusWords.take(10) :+ "zzz").mkString(" "), ts(1)), // 10-tok prefix
      (3L, "totally unrelated clean text stream doc", ts(2)),     // clean, 6 toks
      (4L, "short", ts(3)))                                       // < K tokens
    val q = EventStreams.exactSubstrScreenStream(
      mem.toDF().toDF("doc_id", "text", "ts"), dupGrams)
      .writeStream.format("memory").queryName("xsubstr_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val rows = spark.table("xsubstr_stream").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
      .sortBy(_._1)
    assert(rows.toSeq === Seq(
      (1L, 15L, 1L, 15L, true),  // six overlapping hits → ONE span, all 15 covered
      (2L, 11L, 1L, 10L, true),  // single hit → one K-token span
      (3L, 6L, 0L, 0L, false),
      (4L, 1L, 0L, 0L, false)))
  }

  test("fenceMonitorStream: frozen fences score arrivals; stream == batch counts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // fences in q172's multiply-through ×2-cents form: view band
    // [$0.50, $4.50], purchase band [$2.00, $10.50]
    val fences = Seq(("view", 100L, 900L), ("purchase", 400L, 2100L))
      .toDF("event_type", "lo2", "hi2")
    val evs = Seq(
      Event(1, 1, "view", 0.25, ts(5)),      //  50 < 100 → below
      Event(2, 1, "view", 3.00, ts(10)),     // 600 in band
      Event(3, 1, "view", 9.00, ts(20)),     // 1800 > 900 → above
      Event(4, 2, "purchase", 2.00, ts(30)), // 400 = lo2: fences are inclusive
      Event(5, 2, "purchase", 12.00, ts(70)),// next window, above
      Event(6, 3, "refund", 1.00, ts(40)))   // NO fence row: surfaced, not dropped
    val mem = MemoryStream[Event]
    mem.addData(evs: _*)
    val q = EventStreams.fenceMonitorStream(mem.toDF(), fences)
      .writeStream.format("memory").queryName("fence_mon")
      .outputMode(OutputMode.Complete()).start()
    runToCompletion(q)
    def optL(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        optL(r, 3), optL(r, 4), r.getBoolean(5)))
      .sortBy(r => (r._1.getTime, r._2)).toSeq
    val streamed = canon(spark.table("fence_mon"))
    val batch = canon(EventStreams.fenceMonitorStream(evs.toDF(), fences))
    assert(streamed === batch, "monitor is cadence-independent")
    val view = streamed.find(_._2 == "view").get
    assert((view._3, view._4, view._5, view._6) ===
      (3L, Some(1L), Some(1L), true))
    val p1 = streamed.filter(_._2 == "purchase")
    assert(p1.map(r => (r._3, r._4, r._5)).toSeq ===
      Seq((1L, Some(0L), Some(0L)), (1L, Some(0L), Some(1L))))
    // ADVICE r15: an unfenced type is visible with n counted and null
    // bands — the fence-table staleness gap surfaces at stream cadence
    val refund = streamed.find(_._2 == "refund").get
    assert((refund._3, refund._4, refund._5, refund._6) ===
      (1L, None, None, false))
  }

  test("gopherRulesStream: ingest rule verdicts match batch q190 semantics") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // one doc passing everything (50+ words, mean len in band, stopwords),
    // one failing word_count+stopwords, one failing symbol_ratio
    val good = (1 to 30).map(i => s"the and with of that token$i also be")
      .mkString(" ")
    val symbols = (1 to 60).map(_ => "woo ###").mkString(" ")
    val docs = Seq(
      (1L, good, ts(0)),
      (2L, "tiny doc", ts(1)),
      (3L, symbols + " the and", ts(2)))
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(docs: _*)
    val q = EventStreams.gopherRulesStream(
      mem.toDF().toDF("doc_id", "text", "ts"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Complete()).start()
    runToCompletion(q)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1.getTime, r._2)).toSeq
    val streamed = canon(spark.table("gopher_stream"))
    val batch = canon(EventStreams.gopherRulesStream(
      docs.toDF("doc_id", "text", "ts")))
    assert(streamed === batch, "monitor is cadence-independent")
    val byRule = streamed.map(r => r._2 -> (r._3, r._4)).toMap
    assert(byRule.keySet === Set("r_word_count", "r_mean_word_len",
      "r_alpha_ratio", "r_symbol_ratio", "r_stopword_hits", "r_all"))
    assert(byRule("r_word_count") === ((3L, 2L)), "doc 2 is under 50 words")
    assert(byRule("r_symbol_ratio")._2 <= 2L, "doc 3 is symbol-flooded")
    assert(byRule("r_stopword_hits") === ((3L, 2L)), "doc 2 lacks stopwords")
    assert(byRule("r_all")._2 >= 1L, "the good doc passes everything")
  }

  test("oovMonitorStream: frozen vocab scores arrivals; stream == batch counts") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val vocab = Seq("alpha", "beta", "gamma").toDF("tok")
    val docs = Seq(
      (1L, "alpha beta beta", ts(0)),     // 3 tokens, 0 OOV
      (2L, "gamma delta", ts(1)),         // 2 tokens, 1 OOV
      (3L, "zz yy xx", ts(70)))           // next window, all OOV
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(docs: _*)
    val q = EventStreams.oovMonitorStream(
      mem.toDF().toDF("doc_id", "text", "ts"), vocab)
      .writeStream.format("memory").queryName("oov_stream")
      .outputMode(OutputMode.Complete()).start()
    runToCompletion(q)
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1.getTime).toSeq
    val streamed = canon(spark.table("oov_stream"))
    val batch = canon(EventStreams.oovMonitorStream(
      docs.toDF("doc_id", "text", "ts"), vocab))
    assert(streamed === batch, "monitor is cadence-independent")
    assert(streamed.map(r => (r._2, r._3)) === Seq((5L, 1L), (3L, 3L)))
  }

  test("winnowMatchStream: ingest fingerprints match the batch q181 fingerprinter") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark) // winnowFpsExpr kernel
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val corpusFps = corpus
      .withColumn("ws", expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
      .select(explode(expr(graft.queries.DedupSim.winnowFpsExpr)).as("fp"))
    val streamDocs = Seq(
      (10L, base, ts(0)),                         // full copy: all fps hit
      (11L, "zz yy xx ww vv uu tt " + base, ts(1)), // splice: tail fps hit
      (12L, "one two three four five six seven eight nine ten", ts(2)), // fresh
      (13L, "too short here", ts(3)))              // < 7 tokens: no fps
    val mem = MemoryStream[(Long, String, Timestamp)]
    mem.addData(streamDocs: _*)
    val q = EventStreams.winnowMatchStream(
      mem.toDF().toDF("doc_id", "text", "ts"), corpusFps)
      .writeStream.format("memory").queryName("winnow_match")
      .outputMode(OutputMode.Update()).start()
    runToCompletion(q)
    val streamed = spark.table("winnow_match")
      .select(col("doc_id"), col("n_fps"), col("n_matched"), col("overlap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    // batch reference with the SAME shared expression
    val batch = streamDocs.toDF("doc_id", "text", "ts")
      .withColumn("ws", expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
      .withColumn("fps", expr(graft.queries.DedupSim.winnowFpsExpr))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
        explode_outer(col("fps")).as("fp"))
      .join(corpusFps.distinct().withColumn("hit", lit(1)), Seq("fp"), "left")
      .groupBy(col("doc_id"), col("n_fps"))
      .agg(sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_matched"))
      .withColumn("overlap", col("n_matched") > 0)
      .select(col("doc_id"), col("n_fps"), col("n_matched"), col("overlap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(streamed === batch, "stream verdicts must equal the batch fingerprinter's")
    val byDoc = streamed.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(byDoc(10L)._1 > 0 && byDoc(10L)._2 === byDoc(10L)._1, "full copy: every fp hits")
    assert(byDoc(11L)._2 > 0 && byDoc(11L)._3, "splice detected through the prefix")
    assert(byDoc(12L)._2 === 0L && !byDoc(12L)._3, "fresh text shares nothing")
    assert(byDoc(13L) === ((0L, 0L, false)), "short doc reports with zero signal")
  }

  test("upsertStream: serving table converges to latest-per-key across batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val table = java.nio.file.Files.createTempDirectory("serve").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("serveckpt").toString
    val mem = MemoryStream[(Long, String, Long)]
    def start() = EventStreams.upsertStream(
      mem.toDF().toDF("k", "payload", "seq"), Seq("k"), "seq", table, ckpt)

    // batch 1: two inserts
    mem.addData((1L, "a1", 10L), (2L, "b1", 11L))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val s1 = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(s1.toSeq === Seq((1L, "a1"), (2L, "b1")))

    // batch 2: two versions of k=1 in ONE batch (highest seq wins) + insert
    mem.addData((1L, "a2-stale", 20L), (1L, "a3", 21L), (3L, "c1", 22L))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val s2 = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(s2.toSeq === Seq((1L, "a3"), (2L, "b1"), (3L, "c1")),
      "update replaces, insert appends, untouched keys survive")

    // simulate a crash between delete(live) and rename(staging, live):
    // the table sits in .staging only — the next batch must recover it
    // and merge on top, not rebuild from the batch alone
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(table),
      new org.apache.hadoop.fs.Path(table + ".staging")))
    mem.addData((4L, "d1", 30L))
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val s3 = spark.read.parquet(table).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(s3.toSeq === Seq((1L, "a3"), (2L, "b1"), (3L, "c1"), (4L, "d1")),
      "staged state must be recovered before the merge")
  }

  test("k-means assignment applies to a stream (map-only model scoring)") {
    // the fitted centroids are literals in the plan, so KMeans.assign is a
    // stateless streaming projection — score arriving embeddings against a
    // batch-fitted model with no state store and batch-identical results
    implicit val sql = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val eq = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), graft.similarity.KMeans.quantCol(col("embedding")).as("eq"))
    val cents = graft.similarity.KMeans.fit(eq.localCheckpoint(), k = 4, iters = 2)
    val batchAsg = graft.similarity.KMeans.assign(eq, cents)
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val mem = MemoryStream[(Long, Seq[Float])]
    val sample = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
    mem.addData(sample.toIndexedSeq)
    val streamed = graft.similarity.KMeans.assign(
      mem.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), graft.similarity.KMeans.quantCol(col("embedding")).as("eq")),
      cents)
    val q = streamed.select("vec_id", "cluster")
      .writeStream.format("memory").queryName("kmeans_stream")
      .outputMode(OutputMode.Append()).start()
    runToCompletion(q)
    val got = spark.table("kmeans_stream").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 10)
    got.foreach { case (id, c) => assert(c === batchAsg(id), s"vec $id") }
  }
}
