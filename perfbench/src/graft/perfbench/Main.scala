package graft.perfbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.{BuildIndex, Cli, RankPages}
import graft.corpus.WikiCorpus
import graft.graph.GraphBuilder
import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.search.Search

/** The paper-pipeline benchmark: one session of the paper's workflow per
  * run, driven from outside through the program's public calls.
  *
  * A run sets up [[SetUps]] times (generate the corpus and query log from the
  * seed, write them, start the Spark session through `Cli.session()`), then
  * warms up: `RankPages.pipeline` and `BuildIndex.pipeline` once, as the
  * first Spark work of the JVM, and a few queries. It then runs measured
  * cycles until there are [[MinCycles]] and `--seconds` have passed: a warm
  * pipeline pair, each call timed, then a round of queries on the tables
  * that pair wrote, a closed loop with one client (alternately
  * `Search.search` and `Search.searchRanked`). The oracle checks every
  * output afterwards.
  *
  * With `--trace 1`, the middle two of four pipeline pairs call the layers
  * one by one in spans (see [[tracedPair]]), and the queries run in spans too. */
object Main {
  /** wiki-4k: text-heavy pages, so the index is the largest layer and
    * PageRank is small and bound by job dispatch. links-10k: link-heavy pages
    * with short bodies, so PageRank is the largest layer and the index small.
    * Each optimisation of one of those layers shows on one workload and
    * barely on the other. */
  val Workloads: Map[String, Shape] = Map(
    "wiki-4k" -> Shape(pages = 4000, tokensPerPage = 100, vocab = 20000, maxOutDeg = 20),
    "links-10k" -> Shape(pages = 10000, tokensPerPage = 4, vocab = 2000, maxOutDeg = 40))

  val SetUps = 3
  /** Queries run in whole rounds, each band mix once, so that every run's
    * medians are over the same mixes. A few other queries run untimed first:
    * the search path's first calls in the JVM take seconds each. */
  val QueryRound = Gen.Mixes.size
  val WarmUpQueries = 2
  /** Measured cycles (a pipeline pair and a query round) run until there are
    * [[MinCycles]] (four in a traced run) and `--seconds` have passed. The
    * JIT keeps compiling Spark's generated code through the run, so each pair
    * runs a little faster than the one before. */
  val MinCycles = 2
  val QueryLog = 200
  val Layers = Seq("corpus", "graph", "pagerank", "sinks", "index")

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile from p50 up with at least ten samples
    * above it, and its value; None with fewer than 20 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val p = (100 * (s.size - 10)) / math.max(s.size, 1)
    if (p < 50) None
    else Some(p -> s(math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val shape = Workloads.getOrElse(name, sys.error(s"unknown workload $name; one of ${Workloads.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val corpusFile = work.resolve("corpus.txt")
    val queryFile = work.resolve("queries.tsv")
    val serve = work.resolve("serve").toString
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    Files.createDirectories(work)

    // ---- set-up, several times: the same seed must give the same bytes
    val setupS = ArrayBuffer[Double]()
    val corpusSha = ArrayBuffer[String]()
    val querySha = ArrayBuffer[String]()
    var spark: SparkSession = null
    var corpus: Corpus = null
    for (_ <- 1 to SetUps) {
      val t0 = now()
      corpus = Gen.corpus(shape, seed)
      corpusSha += Gen.write(corpus, corpusFile)
      Gen.writeQueries(Gen.queries(corpus, QueryLog, seed), queryFile)
      querySha += sha256(Files.readAllBytes(queryFile))
      if (spark != null) spark.stop()
      spark = Cli.session()
      setupS += secs(t0)
    }
    val queries = Files.readAllLines(queryFile).asScala.map(_.split("\t")).map { f =>
      Query(ranked = f.head == "ranked", f.tail.toSeq)
    }.toIndexedSeq
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val setupDone = now()

    // ---- operations: each is attempted once and fails on an exception
    var attempted = 0
    val failures = ArrayBuffer[String]()
    def op[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f)
      catch { case e: Exception => failures += s"$what: $e"; None }
    }
    val iterations = ArrayBuffer[Int]()
    def rankPages(input: String, out: String): Option[Int] =
      op("RankPages.pipeline")(RankPages.pipeline(spark, input, out))
        .map { res => res.release(); res.iterations }
    def buildIndex(input: String, out: String): Unit = op("BuildIndex.pipeline")(BuildIndex.pipeline(spark, input, out))
    def tables(dir: String): Seq[DataFrame] = Seq("ii", "pr", "docs").map(t => spark.read.parquet(s"$dir/$t"))

    // ---- warm-up, untimed: the pipeline once, as the first Spark work of
    // the JVM (class loading, JIT, Spark's code generation), then a few
    // queries of the log outside the measured rounds on the tables it wrote
    val w0 = now()
    iterations ++= rankPages(corpusFile.toString, serve)
    buildIndex(corpusFile.toString, serve)
    val coldPairS = secs(w0)
    val Seq(wii, wpr, wdocs) = tables(serve)
    queries.takeRight(WarmUpQueries).foreach(qq =>
      op("warm-up query")(runQuery(spark, qq, corpus.pages, wii, wpr, wdocs)))
    val warmUpS = secs(w0)
    val probeStart = HostProbe(spark)

    // ---- measured window, in cycles: a warm pipeline pair (RankPages then
    // BuildIndex), then a whole round of queries on the tables it wrote, so
    // that every metric's samples spread over the window and every run's
    // query medians are over the same band mixes. A traced run has four
    // cycles, their pairs untraced, traced, traced, untraced: the two kinds
    // sit at the same mean position, so the JVM's continuing warm-up does not
    // bias the tracing overhead.
    val rankS = ArrayBuffer[Double]()
    val indexS = ArrayBuffer[Double]()
    val tracedPairs = ArrayBuffer[(Int, Double)]()
    val untracedPairs = ArrayBuffer[Double]()
    val answers = ArrayBuffer[(Query, Either[Long, Seq[(String, Double)]])]()
    val latencyMs = Map(false -> ArrayBuffer[Double](), true -> ArrayBuffer[Double]())
    var served = Seq.empty[DataFrame]
    val p0 = now()
    val steal0 = HostProbe.steal()
    var cycle = 0
    var q = 0
    while (cycle < (if (trace) 4 else MinCycles) || secs(p0) < seconds) {
      val t0 = now()
      tracer.filter(_ => cycle % 4 == 1 || cycle % 4 == 2) match {
        case Some(tr) =>
          val j = tracedPairs.size + 1
          val its = tracedPair(spark, tr, j, corpusFile.toString, serve)
          tracedPairs += j -> secs(t0)
          iterations += its
          tr.flush()
          tr.awaitIterations(s"pagerank#$j", its)
        case None =>
          iterations ++= rankPages(corpusFile.toString, serve)
          rankS += secs(t0)
          val t1 = now()
          buildIndex(corpusFile.toString, serve)
          indexS += secs(t1)
          untracedPairs += secs(t0)
      }
      served = tables(serve)
      val Seq(ii, pr, docs) = served
      for (_ <- 1 to QueryRound) {
        val query = queries(q % queries.size)
        val mode = if (query.ranked) "ranked" else "parity"
        val t1 = now()
        val got = op(s"$mode query ${query.terms.mkString(" ")}") {
          tracer.fold(runQuery(spark, query, corpus.pages, ii, pr, docs))(tr =>
            tr.span(s"search.$mode", s"search.$mode#$q")(runQuery(spark, query, corpus.pages, ii, pr, docs)))
        }
        latencyMs(query.ranked) += secs(t1) * 1000
        got.foreach(a => answers += query -> a)
        q += 1
      }
      cycle += 1
    }
    val windowS = secs(p0)
    val Seq(ii, pr, docs) = served
    val stealShare = HostProbe.stealShare(steal0, HostProbe.steal())

    // ---- correctness, outside the measured windows
    val c0 = now()
    val oracle = new Oracle(corpus)
    if (corpusSha.distinct.size != 1 || querySha.distinct.size != 1)
      failures += s"generator: one seed gave different files (${corpusSha.distinct.size} corpora, " +
        s"${querySha.distinct.size} query logs)"
    iterations.filter(_ != oracle.pagerank._1).foreach(i =>
      failures += s"PageRank ran $i iterations, the model ${oracle.pagerank._1}")
    val gotPr = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    failures ++= oracle.checkRanks(gotPr)
    val gotDf = ii.select("term", "df").collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    failures ++= oracle.checkIndex(gotDf, queries.flatMap(_.terms).toSet)
    val tfs = oracle.termFrequencies(answers.collect { case (qq, Right(_)) => qq.terms }.flatten.toSet)
    answers.foreach {
      case (qq, Left(rows)) =>
        if (rows != oracle.parityRows(qq))
          failures += s"parity ${qq.terms.mkString(" ")}: $rows rows, want ${oracle.parityRows(qq)}"
      case (qq, Right(top)) => failures ++= oracle.checkRanked(qq, top, tfs)
    }
    val checkS = secs(c0)
    val probeEnd = HostProbe(spark)

    // ---- report
    val out = ArrayBuffer[String]()
    out += f"workload $name seed $seed: ${corpus.pages} pages, ${corpus.linkMentions} link mentions, " +
      s"${corpus.tokens} tokens, ${corpus.cutTerms} terms cut at df >= ${Gen.DfCutoff}, " +
      s"${Files.size(corpusFile)} bytes, corpus sha256 ${corpusSha.head.take(16)}, " +
      s"queries sha256 ${querySha.head.take(16)}, identical over $SetUps set-ups: " +
      (corpusSha.distinct.size == 1 && querySha.distinct.size == 1)
    out += f"host probe cpu_s ${probeStart._1}%.4f -> ${probeEnd._1}%.4f, shuffle_s ${probeStart._2}%.4f -> " +
      f"${probeEnd._2}%.4f, CPU time stolen by the hypervisor in the measured windows ${100 * stealShare}%.1f%%"
    out += f"phases: set-ups ${setupS.sum}%.2f s, warm-up ${warmUpS}%.2f s (cold pipeline ${coldPairS}%.2f s), " +
      f"measured window ${windowS}%.2f s ($cycle cycles, ${tracedPairs.size} pairs traced, $q queries), " +
      f"checks ${checkS}%.2f s; " +
      f"${secs(setupDone) + setupS.sum}%.2f s since the first set-up began"
    out += "warm RankPages s: " + rankS.map(x => f"$x%.3f").mkString(" ") +
      "; warm BuildIndex s: " + indexS.map(x => f"$x%.3f").mkString(" ")
    for ((ranked, xs) <- latencyMs.toSeq.sortBy(_._1)) {
      val mode = if (ranked) "ranked" else "parity"
      out += f"$mode latency: p50 ${median(xs.toSeq)}%.1f ms over ${xs.size} queries, tail " +
        tail(xs.toSeq).fold("n/a (under 20 samples)")(t => f"p${t._1} ${t._2}%.1f ms") +
        "; each ms: " + xs.map(x => f"$x%.1f").mkString(" ")
    }
    val failed = math.min(failures.size, attempted)
    out += f"error_rate ${failed.toDouble / attempted}%.4f ($failed of $attempted operations)"
    failures.take(20).foreach(f => out += s"FAILED $f")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("rank_pages_s", median(rankS.toSeq), "s"),
        ("build_index_s", median(indexS.toSeq), "s"),
        ("parity_p50_ms", median(latencyMs(false).toSeq), "ms"),
        ("ranked_p50_ms", median(latencyMs(true).toSeq), "ms"),
        ("setup_s", median(setupS.toSeq), "s"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      case Some(tr) =>
        tr.flush()
        val rows = answers.toSeq.groupBy(_._1.ranked).map { case (r, as) =>
          r -> as.map(_._2.fold(_.toDouble, _.size.toDouble)).sum / as.size }
        val m = layerMetrics(spark, tr, tracedPairs.toSeq, untracedPairs.toSeq, cores, corpusFile.toString, ii, rows)
        Files.write(work.resolve(s"../../traces/$name-$seed.json").normalize(), tr.spansJson.getBytes("UTF-8"))
        m
    }
    spark.stop()
    out.foreach(l => println(s"[perfbench] $l"))
    metrics.foreach { case (k, v, u) => println(s"[perfbench] $k = $v $u") }
    val body = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** Runs one query through `collect()`: parity answers its row count,
    * ranked its (title, score) list. */
  def runQuery(spark: SparkSession, q: Query, docCount: Long, ii: DataFrame, pr: DataFrame,
      docs: DataFrame): Either[Long, Seq[(String, Double)]] =
    if (q.ranked)
      Right(Search.searchRanked(spark, q.terms, docCount, ii, pr, docs, k = Gen.TopK).collect()
        .map(r => r.getAs[String]("title") -> r.getAs[Double]("score")).toSeq)
    else Left(Search.search(spark, q.terms, docCount, ii, pr, docs).collect().length.toLong)

  /** RankPages.pipeline then BuildIndex.pipeline, the layers called one by
    * one, each in its own span and job group. The only materialisations are
    * the pipeline's own: the cached docs (filled in the corpus span) and
    * PageRank's initial checkpoint of the graph (made in the graph span;
    * PageRank.run then checkpoints that checkpoint once more, which the
    * tracing overhead includes). Lazy work runs where its action runs:
    * BuildIndex's ingest and index build run in the `ii` write, so that write
    * is in the index span; the ranked sort runs in the sinks span.
    * Returns PageRank's iteration count. */
  def tracedPair(spark: SparkSession, tr: Tracer, j: Int, input: String, out: String): Int = {
    val res = tr.span(s"rank_pages#$j") {
      val docs = tr.span("corpus", s"corpus#$j") {
        val d = WikiCorpus.ingest(spark, input).cache()
        d.count()
        d
      }
      val g0 = tr.span("graph", s"graph#$j") {
        GraphBuilder.build(docs.select(col("title"), col("links"))).localCheckpoint()
      }
      val res = tr.span("pagerank", s"pagerank#$j")(PageRank.run(g0))
      tr.span("sinks", s"sinks#$j") {
        docs.write.mode("overwrite").parquet(s"$out/docs")
        res.graph.select(col("title"), col("pr")).write.mode("overwrite").parquet(s"$out/pr")
        PageRank.ranked(res.graph).select(concat_ws("\t", col("title"), col("pr")))
          .write.mode("overwrite").text(s"$out/ranked")
      }
      docs.unpersist()
      graft.core.Scoped.free(g0)
      res.release()
      res
    }
    tr.span(s"build_index#$j") {
      val docs = tr.span("corpus", s"corpus#$j")(WikiCorpus.ingest(spark, input))
      tr.span("index", s"index#$j")(InvertedIndex.build(docs).write.mode("overwrite").parquet(s"$out/ii"))
    }
    res.iterations
  }

  /** Per-layer metrics from the traced pairs (medians over pairs), the
    * per-iteration PageRank rows, index counts, per-query search work and
    * the tracing overhead. */
  def layerMetrics(spark: SparkSession, tr: Tracer, traced: Seq[(Int, Double)], untraced: Seq[Double],
      cores: Int, input: String, ii: DataFrame,
      rowsPerQuery: Map[Boolean, Double]): Seq[(String, Double, String)] = {
    val mb = 1024.0 * 1024.0
    val roots = traced.map { case (j, _) =>
      j -> tr.spans.filter(s => s.name == s"rank_pages#$j" || s.name == s"build_index#$j").toSeq
    }.toMap
    def layerSpans(j: Int, layer: String) =
      tr.spans.filter(s => s.name == layer && s.parent.exists(p => roots(j).exists(_.id == p))).toSeq
    val perLayer = Layers.flatMap { l =>
      def med(f: Int => Double) = median(traced.map { case (j, _) => f(j) })
      val wall = med(j => layerSpans(j, l).map(_.seconds).sum)
      val work = (j: Int) => tr.group(s"$l#$j")
      Seq(
        (s"$l.wall_s", wall, "s"),
        (s"$l.self_s", med(j => layerSpans(j, l).map(tr.selfSeconds).sum), "s"),
        (s"$l.task_s", med(j => work(j).runMs / 1000.0), "s"),
        (s"$l.core_util", med(j => work(j).runMs / 1000.0 / (layerSpans(j, l).map(_.seconds).sum * cores)), "ratio"),
        (s"$l.gc_s", med(j => work(j).gcMs / 1000.0), "s"),
        (s"$l.jobs", med(j => work(j).jobs.toDouble), "count"),
        (s"$l.tasks", med(j => work(j).tasks.toDouble), "count"),
        (s"$l.shuffle_write_mb", med(j => work(j).shuffleWriteBytes / mb), "MB"),
        (s"$l.spill_mb", med(j => work(j).spillBytes / mb), "MB"))
    }
    val outside = median(traced.map { case (j, _) => roots(j).map(tr.selfSeconds).sum })

    val iterRows = for ((j, _) <- traced; (i, e, ns) <- tr.iterationsOf(s"pagerank#$j").sortBy(_._1))
      yield (j, i, ns / 1e9, tr.exec(e).shuffleWriteBytes / mb)
    iterRows.foreach { case (j, i, w, sh) =>
      println(f"[perfbench] traced pair $j, PageRank iteration $i: wall $w%.3f s, shuffle write $sh%.2f MB")
    }
    for ((j, _) <- traced) {
      val self = Layers.map(l => layerSpans(j, l).map(tr.selfSeconds).sum).sum
      val out = roots(j).map(tr.selfSeconds).sum
      println(f"[perfbench] traced pair $j: layer self_s sum $self%.3f s + outside layers $out%.3f s = " +
        f"${self + out}%.3f s; untraced pair median ${median(untraced)}%.3f s")
    }

    // index counts, outside every span: what the index tokenized and kept
    val occ = InvertedIndex.occurrences(WikiCorpus.ingest(spark, input))
    val occurrences = occ.count().toDouble
    val kept = occ.join(ii.select("term"), Seq("term"), "left_semi").count().toDouble
    val terms = ii.count().toDouble
    val postings = ii.agg(sum(col("df"))).head().getLong(0).toDouble

    def perQuery(ranked: Boolean) = {
      val mode = if (ranked) "ranked" else "parity"
      val ws = tr.groupsWithPrefix(s"search.$mode#")
      val spans = tr.spans.filter(_.name == s"search.$mode").toSeq
      val n = math.max(spans.size, 1).toDouble
      Seq(
        (s"search.$mode.jobs_per_query", ws.map(_.jobs).sum / n, "count"),
        (s"search.$mode.tasks_per_query", ws.map(_.tasks).sum / n, "count"),
        (s"search.$mode.task_ms_per_query", ws.map(_.runMs).sum / n, "ms"),
        (s"search.$mode.shuffle_write_mb_per_query", ws.map(_.shuffleWriteBytes).sum / mb / n, "MB"),
        (s"search.$mode.rows_per_query", rowsPerQuery.getOrElse(ranked, 0.0), "count"))
    }
    perLayer ++ Seq(
      ("outside_layers_s", outside, "s"),
      ("pagerank.iterations", iterRows.size.toDouble / traced.size, "count"),
      ("pagerank.iter_wall_s", median(iterRows.map(_._3)), "s"),
      ("pagerank.iter_shuffle_write_mb", median(iterRows.map(_._4)), "MB"),
      ("index.occurrences", occurrences, "count"),
      ("index.kept_occurrence_ratio", kept / occurrences, "ratio"),
      ("index.terms", terms, "count"),
      ("index.postings", postings, "count")) ++
      perQuery(false) ++ perQuery(true) ++
      Seq(("tracing_overhead_s", median(traced.map(_._2)) - median(untraced), "s"))
  }
}

/** Fixed-cost host-noise probe, read at the start and the end of a run as a
  * diagnostic: a pure-JVM spin (CPU, the median of three rounds) and a small
  * hash exchange (shuffle I/O and task dispatch). A run whose probes read well
  * above the usual values ran on a busy host. */
object HostProbe {
  def apply(spark: SparkSession): (Double, Double) = {
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val cpu = (1 to 3).map { _ =>
      timed {
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 32000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) System.err.print("")
      }
    }
    val shuffle = timed(spark.range(100L * 1000).repartition(8, col("id")).selectExpr("sum(id * (id % 7))").collect())
    (cpu.sorted.apply(1), shuffle)
  }

  /** The host's (stolen, total) CPU ticks so far, from /proc/stat: time the
    * hypervisor ran other guests on this machine's virtual CPUs. */
  def steal(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (f(7), f.take(8).sum)
  }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    (to._1 - from._1).toDouble / math.max(to._2 - from._2, 1L)
}

