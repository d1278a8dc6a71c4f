package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line. Queries are fully materialized
  * through the `noop` sink (count() alone lets Catalyst skip projections),
  * run in sorted name order after a warmup action so per-query numbers
  * aren't polluted by JVM/codegen warmup.
  *
  * Robustness (VERDICT r4 #6): per-query times are the MEDIAN of
  * `SPARK_GRAFT_RUNS` (default 3) full passes, and one extra pass runs at a
  * second, smaller scale point (sf0.01 when the main dir isn't already it)
  * so the scaling slope between rounds is visible.
  *
  * Pass isolation (VERDICT r6 #1): in round 6 the three passes shared one
  * JVM and degraded monotonically (pass sums 308 s → 530 s → 1233 s —
  * metaspace/codegen-cache/listener accumulation across ~460 query
  * compilations), poisoning every median. Each pass therefore now runs in
  * its OWN CHILD JVM (same classpath + JVM flags as this process, spawned
  * via ProcessBuilder): warmup + one timed pass + exit. The parent never
  * creates a SparkContext — it only orchestrates, aggregates medians, and
  * prints the driver's single JSON line. Per-pass JVM health (GC time/count,
  * metaspace, heap, wall) is recorded in BENCH_DETAIL.json `pass_jvm` so
  * any residual drift is measurable instead of inferred. If spawning fails
  * (classpath oddity), the fallback runs each pass in-process against a
  * fresh SparkSession+SparkContext — weaker isolation (shared metaspace),
  * still a fresh listener bus/ContextCleaner/BlockManager per pass; the
  * mode used is recorded as `pass_mode`.
  *
  * Cross-query isolation (within a pass): between timed queries every cache
  * entry and every persisted/checkpointed RDD is dropped (outside the timed
  * window). The sweep first releases armed Scoped entries through the
  * registry (CAS-guarded) and SKIPS their RDD ids, so it can no longer race
  * the asynchronous release listener over the same blocks (the r6 "cannot
  * be recomputed after unpersisting" / "Asked to remove block" tail
  * warnings, VERDICT r6 #7). */
object Bench {

  // ---------- shared by parent fallback and child ----------

  private def buildSession(): SparkSession = {
    // a fresh session per pass: clear any stopped session handles first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Session.build()
    // RDD.unpersist logs a WARN ("locally checkpointed ... cannot be
    // recomputed after unpersisting") on EVERY release of a localCheckpoint
    // — including the deliberate single-owner releases Scoped/clearStorage
    // perform between queries (hundreds per pass). That caution is moot
    // under the one-consumer contract, so the bench quiets the rdd package
    // alone; the genuinely diagnostic race signature ("Asked to remove
    // block ... does not exist") comes from org.apache.spark.storage and
    // stays at WARN.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Drop all storage residue: CacheManager entries AND RDD-level blocks
    * (localCheckpoint blocks live only at the RDD level). Armed Scoped
    * entries are released FIRST, through the registry's CAS guard, and
    * their RDD ids skipped — the sweep and the async release listener
    * therefore never both unpersist the same blocks. NonFatal only: an
    * OOM/Interrupted in the sweep must surface, not be swallowed
    * (ADVICE r6). */
  private def clearStorage(spark: SparkSession): Unit = {
    val releasing = graft.core.Scoped.releaseAllArmed(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { r =>
      if (!releasing.contains(r.id))
        try r.unpersist(blocking = true)
        catch { case NonFatal(_) => () } // concurrent removal: storage is gone, which is the goal
    }
  }

  /** JIT + codegen + parquet footer caches, plus one pass of the iterative
    * checkpoint path (q25 at the smallest sf) so the first timed iterative
    * query isn't paying cold-JIT for shuffle+checkpoint code. Runs once per
    * (fresh) JVM/session, before its timed pass. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("q01_pricing_summary" -> sfDir, "q25_pagerank" -> "/root/testdata/sf0.001",
      // q29 at sf0.01 (VERDICT r8 #4): the sf0.001 q25 warm left the
      // first sf0.1 checkpoint-iteration query paying ~2x first-touch in
      // pass 1 (r8 per_run 7.48/3.61/3.81 s) — shuffle + localCheckpoint
      // at sf0.01 partition sizes warms the remaining cold path
      "q29_pagerank_fixed10" -> "/root/testdata/sf0.01")
      .foreach { case (q, dir) =>
        SparkEntry.queries.get(q)
          .foreach(fn => try fn(spark, dir).count() catch { case NonFatal(_) => () })
      }
    clearStorage(spark)
  }

  /** Fixed-cost host-noise sentinel (VERDICT r10 #2): a codegen'd,
    * CPU-bound, memory-light aggregate whose wall time depends only on the
    * CPU actually available to this JVM — external load (another tenant,
    * the driver's own verify run) inflates it in direct proportion. Runs
    * WARM (after warmup), 3 reps, median. The r10 bench averaged passes
    * taken under a 2–10x contention window into garbage medians with
    * nothing in-band to say so; the parent now compares each pass's
    * sentinel against the best pass and NAMES noisy passes instead of
    * silently averaging them. */
  /** Interior host-noise sentinel (VERDICT r19 #1): the r19 record window
    * proved the BRACKET sentinels can certify a window whose pass
    * interiors were contended — brackets read 0.219 while interior probes
    * taken by hand read 0.335–0.39 and the common-227 wall ran 1.20x. The
    * brackets only see the host at the pass's two edges; a contention
    * window that opens after the pre-probe and closes before the
    * post-probe is invisible to them.
    *
    * This probe samples DURING the pass: a single daemon thread spins a
    * fixed pure-JVM work unit (~60 ms idle) every 2 s and records its wall
    * time. It must NOT be a Spark job — a Spark probe would compete with
    * the running query's own 32 threads and read "contention" on an idle
    * host. One extra thread among the pass's 32 on a 32-core host steals
    * ~3% of one core at this duty cycle (~0.1% of the machine), while an
    * external 32-thread tenant roughly doubles the spin time — exactly the
    * signal the brackets miss. The pass-level reading is the MEDIAN of the
    * samples (robust to GC pauses and to the handful of samples that land
    * inside a rare 32-thread+ nested-parallelism burst); p90 and n ride
    * along for the ledger. */
  private final class InteriorProbe extends Thread("graft-interior-sentinel") {
    setDaemon(true)
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    @volatile private var running = true
    override def run(): Unit = {
      while (running) {
        val t0 = System.nanoTime()
        var x = 0x9E3779B97F4A7C15L
        var i = 0
        while (i < 64000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) System.err.print("") // defeat dead-code elimination
        samples.add((System.nanoTime() - t0) / 1e9)
        try Thread.sleep(2000)
        catch { case _: InterruptedException => running = false }
      }
    }
    /** Stop sampling and fold: (median_s, p90_s, n). NaN-safe on an
      * empty window (a sub-2 s pass may record zero samples). */
    def finish(): (Double, Double, Int) = {
      running = false
      interrupt()
      join(1000)
      import scala.jdk.CollectionConverters._
      Bench.interiorStats(samples.asScala.map(_.doubleValue).toSeq)
    }
  }

  /** Pure fold for the interior probe's samples — pinned by BenchSpec. */
  private[graft] def interiorStats(samples: Seq[Double]): (Double, Double, Int) = {
    if (samples.isEmpty) (Double.NaN, Double.NaN, 0)
    else {
      val xs = samples.sorted
      (median(xs), xs(((xs.size - 1) * 9) / 10), xs.size)
    }
  }

  private def sentinel(spark: SparkSession): (Double, Double) = {
    // ~1 s warm on an idle 32-thread host: large enough that scheduler
    // jitter is <10% of the reading (a 0.2 s probe swung 1.5x idle-to-idle
    // and would false-positive the 2x threshold), small enough to cost
    // ~3 s per multi-minute pass
    val cpuReps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 30).selectExpr("sum(id * (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // The CPU probe alone missed the r11 contention window: iterative /
    // shuffle-heavy queries ran 4-10x slow while `range().sum` stayed
    // within 1.5x — the contended resource was shuffle/checkpoint I/O and
    // task scheduling, not CPU. This probe forces a real hash exchange
    // (~64 MB of shuffle files written + read back) so disk-side
    // contention shows up in-band too.
    val shReps = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(8L * 1000 * 1000)
        .repartition(64, org.apache.spark.sql.functions.col("id"))
        .selectExpr("sum(id * (id % 7))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    (cpuReps.sorted.apply(1), shReps.sorted.apply(1))
  }

  /** One timed pass over the whole catalog at `dir`: name → (seconds,
    * error). A crashed query must be visible, not disguised as a fast
    * success. Query failures catch Throwable deliberately: a single
    * query's NoSuchMethodError/SOE must be reported as that query's error,
    * not kill the whole pass. */
  private def pass(spark: SparkSession, dir: String): Seq[(String, Double, Option[String])] = {
    val only = SparkEntry.onlyFromEnv("bench")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
          catch { case t: Throwable => Some(t.getClass.getSimpleName) }
        val sec = (System.nanoTime() - t0) / 1e9
        clearStorage(spark) // outside the timed window: isolation, not overhead
        (name, sec, err)
      }
  }

  // Locale.ROOT: a comma-decimal default locale would otherwise turn
  // 1.234 into "1,234" and break the JSON this exists to keep parseable
  private def sec3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-query outlier gate (VERDICT r11 #1), pinned by BenchSpec: given a
    * query's (passIdx, seconds) values from clean passes, drop any value
    * exceeding BOTH 2x the cross-pass minimum AND min+0.2s (the absolute
    * floor keeps sub-second scheduler jitter out of the exclusion record),
    * and return (median over kept, cross-pass min, dropped values). The 2x
    * bound is structural: a committed median can never exceed 2x the
    * query's own best pass. `vals` must be non-empty. */
  private[graft] def gateQuery(vals: Seq[(Int, Double)])
      : (Double, Double, Seq[(Int, Double)]) = {
    val mn = vals.map(_._2).min
    val (kept, dropped) = vals.partition { case (_, v) => !(v > 2 * mn && v - mn > 0.2) }
    (median(kept.map(_._2)), mn, dropped)
  }

  /** Total per-query outlier drops the gate would record for a set of
    * passes — the retry trigger reads this BEFORE the final adjudication
    * (it ignores whole-pass sentinel exclusion: a sentinel-noisy pass
    * also inflates this count, and the remedy — one more clean pass —
    * is the same). */
  private[graft] def exclusionCount(
      passes: Seq[Seq[(String, Double, Option[String])]]): Int = {
    val names = passes.headOption.map(_.map(_._1)).getOrElse(Seq.empty)
    names.iterator.map { name =>
      val vals = passes.zipWithIndex.flatMap { case (p, i) =>
        p.collectFirst { case (`name`, sec, None) => (i, sec) }
      }
      if (vals.isEmpty) 0 else gateQuery(vals)._3.size
    }.sum
  }

  /** Exclusion-count alarm threshold (VERDICT r18 #5): >5% of the
    * catalog's queries needing a per-query outlier drop means the
    * window itself was noisy (the r18 driver final carried 49/227 ≈
    * 22%; clean builder windows carry ≤1), so the bench self-heals by
    * running a REPLACEMENT pass instead of publishing medians that
    * lean on a contaminated window — the same re-run-when-degraded
    * discipline the committed round-record windows follow by hand. */
  private[graft] def retryNeeded(excl: Int, catalog: Int): Boolean =
    excl * 20 > catalog

  /** The headline's DESIGNED reported set (VERDICT r14 #5, shrunk by
    * VERDICT r21 #2): the top-K slowest queries ride the printed line;
    * everything else is by-design in BENCH_DETAIL.json, not
    * budget-elided. The r20/r21 driver runs proved a top-40 line
    * (~1.5 KB) does NOT survive the driver's last-~2000-chars capture
    * (BENCH_r20.json: rc=0 yet parsed:null, the line cut mid-render),
    * so the reported set is top-10 (~150 bytes of map, whole line
    * ~600 B) — the complete per-query map stays in BENCH_DETAIL.json,
    * which is committed with every round. */
  private[graft] val HeadlineTopK = 10

  /** Whole-line byte cap (VERDICT r21 #2): the driver json-parses the one
    * line it finds in the last ~2000 chars of combined output; sbt's
    * "[info] " prefix, its "[success] ..." epilogue and any late stderr
    * flush share that window. 1000 bytes leaves ≥50% margin. */
  private[graft] val HeadlineBudget = 1000

  /** Wall-clock guard for optional passes (VERDICT r21 #1): true when an
    * optional pass estimated at `estPassS * reserveFactor` still fits the
    * round budget. Pure, pinned by BenchSpec. */
  private[graft] def budgetAllows(elapsedS: Double, estPassS: Double,
      reserveFactor: Double, budgetS: Double): Boolean =
    elapsedS + reserveFactor * estPassS <= budgetS

  /** Headline queries-map budgeter, pinned by BenchSpec: the driver
    * captures only the LAST ~2000 chars of stdout and json-parses the one
    * line it finds there, and the failure mode is REAL — r11's 125-query
    * line plus sbt's "[info] " prefix and the trailing sbt epilogue
    * overflowed the window and the round's BENCH_r11.json recorded
    * parsed:null. As the catalog grows the full map cannot ride the
    * headline forever, so: keep the SLOWEST queries (the ones perf
    * adjudication reads first), elide from the fast end until the
    * rendered map fits `budget` bytes, and report the elision count
    * in-band (`q_omitted`). The COMPLETE per-query map is always in
    * BENCH_DETAIL.json, which is committed with the round. Ties sort by
    * name so the kept set is deterministic. */
  private[graft] def budgetedQueries(items: Seq[(String, Double)],
      budget: Int): (String, Int) = {
    // one pass (ADVICE r12): render each entry once, take the largest
    // prefix whose cumulative length (+ comma separators + braces) fits —
    // same deterministic kept set as the old shrink-by-one re-render loop
    // without its O(n²) string building
    val sorted = items.sortBy { case (n, v) => (-v, n) }
    val rendered = sorted.map { case (k, v) => "\"" + k + "\":" + sec3(v) }
    var n = 0
    var len = 2 // "{" + "}"
    while (n < rendered.length && {
      val next = len + rendered(n).length + (if (n > 0) 1 else 0)
      next <= budget && { len = next; true }
    }) n += 1
    (rendered.take(n).mkString("{", ",", "}"), sorted.length - n)
  }

  /** JVM health snapshot (taken at end of a pass): cumulative GC time and
    * count, metaspace used, heap used, for BENCH_DETAIL's per-pass drift
    * record. */
  private def jvmStats(wallSec: Double): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory.{getGarbageCollectorMXBeans, getMemoryPoolMXBeans, getMemoryMXBean}
    val gcs = getGarbageCollectorMXBeans.asScala
    val meta = getMemoryPoolMXBeans.asScala
      .find(_.getName.contains("Metaspace")).map(_.getUsage.getUsed).getOrElse(0L)
    Seq(
      "gc_ms" -> gcs.map(_.getCollectionTime).sum.toString,
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toString,
      "metaspace_mb" -> (meta >> 20).toString,
      "heap_mb" -> (getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20).toString,
      "pass_wall_s" -> sec3(wallSec))
  }

  // ---------- child protocol ----------
  // The child writes a TSV result file (stdout would race the parent's
  // single-JSON-line contract): one "Q\tname\tsecs|ERR:Class" line per
  // query, "J\tkey\tvalue" JVM stat lines, and a trailing "DONE" sentinel
  // so a truncated file (child crash mid-write) is detected, never parsed
  // as a clean short pass.

  private def childMain(outPath: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = buildSession()
    warmup(spark, sfDir)
    // Sentinel BRACKETS the timed pass (ADVICE r11): the r11 contention
    // window opened mid-pass, after a clean start-of-pass probe, so a
    // single pre-pass sentinel read 1.47x while queries inside the pass
    // spiked 10-20x. A second probe after the pass makes any contention
    // window that overlaps either edge visible; the parent adjudicates on
    // the WORSE of the two readings per probe.
    val (sentCpu, sentSh) = sentinel(spark)
    val interior = new InteriorProbe
    interior.start()
    val t0 = System.nanoTime()
    val res = pass(spark, sfDir)
    val wall = (System.nanoTime() - t0) / 1e9
    val (intMed, intP90, intN) = interior.finish()
    val (sentCpuPost, sentShPost) = sentinel(spark)
    val sb = new StringBuilder
    res.foreach { case (name, sec, err) =>
      sb ++= s"Q\t$name\t${err.fold(sec3(sec))(e => "ERR:" + e)}\n"
    }
    // interior keys omitted when the pass was too short to sample (n=0):
    // the parent's sentinelsOf falls back to NaN, which every consumer
    // (noisyBracket, headline best()) already filters — and the detail
    // JSON never carries a non-numeric literal
    val interiorKv =
      if (intN == 0) Seq.empty
      else Seq("sentinel_interior_s" -> sec3(intMed),
        "sentinel_interior_p90_s" -> sec3(intP90),
        "sentinel_interior_n" -> intN.toString)
    (Seq("sentinel_s" -> sec3(sentCpu), "sentinel_shuffle_s" -> sec3(sentSh),
      "sentinel_post_s" -> sec3(sentCpuPost),
      "sentinel_shuffle_post_s" -> sec3(sentShPost)) ++ interiorKv ++ jvmStats(wall))
      .foreach { case (k, v) => sb ++= s"J\t$k\t$v\n" }
    sb ++= "DONE\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    sys.exit(0) // don't wait on lingering non-daemon threads
  }

  private def spawnPass(dir: String, out: java.io.File, log: java.io.File): Boolean = {
    import scala.jdk.CollectionConverters._
    try {
      val javaBin = new java.io.File(new java.io.File(
        System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = (Seq(javaBin) ++ jvmArgs ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", out.getAbsolutePath)
      pb.environment().put("SPARK_GRAFT_SF_DIR", dir)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log) // child stdout/stderr → log file, parent stdout stays one JSON line
      val p = pb.start()
      // generous ceiling: a full sf0.1 pass is minutes; a hung child must
      // not hang the bench forever (fallback takes over)
      val finished = p.waitFor(90, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { p.destroyForcibly(); p.waitFor(); false }
      else p.exitValue() == 0
    } catch { case NonFatal(t) =>
      System.err.println(s"[bench] child spawn failed: $t"); false
    }
  }

  /** Parse a child result file; None unless the DONE sentinel is present
    * (truncated output must trigger the fallback, not a short pass) AND
    * every line parses — a corrupted Q/J line in a file that still ends
    * with DONE (interleaved write, partial disk) must also hand over to
    * the in-process fallback, not throw NumberFormatException/MatchError
    * out of main (ADVICE r7). */
  private def readPass(out: java.io.File)
      : Option[(Seq[(String, Double, Option[String])], Seq[(String, String)])] = {
    if (!out.isFile) return None
    val lines = scala.io.Source.fromFile(out, "UTF-8")
    try {
      val ls = lines.getLines().toVector
      if (!ls.lastOption.contains("DONE")) None
      else {
        val qs = ls.collect { case l if l.startsWith("Q\t") =>
          l.split('\t') match {
            case Array(_, name, v) if v.startsWith("ERR:") => (name, 0.0, Some(v.drop(4)))
            case Array(_, name, v) => (name, v.toDouble, None)
          }
        }
        val js = ls.collect { case l if l.startsWith("J\t") =>
          l.split('\t') match { case Array(_, k, v) => (k, v) }
        }
        Some((qs, js))
      }
    } catch { case NonFatal(t) =>
      System.err.println(s"[bench] child result file unparseable ($t), falling back")
      None
    } finally lines.close()
  }

  // ---------- parent ----------

  def main(args: Array[String]): Unit = {
    sys.env.get("SPARK_GRAFT_BENCH_CHILD") match {
      case Some(out) => childMain(out); return
      case None => ()
    }
    SparkEntry.onlyFromEnv("bench") // a bad filter fails here, before any pass JVM starts
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_RUNS")
      .flatMap(_.toIntOption).getOrElse(3))
    // Wall-clock budget (VERDICT r21 #1): the noise-triggered replacement
    // pass and the sf2 slope pass are OPTIONAL — when they no longer fit
    // the budget they are skipped (with an in-band stderr note and the
    // `noisy`/`excl` annotations the line already carries) instead of
    // overrunning the driver's kill timer, which cost r21 its entire
    // 32-core window (BENCH_r21.json rc=124, parsed:null). The REQUIRED
    // `runs` main passes are never skipped: a budget too small for them
    // is an operator error, and a short window beats a dead one only for
    // the optional passes. Default 2400 s: the r21 8-core driver run
    // (worst case on record) spent ~2650 s bench-side INCLUDING the
    // replacement pass this guard would have skipped.
    val roundT0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - roundT0) / 1e9
    val budgetS = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_S")
      .flatMap(_.toDoubleOption).getOrElse(2400.0)
    val passWalls = scala.collection.mutable.ArrayBuffer[Double]()

    // lazily-created fallback session factory: one fresh session per pass,
    // previous one stopped — used only when a child JVM can't be spawned
    var fallbackUsed = false
    def inProcessPass(dir: String): (Seq[(String, Double, Option[String])], Seq[(String, String)]) = {
      fallbackUsed = true
      val spark = buildSession()
      warmup(spark, dir)
      val (sentCpu, sentSh) = sentinel(spark)
      val interior = new InteriorProbe
      interior.start()
      val t0 = System.nanoTime()
      val res = pass(spark, dir)
      val wall = (System.nanoTime() - t0) / 1e9
      val (intMed, intP90, intN) = interior.finish()
      val (sentCpuPost, sentShPost) = sentinel(spark)
      val interiorKv =
        if (intN == 0) Seq.empty
        else Seq("sentinel_interior_s" -> sec3(intMed),
          "sentinel_interior_p90_s" -> sec3(intP90),
          "sentinel_interior_n" -> intN.toString)
      val stats = Seq("sentinel_s" -> sec3(sentCpu),
        "sentinel_shuffle_s" -> sec3(sentSh),
        "sentinel_post_s" -> sec3(sentCpuPost),
        "sentinel_shuffle_post_s" -> sec3(sentShPost)) ++ interiorKv ++
        jvmStats(wall)
      spark.stop()
      (res, stats)
    }

    // Warning-count gate (VERDICT r8 #2): the r8 wins — departitioned
    // windows (121 → 32 `No Partition Defined` per pass; the residue is
    // the two sanctioned bounded sites, see PlanSpec's whitelist) and the
    // zeroed release race (`Asked to remove block`) — must not silently
    // regress. Each child pass log is counted; a violation is reported in
    // the output JSON AND fails the run (nonzero exit, after artifacts are
    // written so the regression is diagnosable). Fallback in-process
    // passes have no isolated log and skip the gate (pass_mode records it).
    val SanctionedNpd = 32
    val warnViolations = scala.collection.mutable.ArrayBuffer[String]()
    // npd counts are collected per pass and adjudicated JOINTLY after all
    // passes: the per-execution warning count of a sanctioned site jitters
    // under AQE re-execution (a clean r11 run read 32/34/32 across passes
    // — same single burst, two extra executions), so a single pass over
    // the line is noise; a NEW unpartitioned window in the catalog is
    // deterministic and exceeds the sanctioned count in EVERY pass, which
    // is the condition that fails the run. The block-remove race stays
    // per-pass: one occurrence anywhere is a real defect.
    val npdCounts = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    def gateLog(tag: String, log: java.io.File): Unit = {
      if (!log.isFile) return
      val src = scala.io.Source.fromFile(log, "UTF-8")
      val (npd, rb) =
        try src.getLines().foldLeft((0, 0)) { case ((n, r), l) =>
          (n + (if (l.contains("No Partition Defined")) 1 else 0),
            r + (if (l.contains("Asked to remove block")) 1 else 0))
        } finally src.close()
      npdCounts += tag -> npd
      if (rb > 0) warnViolations += s"$tag:block-remove-race $rb>0"
    }
    def adjudicateNpd(): Unit = {
      // Same-scale groups adjudicate SEPARATELY (ADVICE r11): the sf2 pass
      // runs at a different data scale, where AQE can plan fewer window
      // executions — a new unpartitioned-window site that exceeds the
      // sanctioned count in every main-scale pass but stays at/below it in
      // the sf2 pass is a real violation, which the old joint rule ("over
      // in EVERY gated pass") downgraded to jitter. Within a group the
      // every-pass rule stands (AQE re-execution jitter is same-scale).
      npdCounts.groupBy { case (tag, _) => if (tag == "sf2") "sf2" else "main" }
        .foreach { case (_, grp) =>
          val over = grp.filter(_._2 > SanctionedNpd)
          if (over.nonEmpty && over.size == grp.size)
            warnViolations += grp
              .map { case (t, n) => s"$t:unpartitioned-window $n>$SanctionedNpd" }
              .mkString(",")
          else if (over.nonEmpty)
            System.err.println("[bench] unpartitioned-window count over sanctioned in " +
              over.map { case (t, n) => s"$t($n)" }.mkString(",") +
              " but not in all same-scale passes - AQE re-execution jitter, not a new window site")
        }
    }

    def runOnePass(dir: String, tag: String)
        : (Seq[(String, Double, Option[String])], Seq[(String, String)]) = {
      val t0 = System.nanoTime()
      val out = java.io.File.createTempFile(s"bench_$tag", ".tsv")
      val log = new java.io.File(s"bench_$tag.log")
      val ok = spawnPass(dir, out, log)
      val parsed = if (ok) readPass(out) else None
      out.delete()
      if (parsed.isDefined) gateLog(tag, log)
      val res = parsed.getOrElse {
        System.err.println(s"[bench] pass $tag: child JVM unusable (see ${log.getName}), " +
          "falling back to in-process fresh SparkSession")
        inProcessPass(dir)
      }
      // parent-side wall per pass (spawn + warmup + sentinels + queries):
      // the budget guard's pass-cost estimate
      passWalls += (System.nanoTime() - t0) / 1e9
      res
    }

    // main scale point: `runs` passes, per-query median over clean runs.
    // A query that errored in ANY pass appears ONLY under "errors" — never
    // in "queries" or the headline total — so a crash can't be disguised
    // as a fast clean run (the single-pass invariant, kept under medians).
    //
    // Exclusion-driven retry (VERDICT r18 #5): when the per-query outlier
    // gate would drop more than 5% of the catalog (`retryNeeded`), the
    // window was contaminated — up to SPARK_GRAFT_RETRY_PASSES (default 1)
    // replacement passes are appended and the adjudication below runs over
    // the widened pool, so every query's median leans on more clean
    // observations instead of on whichever two passes happened to escape
    // the contention. The retry count rides the headline ("retry") so a
    // window that needed healing is visible in the round record.
    var passesFull = (1 to runs).map(i => runOnePass(sfDir, s"pass$i")).toVector
    val retryMax = math.max(0, sys.env.get("SPARK_GRAFT_RETRY_PASSES")
      .flatMap(_.toIntOption).getOrElse(1))
    // Convergence (ADVICE r19): the alarm is evaluated over the ORIGINAL
    // passes only. A fast clean replacement pass lowers cross-pass minima
    // and can CREATE new >2x drops in the widened pool — re-evaluating
    // there let a healing pass re-trigger the alarm, bounded only by
    // retryMax. The original-window count is fixed, so once it trips the
    // loop appends EXACTLY retryMax replacement passes (it cannot stop
    // early on a clean replacement — acceptable: retryMax defaults to 1,
    // and a wider healed pool only adds clean observations; ADVICE r20).
    val originalExcl = exclusionCount(passesFull.take(runs).map(_._1))
    var retries = 0
    var budgetStop = false
    while (!budgetStop && retries < retryMax && runs > 1 &&
        retryNeeded(originalExcl, passesFull.head._1.size)) {
      // Budget guard (VERDICT r21 #1): a replacement pass costs about one
      // observed main-scale pass; reserve 1.8x of that (the replacement
      // itself + ~0.8x for the cheaper sf2 slope pass still to come) and
      // skip when it does not fit — the medians then lean on the original
      // window and the line's `excl`/`noisy` annotations carry the
      // contamination in-band, which the driver can still parse.
      val estPass = passWalls.max
      if (!budgetAllows(elapsedS, estPass, 1.8, budgetS)) {
        System.err.println(f"[bench] exclusion count $originalExcl tripped the noise " +
          f"gate but a replacement pass (~${estPass}%.0f s) no longer fits the " +
          f"wall-clock budget (elapsed ${elapsedS}%.0f s of ${budgetS}%.0f s, " +
          "SPARK_GRAFT_BENCH_BUDGET_S) - publishing the noisy window instead of overrunning")
        budgetStop = true
      } else {
        retries += 1
        System.err.println(s"[bench] exclusion count $originalExcl over 5% of " +
          s"${passesFull.head._1.size} queries in the original window - " +
          s"noisy, running replacement pass${runs + retries}")
        passesFull :+= runOnePass(sfDir, s"pass${runs + retries}")
      }
    }
    val passes = passesFull.map(_._1)
    val names = passes.head.map(_._1)

    // Host-noise adjudication (VERDICT r10 #2): a pass whose fixed-cost
    // sentinel ran >2x slower than the best pass's was taken under external
    // load — its query times measure the contention, not the code. Such
    // passes are NAMED in the output and EXCLUDED from medians as long as
    // at least one clean pass remains; if every pass is noisy there is
    // nothing better to fall back to, so all are kept and all are named
    // (a reader sees "noisy":["pass1","pass2","pass3"] and distrusts the
    // round, which is exactly the in-band marker r10 lacked).
    def sentinelsOf(key: String): Seq[Double] = passesFull.map(_._2.collectFirst {
      case (`key`, v) => v.toDouble
    }.getOrElse(Double.NaN))
    // Two independent probes (CPU-bound, shuffle-I/O-bound), each read
    // BEFORE and AFTER the timed pass (ADVICE r11): a pass is noisy when
    // either probe's WORSE bracket reading ran >2x the best reading seen
    // across all passes and both brackets — contention on either resource,
    // at either edge of the pass, invalidates the pass's query times.
    val sentinels = sentinelsOf("sentinel_s")
    val sentinelsSh = sentinelsOf("sentinel_shuffle_s")
    val sentinelsPost = sentinelsOf("sentinel_post_s")
    val sentinelsShPost = sentinelsOf("sentinel_shuffle_post_s")
    def noisyBracket(pre: Seq[Double], post: Seq[Double]): Set[Int] =
      (pre ++ post).filterNot(_.isNaN).minOption match {
        case Some(best) if best > 0 =>
          pre.indices.collect {
            case i if Seq(pre(i), post(i)).filterNot(_.isNaN).exists(_ > 2 * best) => i
          }.toSet
        case _ => Set.empty
      }
    // Interior sentinel (VERDICT r19 #1): sampled DURING each pass by a
    // low-duty background spin thread, so a contention window that opens
    // after the pre-probe and closes before the post-probe — the r19
    // record window's exact blind spot — flags the pass anyway. Its unit
    // (pure-JVM spin) differs from the Spark-job brackets, so it
    // adjudicates as its own family against its own cross-pass best.
    val sentinelsInt = sentinelsOf("sentinel_interior_s")
    val noisyIdx: Set[Int] =
      noisyBracket(sentinels, sentinelsPost) ++
        noisyBracket(sentinelsSh, sentinelsShPost) ++
        noisyBracket(sentinelsInt, sentinelsInt)
    val noisyTags = noisyIdx.toSeq.sorted.map(i => s"pass${i + 1}")
    if (noisyTags.nonEmpty)
      System.err.println(s"[bench] host-noise sentinel flagged: " +
        noisyTags.mkString(",") +
        s" (cpu=${sentinels.map(sec3).mkString(",")}" +
        s" cpu_post=${sentinelsPost.map(sec3).mkString(",")}" +
        s" shuffle=${sentinelsSh.map(sec3).mkString(",")}" +
        s" shuffle_post=${sentinelsShPost.map(sec3).mkString(",")}" +
        s" interior=${sentinelsInt.map(sec3).mkString(",")})")
    val cleanIdx: Seq[Int] =
      if (noisyIdx.nonEmpty && noisyIdx.size < passes.size)
        passes.indices.filterNot(noisyIdx).toSeq
      else passes.indices.toSeq

    // Per-query outlier rejection (VERDICT r11 #1): the sentinel pair only
    // brackets a pass — a contention window that opens and closes INSIDE
    // the pass (exactly what poisoned r11's q123/q124 medians while
    // `noisy_passes` stayed empty) leaves both probes clean. The noise is
    // per-query, so the gate is per-query: a pass's value for one query
    // that exceeds 2x that query's cross-pass minimum (and by more than
    // 0.2 s, so scheduler jitter on trivial sub-second queries isn't
    // churned into exclusions) measures the contention, not the code. It
    // is dropped from that query's median, the drop is recorded in
    // BENCH_DETAIL `excluded` (pass + value + the min it was judged
    // against), and the headline carries the exclusion count. The 2x
    // bound — tighter than the suggested ~3x — makes the adjudication
    // criterion structural: a committed median can never exceed 2x the
    // query's own best pass, while r11's genuine clean spreads (<=1.2x)
    // sit far under it. Errors still surface from ANY pass (an
    // AnalysisException is a code defect regardless of host load).
    val exclusions = scala.collection.mutable.ArrayBuffer[(String, Int, Double, Double)]()
    val results = names.map { name =>
      val vals = cleanIdx.flatMap { i =>
        passes(i).collectFirst { case (`name`, sec, None) => (i, sec) }
      }
      val errs = passes.flatMap(_.collect { case (`name`, _, Some(e)) => e })
      if (errs.nonEmpty || vals.isEmpty)
        (name, None, None, errs.headOption.orElse(Some("NoCleanPass")))
      else {
        val (med, mn, dropped) = gateQuery(vals)
        dropped.foreach { case (i, v) => exclusions += ((name, i, v, mn)) }
        (name, Some(med), Some(mn), None)
      }
    }
    exclusions.foreach { case (name, i, v, mn) =>
      System.err.println(s"[bench] per-query outlier excluded: $name pass${i + 1} " +
        s"${sec3(v)}s > 2x cross-pass min ${sec3(mn)}s")
    }

    // second scale point (single pass — a slope indicator, not a
    // headline). Only run when it is genuinely SMALLER than the main
    // scale: with e.g. SPARK_GRAFT_SF_DIR=.../sf0.001 an unconditional
    // sf0.01 pass would be a 10x-larger run dominating wall time and
    // inverting the slope the field claims to show.
    // parse the sf from the LAST path segment only ("/data/sf9/sf0.001"
    // must read 0.001, not 9); unparseable → skip, with a stderr note so
    // an empty sf2_queries map in BENCH_DETAIL.json is explicable
    // (stdout stays one JSON line)
    def sfOf(dir: String): Option[Double] =
      "^sf([0-9]+(?:\\.[0-9]+)?)$".r
        .findFirstMatchIn(new java.io.File(dir).getName)
        .flatMap(_.group(1).toDoubleOption)
    val sf2Dir = "/root/testdata/sf0.01"
    val runPass2Shape = sfDir != sf2Dir && new java.io.File(sf2Dir).isDirectory &&
      (for (a <- sfOf(sfDir); b <- sfOf(sf2Dir)) yield b < a).getOrElse(false)
    // Budget guard (VERDICT r21 #1): the slope pass is the last optional
    // pass; 0.8x of a main-scale pass is a conservative estimate for the
    // 10x-smaller sf0.01 data (observed ~0.65-0.75x). Skipping it keeps
    // the headline parseable (sf2_total reads 0.000) instead of rc=124.
    val runPass2 = runPass2Shape &&
      (passWalls.isEmpty || budgetAllows(elapsedS, passWalls.max, 0.8, budgetS))
    if (!runPass2)
      System.err.println(s"[bench] second scale point skipped (main=$sfDir, sf2=$sf2Dir" +
        (if (runPass2Shape) f", elapsed ${elapsedS}%.0f s of budget ${budgetS}%.0f s" else "") + ")")
    val (pass2, pass2Jvm) =
      if (runPass2) runOnePass(sf2Dir, "sf2") else (Seq.empty, Seq.empty)

    // ---- output. The driver captures only the LAST ~2000 chars of stdout
    // and json-parses the single line it finds there, so the printed line
    // must stay comfortably under that budget even as the catalog grows:
    // short keys (the unique "qNN" prefix of each query name), 3-decimal
    // seconds, and NO per-query second-scale-point map. Everything verbose
    // (full names, every run's time, per-pass JVM stats, the sf2 per-query
    // map) goes to BENCH_DETAIL.json in the working directory instead.
    def fmt(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val qItems: Seq[(String, Double)] =
      results.collect { case (k, Some(v), _, _) => shortKey(k) -> v }
    val errs = fmt(results.collect { case (k, _, _, Some(e)) => shortKey(k) -> ("\"" + e + "\"") })
    val total = results.collect { case (_, Some(v), _, _) => v }.sum
    val total2 = pass2.collect { case (_, v, None) => v }.sum
    val errs2n = pass2.count(_._3.isDefined)
    val passMode = if (fallbackUsed) "in-process-fresh-session" else "child-jvm-per-pass"

    val detail = {
      val perRun = names.map { name =>
        val runsJson = passes.map(_.collectFirst {
          case (`name`, sec, err) =>
            err.fold(sec3(sec))(e => "\"" + e + "\"")
        }.getOrElse("null")).mkString("[", ",", "]")
        name -> runsJson
      }
      val med = fmt(results.collect { case (k, Some(v), _, _) => k -> sec3(v) })
      // min-of-passes per query (VERDICT r11 #1): the median's own floor,
      // published alongside it so a contaminated median is self-evident
      val bests = fmt(results.collect { case (k, _, Some(b), _) => k -> sec3(b) })
      val excluded = fmt(exclusions.groupBy(_._1).toSeq.sortBy(_._1).map {
        case (name, xs) =>
          name -> xs.map { case (_, i, v, mn) =>
            s"""{"pass":"pass${i + 1}","sec":${sec3(v)},"min":${sec3(mn)}}"""
          }.mkString("[", ",", "]")
      })
      val medErrs = fmt(results.collect { case (k, _, _, Some(e)) => k -> ("\"" + e + "\"") })
      val sf2Qs = fmt(pass2.collect { case (k, v, None) => k -> sec3(v) })
      val sf2Errs = fmt(pass2.collect { case (k, _, Some(e)) => k -> ("\"" + e + "\"") })
      val jvm = passesFull.map { case (_, stats) => fmt(stats) }
        .mkString("[", ",", "]")
      val jvm2 = fmt(pass2Jvm)
      val noisyJson = noisyTags.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"sf":"$sfDir","runs":$runs,"retry_passes":$retries,"pass_mode":"$passMode","noisy_passes":$noisyJson,"median":$med,"best":$bests,"excluded":$excluded,"errors":$medErrs,"per_run":${fmt(perRun)},"pass_jvm":$jvm,"sf2":"$sf2Dir","sf2_queries":$sf2Qs,"sf2_errors":$sf2Errs,"sf2_jvm":$jvm2}"""
    }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case NonFatal(t) => System.err.println(s"[bench] detail write failed: $t") }

    adjudicateNpd()
    val gate = warnViolations.map("\"" + _ + "\"").mkString("[", ",", "]")
    val noisy = noisyTags.map("\"" + _ + "\"").mkString("[", ",", "]")
    // best-pass sentinel values (host-speed probes) ride the headline line
    // (~35 bytes, budget-checked): cross-round comparisons of the headline
    // totals are only meaningful normalized by host speed (SCALING.md
    // "Measurement discipline"), so the signal must live in BENCH_r{N}.json
    // itself, not only in the untracked-until-committed detail file
    def best(xs: Seq[Double]): String =
      xs.filterNot(_.isNaN).minOption.map(sec3).getOrElse("null")
    // "excl" = count of per-query outlier drops (full record with pass,
    // value, and floor in BENCH_DETAIL "excluded"). The queries map is
    // the DESIGNED top-HeadlineTopK slowest ("q_top" names the cap) —
    // the set perf adjudication reads first — so the reported set is a
    // stable design choice, not a byte-arithmetic artifact; "q_omitted"
    // counts elisions from THAT set and is 0 in normal operation
    // (budgetedQueries stays as the backstop so the whole line can never
    // outgrow the driver's last-2000-chars capture, HeadlineBudget). The
    // full per-query map is in the committed BENCH_DETAIL.json.
    def lineWith(qsJson: String, omitted: Int): String =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec","q_top":$HeadlineTopK,"queries":$qsJson,"q_omitted":$omitted,"errors":$errs,"warn_gate":$gate,"noisy":$noisy,"excl":${exclusions.size},"retry":$retries,"sent_cpu":${best(sentinels ++ sentinelsPost)},"sent_sh":${best(sentinelsSh ++ sentinelsShPost)},"sent_int":${best(sentinelsInt)},"sf":"$sfDir","runs":$runs,"sf2":"$sf2Dir","sf2_total":${sec3(total2)},"sf2_errors":$errs2n,"detail":"BENCH_DETAIL.json"}"""
    val qTop = qItems.sortBy { case (n, v) => (-v, n) }.take(HeadlineTopK)
    val scaffold = lineWith("{}", qTop.size).length
    val (qsBudgeted, qOmitted) = budgetedQueries(qTop, HeadlineBudget - scaffold)
    // The warn-gate report goes out BEFORE the headline (VERDICT r21 #2:
    // the JSON must be the LAST line of combined output — the driver
    // captures only the tail, and a late stderr flush after the println
    // can push the JSON out of its window).
    if (warnViolations.nonEmpty)
      System.err.println(s"[bench] WARNING GATE FAILED: ${warnViolations.mkString("; ")}")
    println(lineWith(qsBudgeted, qOmitted))
    if (warnViolations.nonEmpty) sys.exit(3)
  }
}
