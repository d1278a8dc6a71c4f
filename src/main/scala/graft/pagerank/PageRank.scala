package graft.pagerank

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Scoped
import graft.graph.GraphBuilder.NullVertex

/** Iterative PageRank with the reference's exact update rule and loop policy
  * (SURVEY.md §1.4 #4–#6):
  *
  *  - update: pr'(v) = α/N + (1−α)·Σ_{u→v} pr(u)/outdeg(u), α = 0.15, N =
  *    vertex count including the NULL sentinel
  *    (/root/reference/src/main/scala/pageRank.scala:294,310,355);
  *  - initial rank 1.0 (not 1/N) — total mass decays from N toward 1 across
  *    iterations; reproduced as-is (pageRank.scala:262-272);
  *  - convergence metric: the reference's structure record is emitted with
  *    rank 0 (pageRank.scala:280), so the reduce-side foldLeft's
  *    `prevPageRank` is always 0 and the counter accumulates
  *    Σ⌊|Σ contribs|·1000⌋ — the PRE-DAMPING MASS, not a true change
  *    (pageRank.scala:297-307,368). avg = Σ/N/1000. Reproduced as-is:
  *    per-vertex Δ = |mass| with prev implicitly 0. Since total mass decays
  *    N → 1 geometrically (≈0.85^i·N early on), avg ≈ 0.85^(i−1) and the
  *    loop typically runs a couple iterations past minIter before
  *    avg ≤ 0.2 — matching the reference's observable iteration count;
  *  - loop: run iteration i, stop at the first i with i ≥ minIter and
  *    avg ≤ tol; hard cap maxIter (pageRank.scala:360-371). The reference
  *    then sorts iteration 10's output unconditionally (pageRank.scala:376,
  *    a latent bug); we sort the FINAL iteration and document the
  *    divergence (SURVEY §1.4 #6).
  *
  * === The NULL hot key, handled analytically ===
  * The sentinel NULL vertex links to EVERY page (pageRank.scala:199-204).
  * Materializing that as an adjacency array and exploding it would make one
  * row fan out to V rows — at web scale a single multi-GB array and a
  * one-task straggler. Instead the step treats NULL's out-edges
  * analytically: every page receives `pr(NULL)/V` (V = page count =
  * outdeg(NULL)), injected as a broadcast scalar — NULL's links array is
  * never read, never exploded. NULL's inbound mass is exactly the dangling
  * pages' contributions, which flow through the normal explode path (their
  * adjacency is the single edge → NULL). Algebraically identical to the
  * naive explode; the only divergence is float summation order (≪ 1 ulp).
  *
  * Scale notes (100 TB): each iteration is one narrow explode over
  * non-NULL vertices + one groupBy(title) shuffle + one join back on title
  * — both hash on the vertex id, so AQE reuses the partitioning.
  * `localCheckpoint` after every iteration truncates lineage (mandatory —
  * iterative DF plans grow superlinearly otherwise, SURVEY §7.4.3); on a
  * real cluster use `checkpoint` with an HDFS dir for fault tolerance. The
  * Δ-counter is a driver-side scalar agg per iteration, the moral twin of
  * the reference's Hadoop counter side-channel.
  */
object PageRank {

  final case class Result(graph: DataFrame, iterations: Int, avgChange: Double) {
    /** Free the final iteration's checkpoint blocks. Call when done with
      * `graph` (or use Scoped.releaseAfterUse(graph) to tie the release to
      * its terminal action) — `graph.unpersist()` would NOT work: Dataset
      * unpersist only releases CacheManager caches, never checkpoint
      * blocks, so a long-lived session would leak one graph per run. */
    def release(): Unit = Scoped.free(graph)
  }

  /** One power-iteration step over graph(title, links, pr).
    * Returns (title, links, pr, delta) where delta = |pre-damping mass| —
    * the reference's counter semantics (its structure record carries rank
    * 0, so "prev" is always 0; pageRank.scala:280,301-307). `n` counts ALL
    * vertices including NULL; NULL's out-fan is handled analytically. */
  def step(g: DataFrame, n: Long, alpha: Double = 0.15): DataFrame = {
    val pages = g.filter(col("title") =!= NullVertex)
    // pr(NULL)/V as a 1-row broadcast — the analytic stand-in for exploding
    // NULL's V-element links array (V = n − 1 pages).
    // (global agg, not a filter+select, so the result is always exactly one
    // row — 0.0 when the graph happens to carry no NULL vertex). With no
    // pages (n ≤ 1: an empty or title-less corpus) NULL has no out-edges,
    // so its share is 0 — and ANSI mode would reject the division by 0.
    val share = if (n > 1) col("pr") / lit((n - 1).toDouble) else lit(0.0)
    val nullContrib = g.agg(
      sum(when(col("title") === NullVertex, share)
        .otherwise(lit(0.0))).as("null_contrib"))
    val contribs = pages
      .select(explode(col("links")).as("title"),
        (col("pr") / size(col("links"))).as("contrib"))
    val mass = contribs.groupBy("title").agg(sum(col("contrib")).as("m"))
    g.select(col("title"), col("links"))
      .join(mass, Seq("title"), "left_outer")
      .crossJoin(broadcast(nullContrib))
      .withColumn("mass", coalesce(col("m"), lit(0.0)) +
        when(col("title") =!= NullVertex, col("null_contrib")).otherwise(lit(0.0)))
      .select(col("title"), col("links"),
        (lit(alpha) / n + lit(1.0 - alpha) * col("mass")).as("pr"),
        abs(col("mass")).as("delta"))
  }

  /** Run the fixpoint loop with the reference's policy.
    *
    * `checkpointDir`: when set, iterations checkpoint to reliable storage
    * (HDFS/object store on a cluster) — the fault-tolerant twin of the
    * reference's per-iteration SequenceFiles (SURVEY §2.1 S2): an executor
    * loss mid-iteration recovers from the last checkpoint instead of
    * recomputing the whole chain. Default (None) uses `localCheckpoint` —
    * fastest, right for local mode and for clusters where re-running the
    * job on failure is acceptable.
    *
    * `quantize`: when `Some(s)`, each iteration's damped rank is snapped
    * to the 1/s grid (`⌊pr·s + 0.5⌋ / s`) before it is checkpointed, so a
    * second engine computing the same iteration (q29's DuckDB recursive
    * CTE) lands on the identical grid — float summation-order drift never
    * accumulates. The Δ counter still reads the unsnapped mass. Default
    * (None) leaves the plan untouched. */
  def run(graph0: DataFrame, minIter: Int = 10, tol: Double = 0.2,
      maxIter: Int = 50, alpha: Double = 0.15,
      checkpointDir: Option[String] = None,
      quantize: Option[Double] = None): Result = {
    val spark = graph0.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def save(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
    // Checkpoint BEFORE counting: graph0 is typically an expensive build
    // (semi-join + collect_set over the raw corpus) — materialize it once
    // and count the materialized blocks, instead of running the build twice.
    var g = save(graph0)
    val n = g.count()
    var i = 0
    var avg = Double.MaxValue
    var continue = true
    while (continue) {
      i += 1
      // Σ⌊|Δ|·1000⌋ / N / 1000, preserving the integer truncation
      // (pageRank.scala:307,368) for bit-parity with the reference. The
      // counter piggybacks on the checkpoint job via observe() — one job
      // per iteration, not two (the Spark twin of the reference's Hadoop
      // counter, which is likewise collected by the main job).
      val obs = org.apache.spark.sql.Observation(s"pr_delta_$i")
      val damped = step(g, n, alpha)
      val snapped = quantize.fold(damped)(s =>
        damped.withColumn("pr", floor(col("pr") * s + 0.5) / s))
      // `delta` is dropped above the observation, so the checkpoint stores
      // only title, links, pr: nothing reads Δ after the counter.
      val stepped = save(snapped
        .observe(obs, sum(floor(col("delta") * 1000)).cast("long").as("c"))
        .drop("delta"))
      val counter = obs.get("c") match {
        case l: java.lang.Long => l.longValue()
        case x => x.toString.toLong
      }
      avg = counter.toDouble / n / 1000.0
      // Scoped.free, NOT Dataset.unpersist: the predecessor is a
      // checkpoint, whose blocks live at the RDD level where Dataset
      // unpersist (a CacheManager call) never reaches — with plain
      // unpersist every iteration's blocks would leak for the session
      // lifetime, the exact storage-leak class VERDICT r3 flagged.
      Scoped.free(g)
      g = stepped
      continue = i < maxIter && (i < minIter || avg > tol)
    }
    Result(g, i, avg)
  }

  /** Final ranked relation (ref T1) — a true global order via Spark's
    * range-partitioned sort (strictly better than the reference's
    * per-partition MR sort, SURVEY §2.5 T1). */
  def ranked(g: DataFrame): DataFrame =
    g.select(col("title"), col("pr")).orderBy(desc("pr"), asc("title"))
}
