package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Scoped

/** Storage-lifecycle tests for the r3 leak class: checkpointed/persisted
  * intermediates must be freed once their query's terminal action
  * completes — a long-lived session running the whole catalog must end
  * with no more storage blocks than it started with. */
class ScopedSpec extends SparkSpec {

  private def liveBlocks(): Int =
    spark.sparkContext.getPersistentRDDs.values
      .count(_.getStorageLevel != StorageLevel.NONE)

  /** The release listener fires asynchronously on the listener bus, and
    * residual blocks may be CONTEXT-CLEANER-owned (an armed entry whose
    * plan was collected mid-query delegates its storage to Spark's GC
    * cleanup rather than risk unpersisting under a cloned-plan consumer —
    * see Scoped.releaseEntry), so the poll applies real GC pressure to
    * let those weak references clear. */
  private def awaitRelease(baseline: Int, timeoutMs: Long = 20000): Int = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (liveBlocks() > baseline && System.currentTimeMillis() < deadline) {
      var garbage = new Array[Array[Long]](32)
      var g = 0
      while (g < 32) { garbage(g) = new Array[Long](1 << 16); g += 1 }
      garbage = null
      System.gc(); Thread.sleep(50)
    }
    liveBlocks()
  }

  /** Poll [[Scoped.sweep]] under REAL garbage-collection pressure until it
    * reaps something (or the deadline passes). `System.gc()` alone is
    * advisory — under a busy full-suite heap it repeatedly failed to
    * clear the abandoned plan's weak reference within 30 s — so each
    * round also churns ~32 MB of young-gen garbage to force an actual
    * collection. */
  private def gcSweep(timeoutMs: Long = 30000): Int = {
    var swept = 0
    val deadline = System.currentTimeMillis() + timeoutMs
    while (swept == 0 && System.currentTimeMillis() < deadline) {
      var garbage = new Array[Array[Long]](64)
      var g = 0
      while (g < 64) { garbage(g) = new Array[Long](1 << 16); g += 1 }
      garbage = null
      System.gc(); Thread.sleep(50); swept = Scoped.sweep()
    }
    swept
  }

  /** Evict cross-suite leftovers before a strict-equality baseline:
    * suites like PlanSpec CONSTRUCT catalog queries (eagerly
    * checkpointing + arming releases) without ever consuming them, and
    * those entries release on GC timing — mid-test, a baseline taken
    * over them shifts and a `=== baseline` assertion flakes. Reap every
    * abandoned entry, then drop all remaining storage outright. */
  private def drain(): Unit = {
    var reaped = 1
    val deadline = System.currentTimeMillis() + 5000
    while (reaped > 0 && System.currentTimeMillis() < deadline) {
      System.gc(); Thread.sleep(30); reaped = Scoped.sweep()
    }
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
    spark.catalog.clearCache()
  }

  test("Scoped.free releases localCheckpoint blocks (Dataset.unpersist does not)") {
    drain()
    val df = spark.range(1000).toDF("id").localCheckpoint()
    assert(liveBlocks() >= 1)
    val before = liveBlocks()
    df.unpersist(blocking = true) // CacheManager no-op for checkpoints
    assert(liveBlocks() === before, "Dataset.unpersist must not see checkpoint blocks")
    Scoped.free(df)
    assert(liveBlocks() === before - 1)
  }

  test("free (default) completes block removal before returning — no in-flight window for the cleaner's duplicate RemoveRdd") {
    drain()
    import org.apache.spark.SparkEnv
    import org.apache.spark.sql.execution.LogicalRDD
    val cp = spark.range(10000).toDF("id").repartition(4).localCheckpoint()
    val ids = cp.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
    assert(ids.nonEmpty)
    val master = SparkEnv.get.blockManager.master
    def blocks() = master.getMatchingBlockIds(
      b => b.asRDDId.exists(r => ids.contains(r.rddId)), askStorageEndpoints = true)
    assert(blocks().nonEmpty, "checkpoint must own blocks before free")
    // The r7 bench-tail race: free() used to issue a NON-blocking
    // unpersist, return, and let the caller drop its last strong handle —
    // the ContextCleaner then GC-fired a duplicate RemoveRdd that
    // enumerated the same blocks concurrently with the still-in-flight
    // removal and warned "Asked to remove block rdd_N_M, which does not
    // exist". With the blocking default the removal is COMPLETE on
    // return, so a later duplicate enumerates zero blocks and is silent.
    Scoped.free(cp)
    assert(blocks().isEmpty,
      "blocks survived free() returning — an in-flight removal here is " +
        "exactly the window the ContextCleaner's duplicate RemoveRdd races")
  }

  test("releaseAfterUse frees the checkpoint after the first terminal action") {
    drain()
    val baseline = liveBlocks()
    val cp = spark.range(1000).toDF("id").localCheckpoint()
    Scoped.releaseAfterUse(cp)
    assert(liveBlocks() === baseline + 1, "armed but not yet consumed")
    assert(cp.filter(col("id") % 2 === 0).count() === 500)
    assert(awaitRelease(baseline) === baseline, "blocks must drop after the action")
  }

  test("releaseAfterUse ignores unrelated queries") {
    drain()
    val baseline = liveBlocks()
    val cp = spark.range(100).toDF("id").localCheckpoint()
    Scoped.releaseAfterUse(cp)
    spark.range(50).count() // unrelated action — must NOT trigger release
    Thread.sleep(500)
    assert(liveBlocks() === baseline + 1, "unrelated action must not release")
    cp.count()
    assert(awaitRelease(baseline) === baseline)
    ()
  }

  test("sweep frees an armed-but-never-consumed checkpoint (abandoned plan)") {
    drain()
    val baseline = liveBlocks()
    // arm inside a method scope so nothing on this frame keeps the plan
    // reachable once it returns — real abandonment, not a TTL shortcut
    // (TTL no longer touches checkpoint-backed entries: truncated lineage
    // cannot recompute, so only the GC criterion may free them)
    def armAndAbandon(): Unit = {
      val cp = spark.range(1000).toDF("id").localCheckpoint()
      Scoped.releaseAfterUse(cp)
      assert(liveBlocks() === baseline + 1, "armed but not yet consumed")
    }
    armAndAbandon()
    val swept = gcSweep()
    assert(swept >= 1, "GC-criterion sweep must reap the abandoned plan")
    assert(awaitRelease(baseline) === baseline, "abandoned checkpoint must be freed")
    // idempotent: nothing left to sweep, later actions see a dead listener
    assert(Scoped.sweep(ttlMs = 0) === 0)
    spark.range(10).count()
    ()
  }

  test("TTL sweep splits a checkpoint+persist hybrid: cache freed, checkpoint spared then GC-reapable") {
    drain()
    spark.catalog.clearCache() // stale cross-suite cache entries would be
    // re-compiled by this test's uncache and can trip attribute remapping
    val baseline = liveBlocks()
    def armHybrid(): Unit = {
      val cp = spark.range(700).toDF("hyb").localCheckpoint()
        .persist(StorageLevel.MEMORY_ONLY)
      cp.count() // materialize the cache entry on top of the checkpoint
      Scoped.releaseAfterUse(cp)
      Thread.sleep(5)
      val before = liveBlocks()
      // TTL must NOT fully release (checkpoint half is lineage-unsafe)…
      assert(Scoped.sweep(ttlMs = 0) === 0)
      // …but must have dropped the cache entry and the strong hold
      // (no consuming action here — that would fire the normal listener
      // release and mask the GC path this test pins down)
      assert(cp.storageLevel === StorageLevel.NONE, "cache half must be gone")
      val after = awaitRelease(before - 1)
      assert(after === before - 1, "exactly the cache block must drop")
    }
    armHybrid()
    // with the strong hold cleared and the caller gone, the GC criterion
    // must eventually reap the checkpoint blocks + listener
    assert(gcSweep() >= 1, "checkpoint half must be GC-reapable after TTL unpin")
    assert(awaitRelease(baseline) === baseline)
    ()
  }

  test("TTL sweep is lineage-safe: reaps persist-backed, spares checkpoint-backed") {
    drain()
    val baseline = liveBlocks()
    val cp = spark.range(800).toDF("id").localCheckpoint()
    val cached = spark.range(900).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    cached.count() // materialize the cache entry
    Scoped.releaseAfterUse(cp, cached)
    Thread.sleep(5)
    // TTL may reap only the persist-backed entry (lineage intact — worst
    // case is recomputation); the live checkpoint must survive TTL
    assert(Scoped.sweep(ttlMs = 0) === 1)
    assert(cached.storageLevel === StorageLevel.NONE, "cache entry must be gone")
    assert(cp.count() === 800, "checkpoint must still be consumable after TTL sweep")
    assert(awaitRelease(baseline) === baseline)
    ()
  }

  test("releaseAllArmed frees armed entries and reports their RDD ids (bench sweep serialization)") {
    drain()
    val baseline = liveBlocks()
    val cp = spark.range(1000).toDF("id").localCheckpoint()
    val cpIds = cp.queryExecution.analyzed.collectLeaves()
      .collect { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id }.toSet
    Scoped.releaseAfterUse(cp)
    assert(liveBlocks() === baseline + 1, "armed but not yet consumed")
    // the bench isolation point: release through the registry, get the ids
    // the sweep must skip — and the release must actually free the blocks
    val ids = Scoped.releaseAllArmed(spark)
    assert(cpIds.subsetOf(ids), s"returned ids $ids must cover the checkpoint's $cpIds")
    assert(awaitRelease(baseline) === baseline, "storage must be freed by the registry release")
    // idempotent: everything already released, nothing left to claim
    assert(Scoped.releaseAllArmed(spark).isEmpty)
    // the skip contract: a blanket sweep that skips `ids` touches nothing
    // the listener path might also be releasing — no shared-block race
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => ids.contains(r.id))
      .foreach(r => try r.unpersist(blocking = true) catch { case _: Throwable => () })
    ()
  }

  test("default sweep leaves entries with live plans armed") {
    drain()
    // drain leftover armed entries from other suites in this JVM first —
    // the registry is process-global and a stale entry would make the
    // sweep() === 0 assertion below flaky under GC timing
    Scoped.sweep(ttlMs = 0)
    val baseline = liveBlocks()
    val cp = spark.range(500).toDF("id").localCheckpoint()
    Scoped.releaseAfterUse(cp)
    // the plan is strongly reachable (cp in scope) — a GC-criterion sweep
    // must not free it out from under a future consumer
    assert(Scoped.sweep() === 0)
    assert(liveBlocks() === baseline + 1)
    cp.count()
    assert(awaitRelease(baseline) === baseline)
    ()
  }

  test("iterative catalog queries leak no storage after their terminal action") {
    drain()
    val dir = "/root/testdata/sf0.001"
    val baseline = liveBlocks()
    for (q <- Seq("q29_pagerank_fixed10", "q25_pagerank", "q31_ngram_jaccard",
        "q32_minhash_lsh", "q34_simhash_pairs", "q49_dedup_clusters",
        "q103_kmeans", "q104_split_leakage", "q111_cdc_chunk_dedup",
        "q117_mixture_apply", "q119_bpe_train_loop")) {
      SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // <= not ==: arming inside a query sweeps abandoned entries left by
      // EARLIER suites in this shared JVM, so the count can drop BELOW the
      // baseline — that is the self-heal working, not a leak
      assert(awaitRelease(baseline) <= baseline, s"$q leaked storage blocks")
    }
  }
}
