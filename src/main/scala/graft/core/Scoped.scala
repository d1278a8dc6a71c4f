package graft.core

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Storage-lifecycle helpers for materialized intermediates.
  *
  * Why this exists: `Dataset.unpersist()` only releases CacheManager
  * entries (i.e. `persist()`/`cache()` caches). A `localCheckpoint()`ed
  * Dataset's blocks belong to the materialized RDD behind its
  * `LogicalRDD` leaf, which the CacheManager never sees — so a session
  * that checkpoints intermediates and "unpersists" them at the Dataset
  * level leaks every checkpoint until the session dies. In a long-lived
  * multi-query session (the bench, a notebook, a server) those blocks
  * accumulate in executor storage memory and tax every later query; at
  * 100 TB they eventually evict everything else.
  *
  * [[free]] releases the right thing for either kind of materialization.
  * [[releaseAfterUse]] defers the release until the first *caller-level*
  * action that consumes the plan completes, so a query lambda can hand a
  * checkpoint-backed result to its caller and still not leak.
  */
object Scoped {

  /** The materialized RDDs behind `df`'s checkpoint leaves. Leaf-level,
    * not root-level: a projection/filter OVER a checkpoint (e.g.
    * `checkpointed.select("title", "pr")`) still owns exactly those blocks. */
  private def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd }

  /** Release `df`'s storage now — RDD blocks for a
    * `localCheckpoint`/`checkpoint` result (or a plan built directly on
    * one), CacheManager entry for a `persist` result. Safe to call twice
    * (second call is a no-op).
    *
    * The release is BLOCKING (r7 "Asked to remove block" race): a
    * non-blocking unpersist leaves the per-block removal in flight on the
    * BlockManagerStorageEndpoint's async pool while this method returns
    * and the caller drops its last strong reference — the ContextCleaner
    * then GC-fires a SECOND RemoveRdd for the same id, the two removals
    * enumerate the same block set concurrently, and the loser logs
    * `Asked to remove block rdd_N_M, which does not exist` per block.
    * Waiting for removal to complete before returning means any later
    * cleaner pass enumerates zero blocks and stays silent. The cost is
    * one local RPC round-trip per release — for the ITERATIVE-LOOP
    * queries that free a predecessor per round (PageRank, CC, the BPE
    * trainer) the r8 bench measured it negligible (walls unchanged vs
    * r7's non-blocking releases). Before freeing inside any new hot loop,
    * verify the wait is actually negligible there. ScopedSpec pins the
    * blocks-gone-on-return contract. */
  def free(df: DataFrame): Unit = {
    checkpointRdds(df)
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = true))
    df.unpersist(blocking = true)
  }

  /** Intra-query materialization actions that must NOT trigger release:
    * a later `localCheckpoint` in the same lambda consumes earlier ones,
    * and its listener event arrives asynchronously. */
  private val MaterializeOnly = Set("localCheckpoint", "checkpoint", "persist", "cache")

  /** One armed release. The Dataset, its analyzed plan, AND the
    * checkpoint RDD handles are all held only WEAKLY — an armed DF whose
    * caller walks away (crash before the action, abandoned plan in a
    * long-lived session) must not be pinned alive by its own cleanup
    * hook, and the RDD handles must not outlive every plan that could
    * read them (see the abandoned-release note on [[releaseEntry]]:
    * strong handles let the GC criterion free blocks a LIVE query still
    * needed through cloned plan nodes — the r8 q124 flake). Truly
    * abandoned storage is the ContextCleaner's job: once nothing
    * references a persisted RDD object, Spark GC-fires its unpersist
    * natively. The numeric ids ride along for [[releaseAllArmed]]'s
    * skip-list even after the handles clear. */
  private final class Armed(
      val spark: SparkSession,
      val dfRef: WeakReference[DataFrame],
      val targetRef: WeakReference[LogicalPlan],
      val rdds: Seq[(Int, WeakReference[RDD[_]])],
      val armedAtMs: Long,
      // Any PERSISTED DF (CacheManager entry, checkpoint leaves or not)
      // can only be fully released through the Dataset — there is no
      // Dataset-free handle to its CacheManager entry — so hold it
      // strongly. This costs nothing in reachability: the CacheManager
      // itself pins the analyzed plan of every persisted DF, so the GC
      // criterion is structurally dead for them either way; weak-holding
      // would only lose the release path (a collected wrapper on a
      // checkpoint+persist DF used to leak its cache entry, ADVICE r5).
      // Pure checkpoint-backed DFs stay weak (their blocks are
      // releasable via the RDD handles after GC). Mutable: a TTL sweep
      // on a checkpoint+persist entry releases the (lineage-safe) cache
      // half and CLEARS this field, unpinning the plan so the GC
      // criterion can reap the checkpoint half later.
      @volatile var strongDf: Option[DataFrame]) {
    val done = new AtomicBoolean(false)
    @volatile var listener: QueryExecutionListener = _
  }

  private val registry = new ConcurrentLinkedQueue[Armed]()

  /** Marker-action failures (see [[releaseAfterUse]]'s marker): a failed
    * marker leaves every listener armed in that call deaf until some other
    * post-arm event arrives, which for a consumer reusing a pre-arm
    * QueryExecution means a silent storage leak. Counted and logged so the
    * condition is diagnosable instead of invisible (ADVICE r6). */
  private val markerFailures = new java.util.concurrent.atomic.AtomicLong(0)
  def markerFailureCount: Long = markerFailures.get

  /** Force-release every entry armed on `spark` NOW, through the same
    * CAS-guarded [[releaseEntry]] the listeners use, and return the ids of
    * every checkpoint RDD those entries own — including entries a
    * concurrent listener is releasing at this very moment (done but not
    * yet unregistered). This is the bench/test isolation point: a sweeper
    * about to blanket-unpersist `getPersistentRDDs` calls this FIRST and
    * SKIPS the returned ids, so the sweep and the (asynchronous) listener
    * release can never both unpersist the same blocks — the source of the
    * r6 bench-tail "cannot be recomputed after unpersisting" / "Asked to
    * remove block" warnings. Safe anytime between queries: the armed
    * contract is one consumer action, and between queries every armed
    * entry is either already consumed (CAS makes this a no-op) or
    * abandoned (this frees it earlier than the GC sweep would). */
  def releaseAllArmed(spark: SparkSession): Set[Int] = {
    val ids = Set.newBuilder[Int]
    registry.forEach { e =>
      if (e.spark eq spark) {
        ids ++= e.rdds.map(_._1)
        releaseEntry(e)
      }
    }
    ids.result()
  }

  /** Release an armed entry. `unpersistStorage = false` is the ABANDONED
    * path (armed plan garbage-collected before any consumer matched):
    * it unregisters WITHOUT touching storage. Rationale (the r8 q124
    * flake): "our weakly-held plan object is gone" does NOT mean "no
    * live plan reads these blocks" — the analyzer's DeduplicateRelations
    * re-instances a LogicalRDD that appears more than once in a
    * self-referencing query (4 eval rows over one checkpoint), so the
    * consumer's final plan can hold only CLONES of the armed plan; once
    * the original object is collected, an eager abandoned-unpersist
    * yanks CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND out of the still-running
    * consumer. Truly abandoned storage needs no action from us at all:
    * nothing strong holds the RDD object (this entry's handles are
    * weak, `sc.persistentRdds` is weak-valued), so the ContextCleaner
    * GC-fires its unpersist natively. */
  /** The abandoned path DELEGATES storage reclamation to the
    * ContextCleaner; if reference tracking is disabled
    * (`spark.cleaner.referenceTracking=false`) there is no cleaner and
    * abandoned checkpoint blocks would silently leak (ADVICE r8). Warned
    * once per JVM so the delegation assumption is visible. */
  private val cleanerWarned = new AtomicBoolean(false)
  private def warnIfNoCleaner(e: Armed): Unit =
    if (!e.spark.sparkContext.getConf.getBoolean(
        "spark.cleaner.referenceTracking", defaultValue = true) &&
        cleanerWarned.compareAndSet(false, true))
      System.err.println("[scoped] spark.cleaner.referenceTracking is OFF: " +
        "abandoned checkpoint storage has no release path (the abandoned " +
        "unregister delegates to the ContextCleaner) — blocks may leak")

  private def releaseEntry(e: Armed, unpersistStorage: Boolean = true): Unit =
    if (e.done.compareAndSet(false, true)) {
      if (!unpersistStorage) warnIfNoCleaner(e)
      if (debug) System.err.println(
        s"[scoped-debug] release rdds=${e.rdds.map(_._1).mkString(",")} " +
          s"unpersist=$unpersistStorage targetNull=${e.targetRef.get == null} " +
          s"thread=${Thread.currentThread().getName}")
      try {
        if (unpersistStorage) e.strongDf.orElse(Option(e.dfRef.get)) match {
          case Some(df) => free(df)
          case None =>
            // Dataset collected but the release was EXPLICIT (consumer
            // matched / releaseAllArmed): free via the weak handles that
            // are still live (blocking, same race rationale as [[free]])
            e.rdds.foreach { case (_, ref) =>
              val r = ref.get
              if (r != null && r.getStorageLevel != StorageLevel.NONE)
                r.unpersist(blocking = true)
            }
        }
      } finally {
        e.spark.listenerManager.unregister(e.listener)
        registry.remove(e)
      }
    }

  private val debug = sys.env.contains("SCOPED_DEBUG")

  /** UNREGISTER every armed-but-never-consumed entry whose ANALYZED PLAN
    * has been garbage-collected, plus — when `ttlMs` is given — fully
    * release any INTACT-LINEAGE entry older than `ttlMs`. The abandoned
    * test keys on the plan, not the Dataset wrapper: a caller routinely
    * drops the wrapper while a derived DataFrame (`cp.select(...)`)
    * still references the plan and will consume the blocks.
    *
    * An abandoned entry's STORAGE is not touched here (r8): the plan
    * object being collected does not prove no live plan reads the
    * blocks — the analyzer clones self-referenced LogicalRDDs
    * (DeduplicateRelations), so a running consumer can hold only clones
    * of the armed plan. Since every handle to the RDD in this registry
    * is weak and `sc.persistentRdds` is weak-valued, a truly abandoned
    * checkpoint's RDD object becomes garbage with its plan, and the
    * ContextCleaner GC-fires its unpersist natively — delegation, not
    * leakage (ScopedSpec pins it).
    *
    * TTL fully releases ONLY entries with no checkpoint RDDs
    * (persist-backed or storage-free): their lineage is intact, so an
    * early release can cost recomputation time, never correctness
    * (ADVICE r5). The checkpoint+persist hybrid gets the split
    * treatment: TTL releases its cache entry (lineage-safe) and drops
    * the strong hold, after which the plan can be collected and the
    * abandoned/ContextCleaner path takes over — without this, such an
    * entry would pin its own plan forever and be unreapable.
    *
    * Returns the number unregistered/released. Runs automatically (GC
    * criterion only) on every [[releaseAfterUse]] call, so a long-lived
    * session that keeps arming new queries self-heals; call explicitly
    * with a TTL for deterministic cleanup points. */
  def sweep(ttlMs: Long = Long.MaxValue): Int = {
    val now = System.currentTimeMillis()
    var n = 0
    registry.forEach { e =>
      if (e.done.get) registry.remove(e)
      else {
        val abandoned = e.targetRef.get == null
        val ttlOld = ttlMs != Long.MaxValue && now - e.armedAtMs > ttlMs
        if (abandoned) {
          // unregister ONLY — storage is the ContextCleaner's (see
          // releaseEntry: cloned plans may still read the blocks)
          releaseEntry(e, unpersistStorage = false); n += 1
        }
        else if (ttlOld && e.rdds.isEmpty) { releaseEntry(e); n += 1 }
        else if (ttlOld) e.strongDf.foreach { df =>
          // checkpoint+persist hybrid: release the recomputable cache
          // half now; unpinning the plan re-arms the GC criterion for
          // the checkpoint blocks (counted when that actually fires).
          // Blocking for the same cleaner-race reason as [[free]].
          df.unpersist(blocking = true)
          e.strongDf = None
        }
      }
    }
    n
  }

  /** Arm a one-shot release of each `df` that fires when the first
    * caller-level action (count/collect/save/…, NOT another checkpoint)
    * whose plan references `df` completes — success or failure.
    *
    * Contract: the returned query result is consumed by exactly ONE
    * action (the driver/bench/verify contract). For checkpointed `df`s a
    * second action on the same object would have to recompute truncated
    * lineage and fail; build the query again instead — catalog lambdas
    * are pure, so re-invocation is always possible.
    *
    * Matching is `sameResult` on the analyzed plan: for checkpointed DFs
    * that compares the materialized RDD identity (no false positives);
    * for persisted DFs a canonically-equal plan in a concurrent query
    * can match early, which is safe — lineage is intact, the later
    * consumer just recomputes.
    *
    * An armed checkpoint-backed DF that is never consumed does not pin
    * its listener forever: the hook holds the Dataset/plan/RDDs weakly,
    * and once they are collected the next listener event or [[sweep]]
    * unregisters the entry while the ContextCleaner reclaims the
    * now-unreachable blocks (see [[sweep]] for why the entry must not
    * unpersist them itself). (A persist-backed DF is held strongly — its
    * CacheManager entry has no Dataset-free release path — and is reaped
    * by TTL [[sweep]] only.) */
  def releaseAfterUse(dfs: DataFrame*): Unit = {
    dfs.foreach { df =>
      val rdds = checkpointRdds(df)
      // Stale-event cutoff: the listener bus is ASYNCHRONOUS, so events
      // from actions that COMPLETED before arming (e.g. the driver-side
      // collects of an iterative fit against this very checkpoint) can be
      // delivered to the listener registered here — their plans reference
      // `df` and would release the blocks before the real consumer runs
      // (bit q103/q112 in the bench: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
      // The listener therefore starts DEAF and goes live at the first
      // event whose QueryExecution was CONSTRUCTED after this point
      // (ids are monotonic at construction; `armedAfterId` is a fresh
      // throwaway execution's id). Because the bus is FIFO, everything
      // delivered after that first post-arm event was also POSTED after
      // arming — so a consumer whose action reuses a pre-arm
      // QueryExecution (collect() on an already-built DF) still matches
      // once live. The marker action below guarantees the flip happens
      // before any real consumer's event can arrive.
      val armedAfterId = df.sparkSession.range(0).queryExecution.id
      // Strong hold for every actually-persisted DF — the CacheManager
      // pins its plan anyway (see Armed.strongDf). A plain
      // un-materialized DF stays weak — strong-holding it would keep its
      // plan reachable forever and make sweep's GC criterion
      // structurally dead for an entry that owns no storage at all.
      val e = new Armed(df.sparkSession, new WeakReference(df),
        new WeakReference(df.queryExecution.analyzed),
        rdds.map(r => (r.id, new WeakReference[RDD[_]](r))),
        System.currentTimeMillis(),
        strongDf = if (df.storageLevel != StorageLevel.NONE)
          Some(df) else None)
      val listener: QueryExecutionListener = new QueryExecutionListener {
        @volatile private var live = false
        private def maybeRelease(funcName: String, qe: QueryExecution): Unit = {
          if (!live) {
            if (qe.id > armedAfterId) live = true // first post-arm post — go live
            else return // posted before arming: a stale queued event
          }
          if (!MaterializeOnly.contains(funcName)) {
            e.targetRef.get match {
              case null =>
                if (debug) System.err.println(
                  s"[scoped-debug] abandoned-unregister rdds=${e.rdds.map(_._1).mkString(",")} " +
                    s"on event func=$funcName qeId=${qe.id}")
                // abandoned — unregister only; cloned plans may still
                // read the blocks and the ContextCleaner owns truly
                // unreachable storage (see releaseEntry)
                releaseEntry(e, unpersistStorage = false)
              case target =>
                val hit =
                  try qe.analyzed.exists(_.sameResult(target))
                  catch { case _: Throwable => false }
                if (hit) {
                  if (debug) System.err.println(
                    s"[scoped-debug] matched-release rdds=${e.rdds.map(_._1).mkString(",")} " +
                      s"on event func=$funcName qeId=${qe.id}")
                  releaseEntry(e)
                }
            }
          }
        }
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          maybeRelease(funcName, qe)
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          maybeRelease(funcName, qe)
      }
      e.listener = listener
      df.sparkSession.listenerManager.register(listener)
      registry.add(e)
    }
    // Marker: one no-op action per session, POSTED after every listener
    // above registered. Its event's execution id is above every entry's
    // armedAfterId, so its delivery flips each listener live — and FIFO
    // delivery puts it ahead of any real consumer's event (the caller
    // can only run the consumer after this call returns). Without it, a
    // consumer action that reuses a pre-arm QueryExecution (collect() on
    // an already-built DF) would be mistaken for a stale queued event.
    // The marker must be a FRESH QueryExecution every call — NOT
    // spark.emptyDataFrame, which is a cached lazy val whose execution
    // id predates every entry (its event is itself filtered as stale and
    // flips nothing). An empty LocalRelation built here is fresh, and
    // collect() on it is a driver-local executeCollect: the listener
    // event posts WITHOUT launching a Spark job (a real job here cost
    // iterative queries seconds — one queued no-op job per released
    // checkpoint round).
    dfs.map(_.sparkSession).distinct.foreach { s =>
      try s.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Nil)).collect()
      catch { case scala.util.control.NonFatal(t) =>
        markerFailures.incrementAndGet()
        System.err.println(s"[scoped] marker action failed — listeners armed in this " +
          s"call stay deaf until the next post-arm event (possible deferred leak): $t")
      }
    }
    sweep()
    ()
  }
}
