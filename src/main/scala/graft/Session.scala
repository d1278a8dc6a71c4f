package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's SparkSession is configured. Every main (the
  * CLI, Bench, Verify, PlanDump, PlanExplain) and the spec harness build
  * their session here, so the config below cannot drift between them, and
  * every one of them resolves graft's SQL functions (`cosine_sim`,
  * `srp_cell`, `l2_sq`, `gram_hash60`). */
object Session {

  /** A session on `local[cpus]` (or `SPARK_MASTER` when set) with one shuffle
    * partition per core. `cpus` defaults to `SPARK_GRAFT_CPUS` (else 32),
    * the CLI/Bench/Verify setting. */
  def build(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      logLevel: String = "WARN"): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // ns-as-long support if a TIMESTAMP(NANOS) events fixture returns
      // (encoding has flipped across regenerations; harmless on µs files)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // UTC pin (ADVICE r10): timestamp-epoch arithmetic and calendar
      // rendering must not depend on the host timezone
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    // idempotent: also covers a live session that getOrCreate handed back
    graft.functions.GraftFunctions.register(s)
    s
  }
}
