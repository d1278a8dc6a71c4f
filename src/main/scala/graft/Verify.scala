package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) =
      cli.Cli.orExit(cli.Cli.twoArgs(args, "usage: Verify <sfDir> <outDir>"))
    val only = SparkEntry.onlyFromEnv("verify")
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    // queries are independent — run 4 at a time so Spark's scheduler
    // overlaps their stages (FIFO pools; local[] has the cores to spare)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failures.add(s"[verify] $name failed: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // failure summary LAST, on stdout AND stderr: sbt -batch folds the
    // forked process's stderr into its own stdout tagged [error], so a
    // stderr-only, mid-run message can be lost by stream-filtering
    // wrappers (check.py keeps the stdout TAIL + a grep over stderr; a
    // q112 race once surfaced as a bare NO SPARK OUTPUT with no cause)
    failures.forEach { m => println(m); System.err.println(m) }
    println(s"[verify] done: ${futures.size - failures.size}/${futures.size} ok")
    // also persist failures: wrappers that keep only a stdout tail lose
    // the lines above when late WARNs interleave — the file survives
    try {
      val fs = new java.io.PrintWriter(s"$outDir/failures.txt")
      try failures.forEach(fs.println) finally fs.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
