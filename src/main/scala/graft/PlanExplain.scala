package graft

/** Writes `.explain("formatted")` output for the named catalog queries to
  * individual files — the per-round optimization evidence trail
  * (`plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: `sbt "runMain graft.PlanExplain <outDir> <suffix> <q1,q2,...> [sfDir]"`
  * e.g.   `sbt "runMain graft.PlanExplain plans/r21 before q248_trimmed_winsorized"`
  */
object PlanExplain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanExplain <outDir> <suffix> <q1,q2,...> [sfDir]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    java.nio.file.Files.createDirectories(outDir)
    val spark = Session.build(cpus = 4, logLevel = "ERROR")
    names.foreach { n =>
      // pseudo-name for q252's pre-checkpoint seam: the catalog frame sits
      // above a localCheckpoint, so the Generate shape the explodeLean rule
      // governs is only visible on the seam (VERDICT r21 #7)
      val df = if (n == "q252_pre_checkpoint")
        graft.queries.DedupSim.q252SourceShingles(spark, dir)
      else SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote ${outDir.resolve(s"${n}_$suffix.txt")}")
    }
    spark.stop()
  }
}
