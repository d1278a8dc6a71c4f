package graft

/** Pins q210's small-range linear-counting branch LIVE (VERDICT r17 #2):
  * the oracle gate's fixture sources sit far above the 2.5·m = 640 branch
  * point, so the branch is dormant there; this spec drives the SAME
  * catalog entry over a crafted corpus where the branch must fire — and
  * where linear counting is EXACT for a collision-free register set —
  * plus a large source where the raw harmonic path must be taken
  * unchanged.
  */
class LogLogSmallRangeSpec extends SparkSpec {

  private val C = 1579498136381.3938 // q210's 0.7213/(1+1.079/256) * 2^41

  test("q210 linear-counting branch fires and is exact in the small range") {
    import spark.implicits._
    val letters = ('a' to 'z').map(_.toString)
    val bigToks = (for { a <- letters; b <- letters; c <- letters }
      yield s"$a$b$c").take(2000)
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha", "tiny"),
      (2L, bigToks.mkString(" "), "big"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-loglog").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q210_loglog_registers")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    val (nTiny, mTiny, sTiny, estTiny) = rows("tiny")
    assert(nTiny === 3L)
    // the branch must have FIRED: the raw harmonic estimate at this
    // register state is two orders of magnitude above the truth, so
    // keeping it would be detected
    val rawTiny = C / sTiny.toDouble
    assert(rawTiny <= 640.0 && mTiny < 256L, "small-range precondition")
    assert(math.floor(rawTiny + 0.5).toLong !== estTiny,
      "the raw estimate was kept — the linear-counting branch did not fire")
    // 3 tokens landing in 3 distinct registers (deterministic md5
    // placement on this vocabulary) ⇒ linear counting is exact:
    // round(256·ln(256/253)) = 3
    assert(mTiny === 3L, "crafted tokens must occupy distinct registers")
    assert(estTiny === nTiny,
      s"linear counting must be exact on a collision-free set, got $estTiny")

    val (nBig, _, sBig, estBig) = rows("big")
    assert(nBig === 2000L)
    val rawBig = C / sBig.toDouble
    assert(rawBig > 640.0, "big source must sit above the branch point")
    assert(estBig === math.floor(rawBig + 0.5).toLong,
      "raw harmonic path must be unchanged by the branch")
  }
}
