package graft.perfbench

/** Independent correctness model, recomputed in plain Scala from the
  * generator's in-memory corpus and never from the engine's intermediates.
  * It restates the reference semantics the engine must keep: ghost links
  * dropped, duplicate links merged, dangling pages linking to a NULL vertex
  * that links to every page, initial rank 1.0, the pre-damping ⌊|Δ|·1000⌋
  * counter, the df ≥ 3000 cutoff and `0.5·tf·ln(N/df) + 0.5·pr` scoring. */
final class Oracle(c: Corpus) {
  val Tol = 1e-9
  private val k = c.pages
  private val nullId = k

  /** PageRank scalar model: (iterations, ranks indexed by page id, NULL last). */
  lazy val pagerank: (Int, Array[Double]) = {
    val adj = c.links.map(_.filter(_ >= 0).distinct)
    val n = k + 1
    var pr = Array.fill(n)(1.0)
    var i = 0
    var continue = true
    while (continue) {
      i += 1
      val mass = new Array[Double](n)
      var p = 0
      while (p < k) {
        val out = adj(p)
        if (out.isEmpty) mass(nullId) += pr(p)
        else { val share = pr(p) / out.length; out.foreach(d => mass(d) += share) }
        p += 1
      }
      val nullShare = pr(nullId) / k
      p = 0
      while (p < k) { mass(p) += nullShare; p += 1 }
      val counter = mass.iterator.map(m => math.floor(math.abs(m) * 1000).toLong).sum
      val avg = counter.toDouble / n / 1000.0
      pr = mass.map(m => 0.15 / n + 0.85 * m)
      continue = i < 50 && (i < 10 || avg > 0.2)
    }
    (i, pr)
  }

  def rank(title: String): Double =
    pagerank._2(if (title == "NULL") nullId else title.drop(1).toInt)

  /** Mismatches between the engine's `pr` table and the model. */
  def checkRanks(got: Map[String, Double]): Seq[String] = {
    val want = (0 until k).map(Gen.title) :+ "NULL"
    val missing = want.filterNot(got.contains)
    val extra = got.keySet -- want
    val off = want.filter(got.contains).filter(t => math.abs(got(t) - rank(t)) > Tol)
    Seq(
      if (missing.nonEmpty) Some(s"pr: ${missing.size} vertices missing, e.g. ${missing.head}") else None,
      if (extra.nonEmpty) Some(s"pr: ${extra.size} unexpected vertices, e.g. ${extra.head}") else None,
      if (off.nonEmpty) Some(s"pr: ${off.size} ranks off by > $Tol, e.g. ${off.head} " +
        s"got ${got(off.head)} want ${rank(off.head)}") else None).flatten
  }

  private lazy val rankByWord: Map[String, Int] =
    (0 until c.shape.vocab).map(r => Gen.word(r) -> r).toMap

  /** df of `term` in the corpus (0 when absent). */
  def df(term: String): Int = rankByWord.get(term).map(c.df(_)).getOrElse(0)
  def indexed(term: String): Boolean = { val d = df(term); d > 0 && d < Gen.DfCutoff }

  /** (term count, Σ df) of the cut index. */
  lazy val indexShape: (Int, Long) = {
    val kept = c.df.filter(d => d > 0 && d < Gen.DfCutoff)
    (kept.length, kept.iterator.map(_.toLong).sum)
  }

  /** Mismatches between the engine's `ii` (term → df) and the model, checked
    * on the term count, Σ df, and the df of every term of the query log. */
  def checkIndex(got: Map[String, Int], queryTerms: Set[String]): Seq[String] = {
    val (terms, sumDf) = indexShape
    val gotSum = got.valuesIterator.map(_.toLong).sum
    val badTerms = queryTerms.toSeq.sorted.filter { t =>
      if (indexed(t)) !got.get(t).contains(df(t)) else got.contains(t)
    }
    Seq(
      if (got.size != terms) Some(s"ii: ${got.size} terms, want $terms") else None,
      if (gotSum != sumDf) Some(s"ii: Σdf $gotSum, want $sumDf") else None,
      if (badTerms.nonEmpty) Some(s"ii: ${badTerms.size} query terms with a wrong df, e.g. " +
        s"${badTerms.head} got ${got.get(badTerms.head)} want ${df(badTerms.head)}") else None).flatten
  }

  /** Rows a parity query returns: one per posting of each indexed term. */
  def parityRows(q: Query): Long = q.terms.filter(indexed).map(df(_).toLong).sum

  /** tf of each page holding one of `terms`, for every such term. */
  def termFrequencies(terms: Set[String]): Map[String, Map[Int, Int]] = {
    val wanted = terms.filter(indexed).map(t => rankByWord(t) -> t).toMap
    val out = wanted.values.map(_ -> scala.collection.mutable.Map[Int, Int]()).toMap
    var p = 0
    while (p < k) {
      for (w <- c.words(p)) wanted.get(w).foreach(t => out(t)(p) = out(t).getOrElse(p, 0) + 1)
      p += 1
    }
    out.map { case (t, m) => t -> m.toMap }
  }

  /** The expected ranked scores of every page the query hits. */
  def rankedScores(q: Query, tfs: Map[String, Map[Int, Int]]): Map[String, Double] = {
    val acc = scala.collection.mutable.Map[String, Double]()
    for (t <- q.terms if indexed(t); (p, tf) <- tfs(t)) {
      val s = 0.5 * (tf * math.log(k.toDouble / df(t))) + 0.5 * pagerank._2(p)
      acc(Gen.title(p)) = acc.getOrElse(Gen.title(p), 0.0) + s
    }
    acc.toMap
  }

  /** Mismatches of a ranked top-k answer: its size, each score, its order,
    * and that no page scoring clearly above the k-th score is missing.
    * Pages within [[Tol]] of the k-th score may trade places. */
  def checkRanked(q: Query, got: Seq[(String, Double)],
      tfs: Map[String, Map[Int, Int]]): Option[String] = {
    val want = rankedScores(q, tfs)
    val top = want.toSeq.sortBy { case (t, s) => (-s, t) }.take(Gen.TopK)
    val kth = top.lastOption.map(_._2).getOrElse(Double.NegativeInfinity)
    val badScore = got.find { case (t, s) => !want.get(t).exists(w => math.abs(w - s) <= Tol) }
    val unordered = got.sliding(2).exists {
      case Seq((_, a), (_, b)) => b > a + Tol
      case _ => false
    }
    val missing = top.filter(_._2 > kth + Tol).map(_._1).filterNot(got.map(_._1).toSet)
    if (got.size != top.size) Some(s"ranked ${q.terms.mkString(" ")}: ${got.size} rows, want ${top.size}")
    else if (badScore.nonEmpty) Some(s"ranked ${q.terms.mkString(" ")}: ${badScore.get} scores " +
      s"${want.get(badScore.get._1)} in the model")
    else if (unordered) Some(s"ranked ${q.terms.mkString(" ")}: not in score order")
    else if (missing.nonEmpty) Some(s"ranked ${q.terms.mkString(" ")}: missing ${missing.head}")
    else None
  }
}
