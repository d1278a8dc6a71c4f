package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.{DigestOutputStream, MessageDigest}
import java.util.SplittableRandom

/** Shape of a generated wiki corpus (FIXTURES.md §2): `pages` pages titled
  * `p0…p(pages−1)`, bodies of `tokensPerPage` tokens on average drawn from a
  * `vocab`-word vocabulary, and out-degree ∝ 1/d on 1..maxOutDeg. */
final case class Shape(pages: Int, tokensPerPage: Int, vocab: Int, maxOutDeg: Int)

/** One query of the log: `ranked` selects `Search.searchRanked` (k = [[Gen.TopK]])
  * over `Search.search`. */
final case class Query(ranked: Boolean, terms: Seq[String])

/** The generated corpus, kept in memory as the model the oracle checks
  * against: `links(i)` holds page ids (≥ 0) and ghost ids (< 0), `words(i)`
  * holds vocabulary ranks. `df(r)` counts the pages whose body holds word r. */
final class Corpus(val shape: Shape, val links: Array[Array[Int]],
    val words: Array[Array[Int]]) {
  def pages: Int = shape.pages
  lazy val df: Array[Int] = {
    val out = new Array[Int](shape.vocab)
    val seen = new Array[Int](shape.vocab)
    java.util.Arrays.fill(seen, -1)
    var p = 0
    while (p < pages) {
      for (w <- words(p)) if (seen(w) != p) { seen(w) = p; out(w) += 1 }
      p += 1
    }
    out
  }
  def linkMentions: Long = links.iterator.map(_.length.toLong).sum
  def tokens: Long = words.iterator.map(_.length.toLong).sum
  def cutTerms: Int = df.count(_ >= Gen.DfCutoff)
}

/** Deterministic corpus and query-log generator: the same seed and shape
  * give the same pages and byte-identical files. */
object Gen {
  /** The index's stop-word cutoff (InvertedIndex.DefaultDfCutoff), restated
    * here so the bands come from the generator's own corpus. */
  val DfCutoff = 3000
  val TopK = 20
  val RareDf = 100
  val Bands = Seq("rare", "mid", "cut", "absent")
  /** Share of pages with no links at all, and of link mentions that name a
    * page that does not exist (FIXTURES.md §2). */
  val DanglingShare = 0.10
  val GhostShare = 0.05
  /** Zipf exponents of link targets (by page number) and of body words. */
  val TargetSkew = 0.8
  val WordSkew = 1.0

  /** Vocabulary word of rank r: the bijective base-26 numeral of r + 1 in
    * letters, so every word is one `[a-zA-Z]+` token and ranks never clash. */
  def word(r: Int): String = {
    val sb = new StringBuilder
    var n = r + 1
    while (n > 0) { n -= 1; sb.append(('a' + n % 26).toChar); n /= 26 }
    sb.reverse.toString
  }

  def title(p: Int): String = s"p$p"
  def ghost(g: Int): String = s"ghost$g"

  /** Inverse-CDF sampler over ranks 0..n−1 with weight 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val a = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1, s); a(r) = acc; r += 1 }
      a.map(_ / acc)
    }
    def draw(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def corpus(shape: Shape, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed)
    val deg = new Zipf(shape.maxOutDeg, 1.0)
    val target = new Zipf(shape.pages, TargetSkew)
    val vocab = new Zipf(shape.vocab, WordSkew)
    val links = new Array[Array[Int]](shape.pages)
    val words = new Array[Array[Int]](shape.pages)
    var p = 0
    while (p < shape.pages) {
      val d = if (rnd.nextDouble() < DanglingShare) 0 else 1 + deg.draw(rnd)
      links(p) = Array.fill(d) {
        if (rnd.nextDouble() < GhostShare) -1 - rnd.nextInt(1000)
        else target.draw(rnd)
      }
      val t = shape.tokensPerPage / 2 + rnd.nextInt(shape.tokensPerPage + 1)
      words(p) = Array.fill(t)(vocab.draw(rnd))
      p += 1
    }
    new Corpus(shape, links, words)
  }

  def line(c: Corpus, p: Int): String = {
    val sb = new StringBuilder
    sb.append("<title>").append(title(p)).append("</title>")
    for (l <- c.links(p)) sb.append(" [[").append(if (l >= 0) title(l) else ghost(-1 - l)).append("]]")
    sb.append(" <text>")
    val ws = c.words(p)
    var i = 0
    while (i < ws.length) { if (i > 0) sb.append(' '); sb.append(word(ws(i))); i += 1 }
    sb.append("</text>").toString
  }

  /** Writes the corpus one page per line; returns the file's SHA-256. */
  def write(c: Corpus, path: java.nio.file.Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DigestOutputStream(
      new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20), md)
    try {
      var p = 0
      while (p < c.pages) { out.write((line(c, p) + "\n").getBytes(UTF_8)); p += 1 }
    } finally out.close()
    md.digest().map("%02x".format(_)).mkString
  }

  def band(df: Int): String =
    if (df == 0) "absent" else if (df < RareDf) "rare" else if (df < DfCutoff) "mid" else "cut"

  /** Band mixes of 1–3 terms. Query q takes mix q mod 10 and is ranked when
    * q is odd, so every run sees the same mixes in the same mode. */
  val Mixes: Seq[Seq[String]] = Seq(Seq("mid"), Seq("rare"), Seq("cut"), Seq("absent"),
    Seq("mid", "rare"), Seq("mid", "cut"), Seq("rare", "absent"), Seq("mid", "mid"),
    Seq("rare", "mid", "cut"), Seq("mid", "rare", "absent"))

  /** `n` queries over the band mixes above. Within a band, each pick takes
    * the term at a df quantile that is the same for every seed, so a query's
    * cost barely depends on the seed; the term at that quantile does, as it
    * comes from the seed's corpus. A band the corpus leaves empty falls back
    * to the next one in [[Bands]]. Absent terms are words past the
    * vocabulary, which the corpus never holds. */
  def queries(c: Corpus, n: Int, seed: Long): IndexedSeq[Query] = {
    val quantiles = new SplittableRandom(0x5DEECE66DL)
    val absent = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val byBand: Map[String, IndexedSeq[Int]] =
      (0 until c.shape.vocab).groupBy(r => band(c.df(r))).map { case (b, rs) => b -> rs.sortBy(r => (c.df(r), r)) }
        .withDefaultValue(IndexedSeq.empty)
    def pick(b: String): String =
      if (b == "absent") word(c.shape.vocab + absent.nextInt(1000))
      else if (byBand(b).isEmpty) pick(Bands((Bands.indexOf(b) + 1) % Bands.size))
      else word(byBand(b)((quantiles.nextDouble() * byBand(b).size).toInt))
    (0 until n).map { q =>
      val picked = scala.collection.mutable.LinkedHashSet[String]()
      for (b <- Mixes(q % Mixes.size)) {
        var t = pick(b)
        while (picked.contains(t)) t = pick(b)
        picked += t
      }
      Query(ranked = q % 2 == 1, picked.toSeq)
    }
  }

  /** The query log as written for the program: one query per line,
    * `parity|ranked` then its terms, tab-separated. */
  def writeQueries(qs: Seq[Query], path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path,
      qs.map(q => ((if (q.ranked) "ranked" else "parity") +: q.terms).mkString("\t")).mkString("", "\n", "\n")
        .getBytes(UTF_8))
}
