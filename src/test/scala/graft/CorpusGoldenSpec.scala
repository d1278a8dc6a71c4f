package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.corpus.WikiCorpus
import graft.graph.GraphBuilder
import graft.index.InvertedIndex
import graft.pagerank.PageRank
import graft.search.Search

/** Golden 3-doc corpus (FIXTURES.md §1a, from the reference's worked
  * example /root/reference/README.md:169-173) driven end-to-end: ingest →
  * graph → PageRank → index → search. Asserts the CODE semantics of the
  * reference (SURVEY.md §1.4), not the README's diverging variant. */
class CorpusGoldenSpec extends SparkSpec {

  val doc1 = "<title>1</title> [[2]] [[4]] <text>alpha beta gamma</text>"
  val doc2 = "<title>2</title> [[1]] [[3]] <text>beta beta delta</text>"
  val doc3 = "<title>4</title> <text>gamma epsilon</text>"
  val corpus = Seq(doc1, doc2, doc3)

  lazy val corpusPath: String = {
    val f = Files.createTempFile("golden", ".txt")
    Files.writeString(f, corpus.mkString("\n") + "\n")
    f.toString
  }

  lazy val docs = WikiCorpus.ingest(spark, corpusPath).cache()

  test("S1: line byte offsets are real file offsets") {
    val offs = docs.select("title", "line_offset").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(offs("1") === 0L)
    assert(offs("2") === doc1.getBytes("UTF-8").length + 1L)
    assert(offs("4") === doc1.getBytes("UTF-8").length + doc2.getBytes("UTF-8").length + 2L)
  }

  test("P1/P2: titles and links extracted, trimmed") {
    val rows = docs.select("title", "links").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(rows.keySet === Set("1", "2", "4"))
    assert(rows("1") === Seq("2", "4"))
    assert(rows("2") === Seq("1", "3")) // raw links, pre-filter
    assert(rows("4") === Seq())
  }

  test("P3/P4: token offsets index back into the line") {
    val occ = InvertedIndex.occurrences(docs).collect()
    assert(occ.nonEmpty)
    val lineOf = corpus.map(l => WikiCorpus
      .extractBody(l).map(_ => l).getOrElse(l))
    val byTitle = docs.select("title", "line").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    occ.foreach { r =>
      val (term, title, charOff) =
        (r.getString(0), r.getString(1), r.getLong(3).toInt)
      val line = byTitle(title)
      assert(line.substring(charOff, charOff + term.length) === term,
        s"offset $charOff of '$term' in $title")
    }
  }

  test("J1/A1: graph shape — dead links dropped, NULL wiring, init 1.0") {
    val g = GraphBuilder.build(
      docs.select(col("title"), col("links"))).collect()
    val adj = g.map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(adj("1") === Seq("2", "4"))
    assert(adj("2") === Seq("1")) // link to non-existent 3 dropped
    assert(adj("4") === Seq(GraphBuilder.NullVertex)) // dangling
    assert(adj(GraphBuilder.NullVertex) === Seq("1", "2", "4"))
    assert(g.map(_.getDouble(2)).forall(_ === 1.0))
  }

  /** Scalar model of the exact update rule + loop policy (SURVEY §1.4
    * #4–#6): pr' = α/N + (1−α)·mass. The reference's structure record is
    * emitted with rank 0 (pageRank.scala:280), so its Δ counter accumulates
    * ⌊|mass|·1000⌋ — pre-damping mass, prev implicitly 0 — not a true
    * change. counter Σ⌊|mass|·1000⌋, avg = Σ/N/1000, loop while i<10 ∥
    * avg>0.2, cap 50. */
  def scalarPageRank(adj: Map[String, Seq[String]], alpha: Double = 0.15,
      minIter: Int = 10, tol: Double = 0.2, maxIter: Int = 50)
      : (Map[String, Double], Int) = {
    val n = adj.size
    var pr = adj.keys.map(_ -> 1.0).toMap
    var i = 0
    var continue = true
    while (continue) {
      i += 1
      val mass = scala.collection.mutable.Map[String, Double]()
        .withDefaultValue(0.0)
      for ((src, links) <- adj; dst <- links)
        mass(dst) += pr(src) / links.size
      // .iterator: adj.keys is a Set — mapping on it would collapse
      // vertices with EQUAL floor values into one summand (symmetric
      // vertices carry identical mass), understating the counter
      val counter = adj.keys.iterator.map(t =>
        math.floor(math.abs(mass(t)) * 1000).toLong).sum
      val avg = counter.toDouble / n / 1000.0
      pr = adj.keys.map(t => t -> (alpha / n + (1 - alpha) * mass(t))).toMap
      continue = i < maxIter && (i < minIter || avg > tol)
    }
    (pr, i)
  }

  test("A3-A5/I2: PageRank matches the scalar model exactly") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val res = PageRank.run(g0)
    val adj = Map("1" -> Seq("2", "4"), "2" -> Seq("1"),
      "4" -> Seq("NULL"), "NULL" -> Seq("1", "2", "4"))
    val (expected, expIters) = scalarPageRank(adj)
    assert(res.iterations === expIters)
    val got = res.graph.select("title", "pr").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (t, pr) =>
      assert(math.abs(pr - expected(t)) < 1e-9, s"pr($t)")
    }
  }

  // Non-policy tests run a short fixed-length loop (minIter = maxIter = 5):
  // with the reference's |mass| metric this 4-vertex graph never drops
  // under tol (avg → total_mass/N = 0.25 > 0.2), so a default run always
  // burns the full 50-iteration cap — pointless for tests that only need
  // *some* consistent fixpoint state.
  private def shortRun(g0: org.apache.spark.sql.DataFrame) =
    PageRank.run(g0, minIter = 5, maxIter = 5)

  test("T1: ranked output is a global (pr DESC, title ASC) order") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val ranked = PageRank.ranked(shortRun(g0).graph)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val resorted = ranked.sortBy { case (t, pr) => (-pr, t) }
    assert(ranked.toSeq === resorted.toSeq)
  }

  test("A6/A7/P5: inverted index postings, tf, df, title order") {
    val ii = InvertedIndex.build(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // beta: docs 1 (tf=1) and 2 (tf=2), df=2, postings title-sorted
    val beta = ii("beta")
    assert(beta.getInt(1) === 2)
    val postings = beta.getSeq[org.apache.spark.sql.Row](2)
    assert(postings.map(_.getString(0)) === Seq("1", "2"))
    assert(postings.map(_.getInt(1)) === Seq(1, 2))
    // doc 2's two beta occurrences keep document order
    val ofs2 = postings(1).getSeq[org.apache.spark.sql.Row](2)
    assert(ofs2.length === 2)
    assert(ofs2(0).getLong(1) < ofs2(1).getLong(1))
    assert(ii("gamma").getInt(1) === 2)
    assert(ii("epsilon").getInt(1) === 1)
    assert(!ii.contains("title")) // markup is not body text
  }

  test("P5: df cutoff drops frequent terms") {
    val ii = InvertedIndex.build(docs, dfCutoff = 2)
      .collect().map(_.getString(0)).toSet
    assert(!ii.contains("beta")) // df=2 ≥ cutoff 2
    assert(ii.contains("delta")) // df=1
  }

  test("J2/F4/F5/F9: search scores and snippets (parity order)") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val pr = shortRun(g0).graph.select("title", "pr")
    val ii = InvertedIndex.build(docs)
    val hits = Search.search(spark, Seq("beta", "gamma"), docCount = 4,
      ii, pr, docs.select("title", "line")).collect()
    // parity order: term input order, then posting (title) order
    assert(hits.map(r => (r.getString(0), r.getString(3))).toSeq ===
      Seq(("beta", "1"), ("beta", "2"), ("gamma", "1"), ("gamma", "4")))
    val prMap = pr.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val beta2 = hits.find(r => r.getString(0) == "beta" && r.getString(3) == "2").get
    val expScore = 0.5 * (2 * math.log(4.0 / 2)) + 0.5 * prMap("2")
    assert(math.abs(beta2.getDouble(7) - expScore) < 1e-12)
    // snippets contain the term and respect the [off-20, off+30) window
    hits.foreach { r =>
      val snips = r.getSeq[String](8)
      assert(snips.nonEmpty)
      snips.foreach(sn => assert(sn.contains(r.getString(0)) && sn.length <= 50))
    }
  }

  test("F9: snippet window [off−20, off+30) clips like Scala slice at both line edges") {
    import spark.implicits._
    // crafted 104-char line with controlled occurrence offsets: 5 (start
    // clip: fewer than 20 chars before the occurrence), 40 (full ±20/+30
    // window), 90 (end clip: fewer than 30 chars after)
    val line = ('a' to 'z').mkString * 4
    val terms = Seq(("tstart", 5), ("tmid", 40), ("tend", 90))
    val docsDf = Seq(("D", line)).toDF("title", "line")
    val prDf = Seq(("D", 0.5)).toDF("title", "pr")
    val indexDf = terms.toDF("term", "off")
      .select(col("term"), lit(1).as("df"),
        array(struct(lit("D").as("title"), lit(1).as("tf"),
          array(struct(lit(0L).as("line_off"),
            col("off").cast("long").as("char_off"))).as("ofs"))).as("postings"))
    val hits = Search.search(spark, terms.map(_._1), 4, indexDf, prDf, docsDf)
      .collect().map(r => r.getString(0) -> r.getSeq[String](8).head).toMap
    // the reference's exact semantics (Query.scala:100): line.slice(off−20, off+30)
    terms.foreach { case (t, off) =>
      assert(hits(t) === line.slice(off - 20, off + 30), s"term $t off $off")
    }
    assert(hits("tstart") === line.substring(0, 35)) // clipped at 0, NOT shifted right
    assert(hits("tmid").length === 50)               // full window only mid-line
    assert(hits("tend") === line.substring(70))      // runs to line end: 34 chars
  }

  test("quantize snaps every iteration's rank to the 1/s grid, within 5e-9 of the scalar model") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val res = PageRank.run(g0, minIter = 5, maxIter = 5, quantize = Some(1e9))
    assert(res.iterations === 5)
    val (expected, _) = scalarPageRank(Map("1" -> Seq("2", "4"), "2" -> Seq("1"),
      "4" -> Seq("NULL"), "NULL" -> Seq("1", "2", "4")), minIter = 5, maxIter = 5)
    val got = res.graph.select("title", "pr").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (t, pr) =>
      val scaled = pr * 1e9
      assert(math.abs(scaled - math.rint(scaled)) < 1e-6, s"pr($t) = $pr is off the 1e-9 grid")
      assert(math.abs(pr - expected(t)) < 5e-9, s"pr($t)")
    }
    res.release()
  }

  test("each iteration checkpoints title, links, pr only (delta is dropped before the checkpoint)") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val res = shortRun(g0)
    val leaves = res.graph.queryExecution.analyzed.collectLeaves()
      .collect { case l: org.apache.spark.sql.execution.LogicalRDD => l }
    assert(leaves.size === 1)
    assert(leaves.head.output.map(_.name) === Seq("title", "links", "pr"))
    res.release()
  }

  test("reliable checkpointing yields the identical fixpoint") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val local = shortRun(g0)
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val reliable = PageRank.run(g0, minIter = 5, maxIter = 5,
      checkpointDir = Some(dir))
    assert(reliable.iterations === local.iterations)
    val a = local.graph.select("title", "pr").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val b = reliable.graph.select("title", "pr").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(a === b)
    // the checkpoint actually hit disk
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("extension: ranked multi-term search dedups titles, sums scores") {
    val g0 = GraphBuilder.build(docs.select(col("title"), col("links")))
    val pr = shortRun(g0).graph.select("title", "pr")
    val ii = InvertedIndex.build(docs)
    val ranked = Search.searchRanked(spark, Seq("beta", "gamma"), 4,
      ii, pr, docs.select("title", "line"), k = 10).collect()
    // title 1 matches both terms → one row with both scores summed
    assert(ranked.map(_.getString(0)).distinct.length === ranked.length)
    val row1 = ranked.find(_.getString(0) == "1").get
    assert(row1.getInt(2) === 2)
    // scores strictly descending (ties broken by title)
    val scores = ranked.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted.reverse)
  }
}
