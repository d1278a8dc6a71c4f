package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.corpus.WikiCorpus
import graft.graph.GraphBuilder
import graft.index.InvertedIndex
import graft.pagerank.PageRank
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY.md §5.3) — raw ScalaCheck generators
  * with a deterministic seed sweep (the scalatest+scalacheck bridge
  * artifact isn't available offline). Spark properties run on small
  * generated graphs/corpora; pure-function properties need no session. */
class PropertySpec extends SparkSpec {

  /** Deterministic forAll: evaluate `f` on `n` seeded samples of `gen`. */
  def forAll[A](gen: Gen[A], n: Int = 20)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))
        .foreach(a => try f(a) catch {
          case e: Throwable =>
            throw new AssertionError(s"property failed for seed=$i input=$a", e)
        })
    }

  // ---- tokenizer offsets always index back into the line (pure function)
  val lineGen: Gen[String] = for {
    n <- Gen.choose(0, 8)
    words <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "Gamma", "x9y", "Q",
      "[[z]]", "<b>", "...", "a b"))
  } yield s"<title>t</title> <text>${words.mkString(" ")}</text>"

  test("tokenize: every offset satisfies line.substring(off, off+len) == term") {
    forAll(lineGen) { line =>
      WikiCorpus.extractBody(line).foreach { case (off, body) =>
        WikiCorpus.tokenize(body, off).foreach { case (term, charOff) =>
          assert(line.substring(charOff, charOff + term.length) == term)
        }
      }
    }
  }

  // ---- NULL-closed graph invariants on random adjacency inputs
  val docsGen: Gen[Map[String, Seq[String]]] = for {
    n <- Gen.choose(1, 12)
    titles = (0 until n).map(i => s"p$i")
    linkCounts <- Gen.listOfN(n, Gen.choose(0, 6))
    flat <- Gen.listOfN(linkCounts.sum, Gen.oneOf(titles ++ Seq("ghost1", "ghost2")))
  } yield {
    val it = flat.iterator
    titles.zip(linkCounts.map(c => Seq.fill(c)(it.next()))).toMap
  }

  test("graph build: every vertex has ≥1 out-link; no edges to non-pages") {
    forAll(docsGen) { docs =>
      import spark.implicits._
      val df = docs.toSeq.toDF("title", "links")
      val g = GraphBuilder.build(df).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val pages = docs.keySet
      assert(g.keySet === pages + GraphBuilder.NullVertex)
      g.foreach { case (t, links) =>
        assert(links.nonEmpty, s"$t has no out-links")
        if (t == GraphBuilder.NullVertex)
          assert(links.toSet === pages)
        else {
          assert(links.forall(l => pages.contains(l) || l == GraphBuilder.NullVertex))
          // NULL appears only as the SOLE link (dangling page)
          if (links.contains(GraphBuilder.NullVertex)) assert(links === Seq(GraphBuilder.NullVertex))
        }
      }
    }
  }

  test("pagerank step: total mass = α + (1−α)·(previous total)") {
    forAll(docsGen) { docs =>
      import spark.implicits._
      val df = docs.toSeq.toDF("title", "links")
      val g = GraphBuilder.build(df)
      val n = g.count()
      val before = g.agg(sum("pr")).head().getDouble(0)
      val after = PageRank.step(g, n).agg(sum("pr")).head().getDouble(0)
      // every vertex's mass flows somewhere (graph is NULL-closed), so
      // Σpr' = N·α/N + (1−α)·Σpr
      assert(math.abs(after - (0.15 + 0.85 * before)) < 1e-6,
        s"mass $before -> $after (n=$n)")
    }
  }

  // ---- index invariants on random mini-corpora; titles come from a small
  // set, so one title often spans several lines (the reference merges them)
  val corpusGen: Gen[Seq[String]] = for {
    n <- Gen.choose(1, 6)
    titles <- Gen.listOfN(n, Gen.oneOf("d0", "d1", "d2"))
    bodies <- Gen.listOfN(n, Gen.listOf(
      Gen.oneOf("aa", "bb", "cc", "dd")).map(_.take(8)))
  } yield titles.zip(bodies).map { case (t, ws) =>
    s"<title>$t</title> <text>${ws.mkString(" ")}</text>"
  }

  test("index: df == postings length; tf == occurrence count; order-insensitive") {
    forAll(corpusGen) { corpus =>
      import spark.implicits._
      val lines = corpus.zipWithIndex
        .map { case (l, i) => (i.toLong * 100, l) }.toDF("line_offset", "line")
      val docs = WikiCorpus.parse(lines)
      val ii = InvertedIndex.build(docs).collect()
      ii.foreach { r =>
        val term = r.getString(0)
        val df = r.getInt(1)
        val postings = r.getSeq[org.apache.spark.sql.Row](2)
        assert(df === postings.length)
        postings.foreach { p =>
          val (title, tf) = (p.getString(0), p.getInt(1))
          val expected = corpus.filter(_.contains(s"<title>$title</title>"))
            .flatMap(WikiCorpus.extractBody)
            .map { case (o, b) => WikiCorpus.tokenize(b, o).count(_._1 == term) }.sum
          assert(tf === expected, s"tf($term, $title)")
          val ofs = p.getSeq[org.apache.spark.sql.Row](2).map(o => (o.getLong(0), o.getLong(1)))
          assert(ofs.length === tf)
          assert(ofs === ofs.sorted, s"ofs($term, $title) in (line_off, char_off) order")
        }
        // postings sorted by title (reference secondary sort)
        assert(postings.map(_.getString(0)) === postings.map(_.getString(0)).sorted)
      }
      // shuffled input yields the identical index (A6/A7 permutation-invariance)
      val shuffled = scala.util.Random.shuffle(corpus.zipWithIndex.toList)
        .map { case (l, i) => (i.toLong * 100, l) }.toDF("line_offset", "line")
      val ii2 = InvertedIndex.build(WikiCorpus.parse(shuffled)).collect()
      def canon(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getString(0), r.getInt(1),
          r.getSeq[org.apache.spark.sql.Row](2).map(p =>
            (p.getString(0), p.getInt(1))))).sortBy(_._1).toSeq
      assert(canon(ii) === canon(ii2))
    }
  }

  // ---- SRP quantizer: the codegen'd expression agrees with the
  // driver-side scalar model on arbitrary vectors (not just fixtures)
  val vecGen: Gen[List[Float]] =
    Gen.listOfN(64, Gen.choose(-4.0f, 4.0f))

  test("srp_cell: fused expression == driver-side cellOf on random vectors") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    forAll(vecGen, n = 10) { vec =>
      val got = Seq(Tuple1(vec)).toDF("embedding")
        .selectExpr("srp_cell(embedding, 8, 64) AS c").head().getInt(0)
      assert(got === graft.similarity.Ivf.cellOf(vec))
    }
  }

  test("int8 quantization: zero vector quantizes to all-zero codes, not NaN casts") {
    import spark.implicits._
    val codes = Seq(Tuple1(List.fill(8)(0.0f))).toDF("embedding")
      .withColumn("amax", org.apache.spark.sql.functions.expr(
        "aggregate(embedding, cast(0.0 as double), (m, x) -> greatest(m, abs(cast(x as double))))"))
      .withColumn("scale", org.apache.spark.sql.functions.col("amax") / 127.0)
      .selectExpr("transform(embedding, x -> IF(amax = 0.0D, 0L, " +
        "cast(floor(cast(x as double) / scale + 0.5) as bigint))) AS q")
      .head().getSeq[Long](0)
    assert(codes.length === 8 && codes.forall(_ === 0L))
  }

  test("int8 quantization: reconstruction error ≤ scale/2, codes in [-127, 127]") {
    import spark.implicits._
    forAll(vecGen, n = 10) { vec =>
      val amax = vec.map(v => math.abs(v.toDouble)).max
      whenever(amax > 0) {
        val scale = amax / 127.0
        val rows = Seq(Tuple1(vec)).toDF("embedding")
          .selectExpr(
            "transform(embedding, x -> cast(floor(cast(x as double) / " +
              s"$scale + 0.5) as bigint)) AS q")
          .head().getSeq[Long](0)
        rows.zip(vec).foreach { case (q, x) =>
          assert(q >= -127 && q <= 127, s"code $q out of int8 symmetric range")
          assert(math.abs(q * scale - x) <= scale / 2 + 1e-12,
            s"reconstruction error for $x at scale $scale")
        }
      }
    }
  }

  // ---- q111's content-defined chunking: scalar model of the Spark/SQL
  // boundary formula (4-char polynomial window, boundary where h % 64 == 0
  // at 1-based position p in [4, L))
  private def cdcChunks(text: String): Seq[String] = {
    val L = text.length
    val cs = text.map(_.toInt)
    val bs = (4 until L).filter { p =>
      val h = (((cs(p - 4) * 31L + cs(p - 3)) * 31 + cs(p - 2)) * 31 + cs(p - 1)) % 1048576
      h % 64 == 0
    }
    val bnds = (0 +: bs) :+ L
    bnds.sliding(2).collect { case Seq(p, q) if q > p => text.substring(p, q) }.toSeq
  }

  val cdcTextGen: Gen[(String, String)] = for {
    n <- Gen.choose(30, 200)
    body <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd', 'e', ' '))
    m <- Gen.choose(1, 10)
    pfx <- Gen.listOfN(m, Gen.oneOf('x', 'y', 'z', ' '))
  } yield (body.mkString, pfx.mkString)

  test("CDC chunking: partition totality + boundary re-synchronization under prefix insertion") {
    forAll(cdcTextGen, n = 50) { case (text, pfx) =>
      val orig = cdcChunks(text)
      // the chunks partition the text exactly
      assert(orig.mkString === text)
      // a prefix insertion only perturbs chunks up to the FIRST original
      // boundary: every interior window of `text` reappears intact in the
      // prefixed copy, so all later boundaries (and chunks) re-synchronize
      val shifted = cdcChunks(pfx + text)
      assert(shifted.mkString === pfx + text)
      if (orig.size > 1) {
        val tail = orig.drop(1)
        assert(shifted.takeRight(tail.size) === tail,
          s"post-boundary chunks must survive the shift (orig=$orig shifted=$shifted)")
      }
    }
  }

  // ---- BPE merge application (q116): the Spark fold, an index-scan
  // greedy reference, and the DuckDB oracle's gaps-and-islands parity
  // rule must agree on every word — the cross-engine contract that lets
  // the oracle apply the merge with window functions while Spark uses a
  // map-only fold
  val bpeGen: Gen[(String, String, String)] = for {
    n <- Gen.choose(2, 12)
    w <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))
    s1 <- Gen.oneOf("a", "b", "c")
    s2 <- Gen.oneOf("a", "b", "c")
  } yield (w.mkString, s1, s2)

  test("bpe apply: Spark fold == greedy LTR reference == oracle parity rule") {
    import spark.implicits._
    def greedy(tok: String, s1: String, s2: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < tok.length) {
        if (i + 1 < tok.length && tok(i).toString == s1 && tok(i + 1).toString == s2) {
          out += s1 + s2; i += 2
        } else { out += tok(i).toString; i += 1 }
      }
      out.toSeq
    }
    def parity(tok: String, s1: String, s2: String): Seq[String] = {
      // 1-based match positions, islands of consecutive ints, keep
      // (p - island_min) even — exactly the oracle's keep CTE
      val ms = (1 until tok.length)
        .filter(p => tok(p - 1).toString == s1 && tok(p).toString == s2)
      val kept = scala.collection.mutable.Set[Int]()
      var idx = 0
      while (idx < ms.length) {
        var j = idx
        while (j + 1 < ms.length && ms(j + 1) == ms(j) + 1) j += 1
        var p = ms(idx) // island [ms(idx)..ms(j)]: keep 0th, 2nd, ...
        while (p <= ms(j)) { kept += p; p += 2 }
        idx = j + 1
      }
      (1 to tok.length).flatMap { i =>
        if (kept.contains(i - 1)) None
        else if (kept.contains(i)) Some(s1 + s2)
        else Some(tok(i - 1).toString)
      }
    }
    val buf = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    forAll(bpeGen, n = 80)(t => buf += t)
    val got = buf.toSeq.toDF("tok", "s1", "s2")
      .withColumn("syms", expr(
        """aggregate(
             transform(sequence(1, length(tok)), i -> substring(tok, i, 1)),
             cast(array() as array<string>),
             (acc, c) -> if(size(acc) > 0 AND element_at(acc, -1) = s1 AND c = s2,
               concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))),
               concat(acc, array(c))))"""))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getSeq[String](3)))
    got.foreach { case (tok, s1, s2, syms) =>
      assert(syms.mkString === tok, s"merge must preserve the word ($tok, $s1$s2)")
      assert(syms === greedy(tok, s1, s2), s"fold != greedy for ($tok, $s1, $s2)")
      assert(syms === parity(tok, s1, s2), s"fold != parity for ($tok, $s1, $s2)")
    }
  }

  test("CDC chunk hashes: the Spark zip_with pipeline == the scalar model") {
    import spark.implicits._
    import graft.queries.DedupSim
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    forAll(cdcTextGen, n = 40) { case (text, pfx) => buf += text; buf += (pfx + text) }
    val docs = buf.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = DedupSim.cdcChunkHashArray(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    buf.toSeq.zipWithIndex.foreach { case (text, i) =>
      val expected = cdcChunks(text).filter(_.length >= 16).map(md5hex).distinct
      assert(got(i.toLong) === expected,
        s"chunk hashes diverge from the scalar model for text #$i (${text.take(40)}...)")
    }
    // non-vacuous: any text >= 16 chars yields at least the whole-text chunk
    assert(buf.zipWithIndex.exists { case (t, i) => t.length >= 16 && got(i.toLong).nonEmpty })
  }

  // q119's later rounds apply merges whose operands are themselves merged
  // (multi-char) symbols — the fold must stay exact there too. The key
  // invariant: a merged output (s1||s2, s2 nonempty) can never
  // string-equal the s1 that formed it, so the last-emitted-symbol test
  // never matches a symbol produced in the same pass.
  val bpeSymGen: Gen[(List[String], String, String)] = for {
    n <- Gen.choose(2, 10)
    syms <- Gen.listOfN(n, Gen.oneOf("a", "b", "ab", "ba"))
    s1 <- Gen.oneOf("a", "b", "ab", "ba")
    s2 <- Gen.oneOf("a", "b", "ab", "ba")
  } yield (syms, s1, s2)

  test("bpe apply on SYMBOL sequences (multi-char merges): fold == greedy") {
    import spark.implicits._
    def greedy(syms: Seq[String], s1: String, s2: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == s1 && syms(i + 1) == s2) {
          out += s1 + s2; i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toSeq
    }
    val buf = scala.collection.mutable.ArrayBuffer[(List[String], String, String)]()
    forAll(bpeSymGen, n = 80)(t => buf += t)
    val got = buf.toSeq.toDF("syms", "s1", "s2")
      .withColumn("merged", expr(
        """aggregate(syms, cast(array() as array<string>),
             (acc, c) -> if(size(acc) > 0 AND element_at(acc, -1) = s1 AND c = s2,
               concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))),
               concat(acc, array(c))))"""))
      .collect()
      .map(r => (r.getSeq[String](0), r.getString(1), r.getString(2), r.getSeq[String](3)))
    got.foreach { case (syms, s1, s2, merged) =>
      assert(merged.mkString === syms.mkString, s"($syms, $s1+$s2) must preserve content")
      assert(merged === greedy(syms, s1, s2), s"fold != greedy for ($syms, $s1, $s2)")
    }
  }

  // ---- q115's cutoff-quartile rule (pure function): identical to
  // ntile(4) over ascending (value, id) whenever values are tie-free,
  // and tie groups never split across buckets
  test("quartile cutoffs ≡ ntile(4) on tie-free scores; tie groups never split") {
    import graft.queries.TextOps
    val valsGen = Gen.choose(1, 60).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0L, 300L)))
    forAll(valsGen, n = 60) { vs =>
      val unique = vs.distinct.sorted
      val cuts = TextOps.quartileCutoffs(unique.map(v => (v, 1L)))
      def bucket(v: Long) = 1 + cuts.count(v > _)
      // scala ntile(4) model: bucket k covers ranks (r_{k-1}, r_k]
      val n = unique.size
      val bounds = (1 to 4).map(k => k * (n / 4) + math.min(k, n % 4))
      unique.zipWithIndex.foreach { case (v, i) =>
        val want = bounds.indexWhere(i + 1 <= _) + 1
        assert(bucket(v) === want, s"v=$v rank=${i + 1} n=$n cuts=${cuts.toSeq}")
      }
      // with ties (duplicate every value), assignment is still total and
      // monotone, and equal values land in the same bucket by construction
      val dupCuts = TextOps.quartileCutoffs(unique.map(v => (v, 2L)))
      val dupBuckets = unique.map(v => 1 + dupCuts.count(v > _))
      assert(dupBuckets === dupBuckets.sorted, "bucket must be monotone in value")
      assert(dupBuckets.forall(b => b >= 1 && b <= 4))
    }
  }

  // ---- q84's per-shard packing: nShards=1 reproduces the global-window
  // formulation bit-for-bit; nShards=4 partitions the corpus with
  // independent, well-formed per-shard bins
  test("sequence packing: per-shard ≡ global at one shard; shards partition the corpus") {
    import graft.queries.TextOps
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val one = TextOps.sequencePacking(spark, dir, nShards = 1)
      .drop("shard").collect().toSeq
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val global = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).cast("long").as("n_tok"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", expr("(cum - 1) div 2048"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("bin")).collect().toSeq
    assert(one === global, "nShards=1 must equal the global-window packing")

    val four = TextOps.sequencePacking(spark, dir, nShards = 4).collect()
    val totDocs = one.map(_.getLong(1)).sum
    val totToks = one.map(_.getLong(2)).sum
    assert(four.map(_.getLong(2)).sum === totDocs, "shards must partition docs")
    assert(four.map(_.getLong(3)).sum === totToks, "shards must partition tokens")
    // per shard: bins are contiguous from 0, and the bin ids match the
    // shard's own token cumsum (last bin id = (shard tokens - 1) div 2048)
    four.groupBy(_.getLong(0)).foreach { case (shard, rows) =>
      val bins = rows.map(_.getLong(1)).sorted
      assert(bins === (0L until bins.size).toSeq, s"shard $shard bins not contiguous")
      val shardToks = rows.map(_.getLong(3)).sum
      assert(bins.last === (shardToks - 1) / 2048, s"shard $shard bin range wrong")
    }
  }

  // ---- q220: the checksum is ORDER-INVARIANT by construction — any
  // row order, any partitioning, any file layout must fingerprint
  // identically (that invariance is the operator's whole point; a
  // non-commutative fold sneaking into the agg list breaks this first)
  test("q220 checksum: invariant under shuffle and repartitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cksum").toString
    import spark.implicits._
    val docs = (1L to 200L)
      .map(i => (i, s"text body $i ${"x" * (i % 7).toInt}",
        if (i % 3 == 0) "de" else "en",
        if (i % 2 == 0) "web" else "wiki"))
      .toDF("doc_id", "text", "lang", "source")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val base = SparkEntry.queries("q220_dataset_checksum")(spark, dir)
      .collect().map(_.toSeq).toSeq
    // rewrite the same rows hash-scrambled and highly fragmented: the
    // fingerprint must not move
    docs.orderBy(md5(col("doc_id").cast("string"))).repartition(17)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val scrambled = SparkEntry.queries("q220_dataset_checksum")(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(scrambled === base,
      "checksum must be identical under any row order / file layout")
  }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body
}
