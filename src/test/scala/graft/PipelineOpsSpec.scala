package graft

import org.apache.spark.sql.functions._

/** Contracts of the 165-seal operator additions (q152–q206) beyond the
  * DuckDB hash gate: structural invariants that must hold at ANY scale
  * factor (the gate pins exact values at sf0.01; these pin the algebra
  * the values are supposed to obey). All run on sf0.001 so the suite
  * stays fast.
  */
class PipelineOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q153: the clean fixture erases completely, and the cascade is internally consistent") {
    val rows = SparkEntry.queries("q153_gdpr_erasure")(spark, dir).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_deleted") + r.getAs[Long]("n_kept")
        === r.getAs[Long]("n_rows"), s"partition of ${r.getAs[String]("entity")}")
      assert(r.getAs[Long]("n_residual_refs") === 0L)
      assert(r.getAs[Long]("n_cascade_mismatch") === 0L)
      assert(r.getAs[Boolean]("erased"))
    }
  }

  test("q156: every stratum yields min(k, stratum size) rows with contiguous ranks") {
    val sample = SparkEntry.queries("q156_weighted_sample")(spark, dir)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank")))
    val strata = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byLang = sample.groupBy(_._1)
    assert(byLang.keySet === strata.keySet.filter(strata(_) > 0))
    byLang.foreach { case (lang, rows) =>
      val expected = math.min(8L, strata(lang))
      assert(rows.length.toLong === expected, s"stratum $lang")
      assert(rows.map(_._2).sorted.toSeq === (1L to expected), s"ranks $lang")
    }
  }

  test("q159: the plan covers every document exactly once and bins are contiguous per lang") {
    val plan = SparkEntry.queries("q159_compaction_plan")(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bin"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("bytes")))
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(plan.map(_._3).sum === total, "every doc is assigned to exactly one bin")
    plan.foreach { case (_, _, _, bytes) => assert(bytes > 0L) }
    plan.groupBy(_._1).foreach { case (lang, rows) =>
      val bins = rows.map(_._2).sorted.toSeq
      assert(bins === (0L until bins.length), s"contiguous bins for $lang")
    }
  }

  test("q160: ops partition the key universe of both snapshots") {
    val rows = SparkEntry.queries("q160_snapshot_diff")(spark, dir).collect()
      .map(r => r.getAs[String]("op") -> r.getAs[Long]("n")).toMap
    assert(rows.keySet.subsetOf(Set("insert", "delete", "update", "unchanged")))
    val nOrders = spark.read.parquet(s"$dir/orders.parquet").count()
    val inserts = rows.getOrElse("insert", 0L)
    // base keys = all orders; cand adds `insert` new keys; the diff rows
    // must cover base ∪ cand keys exactly once
    assert(rows.values.sum === nOrders + inserts)
    assert(rows.getOrElse("delete", 0L) > 0L)
    assert(rows.getOrElse("update", 0L) > 0L)
  }

  test("q161: confusion rows cover every probe once; planted recall is high") {
    val rows = SparkEntry.queries("q161_knn_label_eval")(spark, dir).collect()
      .map(r => (r.getAs[Long]("true_label"), r.getAs[Long]("pred_label"),
        r.getAs[Long]("n")))
    val nProbes = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 5 === 0).count()
    assert(rows.map(_._3).sum === nProbes, "each probe classified exactly once")
    val correct = rows.filter(r => r._1 == r._2).map(_._3).sum
    assert(correct.toDouble / nProbes >= 0.8,
      s"planted-label recall $correct/$nProbes — blocking recall collapsed")
  }

  test("q162: pairs are canonical and support honors the floor") {
    val rows = SparkEntry.queries("q162_basket_pairs")(spark, dir).collect()
      .map(r => (r.getAs[Long]("p1"), r.getAs[Long]("p2"),
        r.getAs[Long]("support")))
    rows.foreach { case (p1, p2, sup) =>
      assert(p1 < p2, "canonical order")
      assert(sup >= 2L, "support floor")
    }
  }

  test("q166: the merged view is bit-equal to the full recompute on every group") {
    val rows = SparkEntry.queries("q166_mv_incremental")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("merge_exact"),
        s"merge drift on status ${r.getAs[String]("status")}")
      assert(r.getAs[Long]("n_merged") === r.getAs[Long]("n_full"))
    }
  }

  test("q167: attribution conserves purchases") {
    val rows = SparkEntry.queries("q167_touch_attribution")(spark, dir).collect()
    val attributed = rows.map(_.getAs[Long]("n_purchases")).sum
    val purchases = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type") === "purchase").count()
    assert(attributed === purchases, "every purchase credited exactly once")
  }

  test("q169: the full-width row of the truncation eval is a perfect self-overlap") {
    val rows = SparkEntry.queries("q169_dim_truncation_eval")(spark, dir).collect()
      .map(r => (r.getAs[Long]("dims"), r.getAs[Long]("qid"),
        r.getAs[Long]("n_overlap5")))
    val probes = rows.map(_._2).distinct.length
    assert(rows.length === 3 * probes, "every (width, probe) cell present")
    rows.filter(_._1 == 64L).foreach { case (_, qid, ov) =>
      assert(ov === 5L, s"full width must overlap itself 5/5 (probe $qid)")
    }
    rows.foreach { case (_, _, ov) => assert(ov >= 0L && ov <= 5L) }
  }

  test("q170: the advisor's verdict is the argmin of its own byte models") {
    val rows = SparkEntry.queries("q170_encoding_advisor")(spark, dir).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val sizes = Map("plain" -> r.getAs[Long]("plain_bytes"),
        "dict" -> r.getAs[Long]("dict_bytes"),
        "rle" -> r.getAs[Long]("rle_bytes"))
      val best = r.getAs[String]("best")
      assert(sizes(best) === sizes.values.min,
        s"${r.getAs[String]("colname")}: $best is not the cheapest of $sizes")
      assert(r.getAs[Long]("runs") <= r.getAs[Long]("n"))
      assert(r.getAs[Long]("n_distinct") <= r.getAs[Long]("runs"),
        "each distinct value starts at least one run")
    }
  }

  test("q171: the flow matrix is canonical and its means are valid Jaccards") {
    val rows = SparkEntry.queries("q171_source_dup_flow")(spark, dir).collect()
    rows.foreach { r =>
      assert(r.getAs[String]("src_a") <= r.getAs[String]("src_b"),
        "unordered pair key is canonical")
      val avg = r.getAs[Long]("avg_j4")
      assert(avg >= 5000L && avg <= 10000L,
        s"mean verified Jaccard $avg outside [threshold, 1]")
      assert(r.getAs[Boolean]("cross_source") ===
        (r.getAs[String]("src_a") != r.getAs[String]("src_b")))
    }
  }

  test("q174: bins partition the corpus and the ECE is the bins' own weighted gap") {
    val rows = SparkEntry.queries("q174_calibration_report")(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n")).sum === total,
      "every document lands in exactly one confidence bin")
    rows.foreach { r =>
      val (conf, acc) = (r.getAs[Long]("avg_conf4"), r.getAs[Long]("acc4"))
      assert(conf >= 0L && conf <= 10000L && acc >= 0L && acc <= 10000L)
      assert(r.getAs[Long]("gap4") === math.abs(acc - conf))
      val bin = r.getAs[Long]("bin")
      // the bin's mean stated confidence must lie inside the bin's range
      // (bin 9 also absorbs the conf4 = 10000 clamp)
      assert(conf >= bin * 1000 && conf <= (if (bin == 9L) 10000L else bin * 1000 + 999L),
        s"bin $bin mean confidence $conf outside its own range")
    }
    val eces = rows.map(_.getAs[Long]("ece4")).distinct
    assert(eces.length === 1, "ECE is one corpus-level scalar")
    val manual = rows.map(r => r.getAs[Long]("n") * r.getAs[Long]("gap4")).sum / total
    assert(eces.head === manual, "ECE recomputes from the published bins")
  }

  test("q175: the CI brackets the point estimate and replicate count is B by construction") {
    val r = SparkEntry.queries("q175_bootstrap_ci")(spark, dir).collect().head
    assert(r.getAs[Long]("n_replicates") === 64L)
    assert(r.getAs[Long]("n_docs") ===
      spark.read.parquet(s"$dir/documents.parquet").count())
    val (lo, est, hi) = (r.getAs[Long]("lo4"), r.getAs[Long]("est4"), r.getAs[Long]("hi4"))
    assert(lo <= est && est <= hi, "point estimate inside the 95% bootstrap CI")
    assert(r.getAs[Long]("width4") === hi - lo)
    assert(hi - lo > 0L, "a degenerate zero-width CI means the weights never varied")
    // deterministic resampling: a second evaluation is bit-equal
    val r2 = SparkEntry.queries("q175_bootstrap_ci")(spark, dir).collect().head
    assert(r === r2, "hash-derived Poisson weights make the bootstrap a pure function")
  }

  test("q176: quantiles and kept-shares are monotone in the probe, per source") {
    val rows = SparkEntry.queries("q176_score_quantile_align")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("p"),
        r.getAs[Long]("src_q4"), r.getAs[Long]("glob_q4"), r.getAs[Long]("kept4")))
    val nSources = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct().count()
    assert(rows.length.toLong === nSources * 9, "9 probes for every source")
    rows.groupBy(_._1).foreach { case (src, rs) =>
      val byP = rs.sortBy(_._2)
      assert(byP.map(_._3).toSeq === byP.map(_._3).sorted.toSeq,
        s"$src: source quantile non-decreasing in p")
      assert(byP.map(_._5).toSeq === byP.map(_._5).sorted.toSeq.reverse,
        s"$src: kept share non-increasing in p")
      byP.foreach { case (_, _, _, _, kept) => assert(kept >= 0L && kept <= 10000L) }
    }
    // the pooled quantile is identical on every source's row (one global curve)
    rows.groupBy(_._2).foreach { case (p, rs) =>
      assert(rs.map(_._4).distinct.length === 1, s"probe $p has one global quantile")
    }
  }

  test("q178: every planted wrapper contains its original exactly; flag matches jac4") {
    val rows = SparkEntry.queries("q178_containment_dup")(spark, dir).collect()
      .map(r => ((r.getAs[Long]("contained_id"), r.getAs[Long]("container_id")),
        (r.getAs[Long]("na"), r.getAs[Long]("nb"), r.getAs[Long]("cont4"),
          r.getAs[Long]("jac4"), r.getAs[Boolean]("resemblance_missed"))))
      .toMap
    rows.foreach { case ((a, b), (na, nb, cont4, jac4, missed)) =>
      assert(a !== b)
      assert(cont4 >= 9000L && cont4 <= 10000L, s"($a,$b) containment in band")
      // resemblance can never exceed containment (the union ⊇ |Sa|)
      assert(jac4 <= cont4, s"($a,$b) jac4 $jac4 > cont4 $cont4")
      assert(missed === (jac4 < 5000L), s"($a,$b) flag is q31's own 0.5 cut")
      assert(na > 0L && nb > 0L)
    }
    // the plants: every 40th doc with ≥ 5 alpha tokens is fully contained
    // (cont4 = 10000) in its wrapper copy at id + 2e12
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 40 === 0)
      .filter(size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")) >= 5)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(planted.nonEmpty, "fixture must exercise the planted path")
    planted.foreach { id =>
      val hit = rows.get((id, id + 2000000000000L))
      assert(hit.isDefined, s"planted pair ($id, wrapper) not found")
      assert(hit.get._3 === 10000L, s"planted containment of $id is exact")
    }
  }

  test("q179: per-anchor ranks are contiguous, similarity-ordered, and negatives cross labels") {
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = SparkEntry.queries("q179_hard_negatives")(spark, dir).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neg_id"), r.getAs[Long]("neg_label"),
        r.getAs[Long]("neg4i"), r.getAs[Long]("pos4i"), r.getAs[Long]("margin4i")))
    assert(rows.nonEmpty)
    rows.foreach { case (a, _, n, nl, neg4, pos4, m4) =>
      assert(labels(n) === nl, "neg_label is the candidate's own label")
      assert(labels(a) !== nl, s"anchor $a mined a same-label 'negative'")
      assert(neg4 >= -10000L && neg4 <= 10000L)
      assert(pos4 >= -10001L && pos4 <= 10000L)
      assert(m4 === pos4 - neg4)
    }
    rows.groupBy(_._1).foreach { case (a, rs) =>
      val byRk = rs.sortBy(_._2)
      assert(byRk.map(_._2).toSeq === (1L to rs.length), s"anchor $a ranks contiguous")
      assert(byRk.length <= 3, s"anchor $a has > 3 negatives")
      // hardest-first: neg4i non-increasing in rank
      assert(byRk.map(_._5).toSeq === byRk.map(_._5).sorted.toSeq.reverse,
        s"anchor $a negatives not similarity-ordered")
      assert(byRk.map(_._6).distinct.length === 1, s"anchor $a has one positive")
    }
  }

  test("q181: every planted spliced twin is detected; overlap algebra holds") {
    val rows = SparkEntry.queries("q181_winnowing_overlap")(spark, dir).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Long]("matched"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
          r.getAs[Long]("sim4"))))
      .toMap
    rows.foreach { case ((a, b), (m, na, nb, sim4)) =>
      assert(a < b, "pairs are ordered")
      assert(m >= 3L && m <= math.min(na, nb), s"($a,$b) matched in range")
      assert(sim4 === m * 10000L / (na + nb - m), s"($a,$b) sim4 algebra")
      assert(sim4 >= 1L && sim4 <= 10000L)
    }
    // plants: every 60th doc with >= 14 alpha tokens shares its second
    // half with the twin at id + 3e12 — a run far above the w + k - 1 = 7
    // guarantee, so the pair MUST surface
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 60 === 0)
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .filter { case (_, n) => n >= 14 && n - n / 2 >= 30 }
    assert(planted.nonEmpty, "fixture must exercise the planted path")
    planted.foreach { case (id, n) =>
      val hit = rows.get((id, id + 3000000000000L))
      assert(hit.isDefined, s"planted splice ($id, twin) not found (kept half ${n - n / 2} tokens)")
      // the shared half holds >= (kept - 6) windows; winnowing keeps
      // ~2/(w+1) of them — demand a conservative floor, not the mean
      assert(hit.get._1 >= (n - n / 2 - 6) / 10,
        s"planted splice ($id) matched ${hit.get._1} below the guarantee floor")
    }
  }

  test("q182: QI groups partition the table; rescue and risk flags are consistent") {
    val rows = SparkEntry.queries("q182_k_anonymity")(spark, dir).collect()
      .map(r => (r.getAs[Long]("nation"), r.getAs[String]("segment"),
        r.getAs[Long]("bal_bucket"), r.getAs[Long]("n"), r.getAs[Long]("l_div"),
        r.getAs[Boolean]("at_risk"), r.getAs[Long]("n_coarse"),
        r.getAs[Boolean]("rescued_by_bal5")))
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$dir/customer.parquet").count()
    assert(rows.map(_._4).sum === total, "fine groups partition the table")
    rows.foreach { case (_, _, _, n, lDiv, atRisk, nCoarse, rescued) =>
      assert(lDiv >= 1L && lDiv <= n, "l-diversity bounded by group size")
      assert(atRisk === (n < 5L))
      assert(nCoarse >= n, "coarse group contains its fine group")
      assert(rescued === (atRisk && nCoarse >= 5L))
    }
    // n_coarse is the SUM of fine ns within its coarse key
    rows.groupBy { case (nat, seg, bb, _, _, _, _, _) =>
      (nat, seg, math.floor(bb.toDouble / 5000.0).toLong * 5000L)
    }.foreach { case (key, grp) =>
      val s = grp.map(_._4).sum
      grp.foreach { g => assert(g._7 === s, s"coarse sum at $key") }
    }
  }

  test("q183: cm_est is one-sided above the exact join size, and exact is exact") {
    val rows = SparkEntry.queries("q183_join_size_sketch")(spark, dir).collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Long]("dot"), r.getAs[Long]("exact"),
        r.getAs[Long]("cm_est"), r.getAs[Long]("over4")))
    assert(rows.map(_._1).sorted.toSeq === Seq(0, 1, 2, 3), "one row per depth")
    val exact = rows.head._3
    // the exact control really is the join size, recomputed driver-side
    val ec = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oc = spark.read.parquet(s"$dir/orders.parquet")
      .groupBy(col("o_custkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = ec.map { case (k, n) => n * oc.getOrElse(k, 0L) }.sum
    assert(exact === ref, "exact join size")
    rows.foreach { case (d, dot, ex, est, over4) =>
      assert(ex === exact, "one global exact")
      assert(dot >= exact, s"depth $d dot is one-sided (collisions only add)")
      assert(est === rows.map(_._2).min, "cm_est is the min over depths")
      assert(over4 === (est - exact) * 10000L / exact)
      assert(over4 >= 0L)
    }
  }

  test("q185: the threshold curve is complete and monotonically non-increasing") {
    val rows = SparkEntry.queries("q185_dedup_threshold_curve")(spark, dir).collect()
      .map(r => (r.getAs[Long]("threshold"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_dropped"), r.getAs[Long]("chars_dropped")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (5000L to 9500L by 500L), "all 10 rows present")
    // raising the threshold can only shrink every budget number
    rows.sliding(2).foreach { case Array((t1, p1, d1, c1), (t2, p2, d2, c2)) =>
      assert(p2 <= p1, s"n_pairs rises $t1->$t2")
      assert(d2 <= d1, s"n_docs_dropped rises $t1->$t2")
      assert(c2 <= c1, s"chars_dropped rises $t1->$t2")
    }
    rows.foreach { case (t, p, d, c) =>
      assert(d <= p * 2, s"dropped docs bounded by pair endpoints at $t")
      assert((c == 0L) === (d == 0L), s"chars and docs agree on zero at $t")
    }
    // the fixture's planted near-dup families must make the low end load-bearing
    assert(rows.head._2 > 0L, "0.5 threshold sees the planted families")
  }

  test("q186: positions are the exact seeded-hash rank; shards round-robin") {
    val got = SparkEntry.queries("q186_shuffle_order")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("position"),
        r.getAs[Long]("shard"), r.getAs[Long]("pos_in_shard")))
    // driver-side reference: global rank of md5-derived hash (the
    // two-phase enumeration must be invariant to partition boundaries)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(sv: String): Long = {
      val hex = md.digest(sv.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val ref = got.map(_._1).map(id => id -> h60(s"epoch0:$id")).sortBy {
      case (id, h) => (h, id)
    }.zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    assert(got.length === ref.size)
    got.foreach { case (id, pos, shard, pis) =>
      assert(pos === ref(id), s"position($id)")
      assert(shard === pos % 8, s"shard($id)")
      assert(pis === pos / 8, s"pos_in_shard($id)")
    }
    // positions are a permutation of 0..n-1
    assert(got.map(_._2).sorted.toSeq === (0L until got.length.toLong))
  }

  test("q187: the growth curve is monotone and the fit matches a driver recompute") {
    val rows = SparkEntry.queries("q187_heaps_law")(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("vocab"),
        r.getAs[Long]("beta4"), r.getAs[Long]("lnk4")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === (1L to 10L), "all 10 prefixes present")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4,
        s"prefix growth must be monotone at k=${b._1}")
    }
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.last._2 === total, "k=10 covers the whole corpus")
    assert(rows.map(_._5).distinct.length === 1, "one beta")
    assert(rows.map(_._6).distinct.length === 1, "one lnK")
    // driver recompute of the integer-exact least squares from the curve
    val pts = rows.filter(r => r._4 > 0 && r._3 > 0).map { r =>
      (math.floor(math.log(r._3.toDouble) * 1e6 + 0.5).toLong,
        math.floor(math.log(r._4.toDouble) * 1e6 + 0.5).toLong)
    }
    val m = pts.length.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    // BigInt % follows the dividend's sign — the same remainder-removed
    // division both engines compute
    val bd = BigInt(m * sxx - sx * sx)
    val bn = BigInt(m * sxy - sx * sy) * 10000 + BigInt((m * sxx - sx * sx) / 2)
    val beta4 = ((bn - bn % bd) / bd).toLong
    val kn = BigInt(sy) * 10000 - BigInt(beta4) * sx
    val kd = BigInt(m * 1000000)
    val lnk4 = ((kn - kn % kd) / kd).toLong
    assert(rows.head._5 === beta4, "beta matches the exact recompute")
    assert(rows.head._6 === lnk4, "lnK matches the exact recompute")
  }

  test("q190: rule scorecard is a partition of the corpus and r_all is the conjunction bound") {
    val rows = SparkEntry.queries("q190_gopher_rules")(spark, dir).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass"), r.getAs[Long]("pass4")))
      .toMap
    val expected = Set("r_word_count", "r_mean_word_len", "r_alpha_ratio",
      "r_symbol_ratio", "r_stopword_hits", "r_all")
    assert(rows.keySet === expected)
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    rows.foreach { case (rule, (n, p, p4)) =>
      assert(n === total, s"$rule sees every doc")
      assert(p >= 0L && p <= n, s"$rule pass count in range")
      assert(p4 === p * 10000L / n, s"$rule grid arithmetic")
    }
    val minRule = (expected - "r_all").map(rows(_)._2).min
    assert(rows("r_all")._2 <= minRule, "conjunction passes at most the tightest rule")
  }

  test("q191: KL drift is near-nonnegative on the grid and totals are consistent") {
    val rows = SparkEntry.queries("q191_unigram_kl_drift")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_types"), r.getAs[Long]("kl6")))
    val srcs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source")).distinct().count()
    assert(rows.length === srcs, "one row per source")
    rows.foreach { case (src, n, types, kl6) =>
      assert(n > 0L && types > 0L && types <= n, s"$src count sanity")
      // KL >= 0 exactly; the 1e-6 grid can dip a few ticks below zero
      assert(kl6 >= -10L, s"$src kl6 $kl6 far below the grid floor")
    }
  }

  test("q192: per-label top-3 outliers are rank-contiguous and distance-ordered") {
    val rows = SparkEntry.queries("q192_label_outliers")(spark, dir).collect()
      .map(r => (r.getAs[Long]("label"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Long]("d2g6"),
        r.getAs[Long]("label_size")))
    val byLabel = rows.groupBy(_._1)
    val labelCounts = spark.read.parquet(s"$dir/embeddings.parquet")
      .groupBy(col("label").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet === labelCounts.keySet, "every label audited")
    byLabel.foreach { case (l, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq ===
        (1L to math.min(3L, labelCounts(l))), s"label $l ranks contiguous")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 >= b._4, s"label $l distances ordered")
        case _           => ()
      }
      rs.foreach { r =>
        assert(r._5 === labelCounts(l), s"label $l size")
        assert(r._4 >= 0L, "squared distance nonnegative")
      }
    }
  }

  test("q193: novelty fractions are in range and grams reconcile") {
    val rows = SparkEntry.queries("q193_gram_novelty")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Long]("novel4")))
    assert(rows.nonEmpty)
    rows.foreach { case (src, g, nv, n4) =>
      assert(g > 0L, s"$src has grams")
      assert(nv >= 0L && nv <= g, s"$src novel bounded")
      assert(n4 === nv * 10000L / g, s"$src grid arithmetic")
    }
  }

  test("q194: LPT loads reconcile per shard and the makespan is within the Graham band") {
    val rows = SparkEntry.queries("q194_shard_balance")(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("shard"),
        r.getAs[Long]("shard_load"), r.getAs[Long]("makespan4")))
    assert(rows.nonEmpty)
    assert(rows.forall(r => r._4 >= 0L && r._4 < 4L), "4 shards")
    // shard_load is exactly the sum of its members
    rows.groupBy(_._4).foreach { case (sh, rs) =>
      val load = rs.head._5
      assert(rs.forall(_._5 === load), s"shard $sh single load value")
      assert(rs.map(_._3).sum === load, s"shard $sh load reconciles")
    }
    val total = rows.map(_._3).sum
    val maxLoad = rows.map(_._5).max
    val m4 = rows.head._6
    assert(rows.forall(_._6 === m4), "one makespan")
    assert(m4 === maxLoad * 40000L / total, "makespan grid arithmetic")
    assert(m4 >= 10000L, "max load is at least the ideal quarter")
    // LPT guarantees <= 4/3 OPT and OPT >= max(total/4, biggest item)
    val biggest = rows.map(_._3).max
    val optLb = math.max((total + 3L) / 4L, biggest)
    assert(maxLoad * 3L <= optLb * 4L + 3L, "Graham 4/3 bound holds")
  }

  test("q195: truncation losses are monotone in L and reconcile against a driver recompute") {
    val rows = SparkEntry.queries("q195_truncation_planner")(spark, dir).collect()
      .map(r => (r.getAs[Long]("max_len"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_docs_over"), r.getAs[Long]("total_tokens"),
        r.getAs[Long]("tokens_lost"), r.getAs[Long]("loss4")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq ===
      Seq(128L, 256L, 512L, 1024L, 2048L, 4096L, 8192L))
    assert(rows.map(_._2).distinct.length === 1, "every L sees every doc")
    assert(rows.map(_._4).distinct.length === 1, "one corpus token total")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 <= a._3 && b._5 <= a._5,
          s"a larger L can only reduce overflow at L=${b._1}")
      case _ => ()
    }
    val lens = spark.read.parquet(s"$dir/documents.parquet")
      .select(size(expr("regexp_extract_all(text, '[a-zA-Z]+', 0)"))
        .cast("long")).collect().map(_.getLong(0))
    rows.foreach { case (l, _, over, tot, lost, loss4) =>
      assert(over === lens.count(_ > l), s"L=$l overflow count")
      assert(lost === lens.map(n => math.max(n - l, 0L)).sum, s"L=$l loss")
      assert(tot === lens.sum)
      assert(loss4 === lost * 10000L / tot)
    }
  }

  test("q196: bigram entropy is within [0, ln(26^2)] on the grid and state is alphabet-bounded") {
    val rows = SparkEntry.queries("q196_char_entropy")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_distinct"), r.getAs[Long]("h6")))
    assert(rows.nonEmpty)
    val hMax = math.ceil(math.log(26.0 * 26.0) * 1e6).toLong
    rows.foreach { case (src, n, d, h6) =>
      assert(n > 0L, s"$src has bigrams")
      assert(d <= 26L * 26L, s"$src bigram state is alphabet-bounded")
      assert(h6 >= -5L && h6 <= hMax + 5L, s"$src entropy $h6 in range")
      // entropy can't exceed ln(n_distinct) (uniform over observed bins)
      val hObs = math.floor(math.log(d.toDouble) * 1e6 + 0.5).toLong
      assert(h6 <= hObs + 5L, s"$src entropy bounded by ln(distinct)")
    }
  }

  test("q197: planted PII rates reconcile exactly per type") {
    val rows = SparkEntry.queries("q197_pii_incidence")(spark, dir).collect()
      .map(r => ((r.getAs[String]("source"), r.getAs[String]("pii_type")),
        (r.getAs[Long]("n_docs_hit"), r.getAs[Long]("n_hits")))).toMap
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val types = Seq(("email", 25L), ("ipv4", 40L), ("card", 60L), ("phone", 75L))
    types.foreach { case (ty, m) =>
      val expected = ids.filter(_._1 % m == 0).groupBy(_._2)
        .view.mapValues(_.length.toLong).toMap
      ids.map(_._2).distinct.foreach { src =>
        val exp = expected.getOrElse(src, 0L)
        val (hit, hits) = rows((src, ty))
        assert(hit === exp, s"$src/$ty planted doc count")
        assert(hits >= hit, s"$src/$ty hits >= docs hit")
      }
    }
  }

  test("q198: OOV rates are bounded and the vocab side reports zero rows") {
    val rows = SparkEntry.queries("q198_vocab_oov")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tok"),
        r.getAs[Long]("oov_tok"), r.getAs[Long]("oov4"),
        r.getAs[Long]("n_types"), r.getAs[Long]("oov_types"),
        r.getAs[Long]("oovt4")))
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, oov, oov4, ty, oovT, oovt4) =>
      assert(src.length > 3 && (src.drop(3).toLong % 2L) === 1L,
        s"$src is a holdout source")
      assert(oov >= 0L && oov <= n)
      assert(oovT >= 0L && oovT <= ty)
      assert(oov4 === oov * 10000L / n)
      assert(oovt4 === oovT * 10000L / ty)
      // instance-level OOV can't exceed type-level OOV share in the tail
      // only when frequencies skew — but both must agree on zero
      assert((oov == 0L) === (oovT == 0L), s"$src zero-OOV consistency")
    }
  }

  test("q199: contingency partitions the planted-dup corpus and shares sum to ~1") {
    val rows = SparkEntry.queries("q199_quality_dup_matrix")(spark, dir).collect()
      .map(r => (r.getAs[Boolean]("is_dup"), r.getAs[Boolean]("pass"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("share4")))
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    val planted = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 20 === 0).count()
    assert(rows.map(_._3).sum === total + planted, "partition incl. plants")
    // every planted pair contributes 2 dup-side docs (original + copy),
    // and only md5-identical text is counted dup
    assert(rows.filter(_._1).map(_._3).sum >= 2L * planted)
    val shareSum = rows.map(_._4).sum
    assert(shareSum >= 9996L && shareSum <= 10000L, s"shares $shareSum ~ 1")
    assert(rows.map(r => (r._1, r._2)).distinct.length === rows.length)
  }

  test("q201: dyadic decay is bounded by count and reconciles against a driver recompute") {
    val rows = SparkEntry.queries("q201_decayed_engagement")(spark, dir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Long]("engagement6"), r.getAs[Long]("last_seen_hours")))
    assert(rows.nonEmpty)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val us = graft.core.Tables.epochMicros(raw, "ts")
    val evs = raw.select(col("user_id"), us.as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ref = evs.map(_._2).max
    val expect = evs.groupBy(_._1).view.mapValues { es =>
      val ages = es.map(e => math.min((ref - e._2) / 3600000000L, 20L))
      (es.length.toLong, ages.map(a => 1000000L >> a).sum, ages.min)
    }.toMap
    rows.foreach { case (u, n, eng, last) =>
      val (en, ee, el) = expect(u)
      assert((n, eng, last) === ((en, ee, el)), s"user $u")
      assert(eng <= n * 1000000L, s"user $u decay bounded by count")
    }
    assert(rows.map(_._1).toSet === expect.keySet)
  }

  test("q202: the ECDF table is monotone, reconciles, and pct4 stays on the grid") {
    val rows = SparkEntry.queries("q202_ecdf_table")(spark, dir).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"),
        r.getAs[Long]("cum"), r.getAs[Long]("pct4")))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    val total = spark.read.parquet(s"$dir/events.parquet").count()
    assert(rows.map(_._2).sum === total, "bin counts partition the rows")
    assert(rows.last._3 === total, "cum reaches the total")
    var running = 0L
    rows.foreach { case (b, n, cum, pct4) =>
      running += n
      assert(cum === running, s"bin $b cumulative reconciles")
      assert(pct4 === (2L * cum - n) * 10000L / (2L * total),
        s"bin $b midpoint grid")
      assert(pct4 >= 0L && pct4 <= 10000L)
    }
    rows.sliding(2).foreach {
      case Array(a, b) => assert(b._4 >= a._4, "percentiles monotone")
      case _           => ()
    }
  }

  test("q203: pre-evolution mass is exactly the v1 rows and carries all the nulls") {
    val rows = SparkEntry.queries("q203_schema_evolution")(spark, dir).collect()
      .map(r => (r.getAs[String]("o_orderstatus"), r.getAs[Long]("n"),
        r.getAs[Long]("n_null_status")))
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val v1 = orders.filter(col("o_orderkey") % 2 === 0).count()
    val pre = rows.find(_._1 == "<pre-evolution>").get
    assert(pre._2 === v1, "pre-evolution row counts the v1 snapshot")
    assert(pre._3 === v1, "every pre-evolution row surfaces a NULL status")
    rows.filterNot(_._1 == "<pre-evolution>").foreach { r =>
      assert(r._3 === 0L, s"evolved rows carry no nulls (${r._1})")
    }
    assert(rows.map(_._2).sum === orders.count(), "union covers the table")
  }

  test("q204: the cluster-safe split partitions the corpus with zero cross-split groups") {
    val rows = SparkEntry.queries("q204_cluster_safe_split")(spark, dir).collect()
      .map(r => (r.getAs[String]("split"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_groups"), r.getAs[Long]("n_chars"),
        r.getAs[Long]("leaked_groups")))
    assert(rows.map(_._1).toSet === Set("train", "val", "test"))
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_._2).sum === total, "splits partition the corpus")
    rows.foreach { r =>
      assert(r._5 === 0L, "the computed leak count must be zero")
      assert(r._3 <= r._2, s"${r._1}: groups cannot exceed docs")
      assert(r._4 > 0L)
    }
    val train = rows.find(_._1 == "train").get._2
    assert(train * 2 > total, "the 8/10 bucket share dominates")
  }

  test("q205: the overlap matrix is ordered, bounded, and source-consistent") {
    val rows = SparkEntry.queries("q205_source_overlap")(spark, dir).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b"),
        r.getAs[Long]("common"), r.getAs[Long]("na"), r.getAs[Long]("nb"),
        r.getAs[Long]("jac4")))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c, na, nb, j4) =>
      assert(a < b, "pairs are canonically ordered")
      assert(c >= 1L && c <= math.min(na, nb), s"($a,$b) common bounded")
      assert(j4 >= 0L && j4 <= 10000L)
      assert(j4 === c * 10000L / (na + nb - c), s"($a,$b) grid arithmetic")
    }
    // every mention of a source carries ONE total
    (rows.map(r => r._1 -> r._4) ++ rows.map(r => r._2 -> r._5))
      .groupBy(_._1).foreach { case (src, ns) =>
        assert(ns.map(_._2).distinct.length === 1, s"$src total consistent")
      }
  }

  test("q206: fertility ratios respect the length hierarchy") {
    val rows = SparkEntry.queries("q206_lang_fertility")(spark, dir).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_bytes"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("chars_per_tok4"), r.getAs[Long]("bytes_per_tok4")))
    assert(rows.nonEmpty)
    rows.foreach { case (lang, bytes, chars, toks, cpt4, bpt4) =>
      assert(bytes >= chars, s"$lang: UTF-8 bytes >= chars")
      assert(toks > 0L && chars >= toks, s"$lang: a token is >= 1 char")
      assert(cpt4 >= 10000L, s"$lang: chars-per-token at least 1 on the grid")
      assert(bpt4 >= cpt4, s"$lang: bytes ratio dominates chars ratio")
      assert(cpt4 === chars * 10000L / toks && bpt4 === bytes * 10000L / toks)
    }
  }

  test("q200: the dataset card's ALL row reconciles with the per-source rows") {
    val rows = SparkEntry.queries("q200_dataset_card")(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("share4"),
        r.getAs[Long]("n_dup_docs"), r.getAs[Long]("n_quality_pass")))
    val (all, per) = rows.partition(_._1 == "ALL")
    assert(all.length === 1, "exactly one rollup total row")
    assert(per.map(_._2).sum === all.head._2, "docs reconcile")
    assert(per.map(_._3).sum === all.head._3, "tokens reconcile")
    assert(per.map(_._5).sum === all.head._5, "dups reconcile")
    assert(per.map(_._6).sum === all.head._6, "quality passes reconcile")
    assert(all.head._4 === 10000L, "ALL row holds the full token share")
    per.foreach { r =>
      assert(r._4 === r._3 * 10000L / all.head._3, s"${r._1} share grid")
    }
  }
}
