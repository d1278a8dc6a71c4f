package graft

/** Regenerates PLANS.md — the captured physical plans of EVERY catalog
  * query (plan-shape documentation backing SCALING.md's claims; the
  * binding assertions live in PlanSpec).
  *
  * r17 (VERDICT r16 #1): the capture set is now the FULL
  * `SparkEntry.queries` key set, not a curated headline list — eight
  * r16 queries had shipped with no captured plan because the list was
  * maintained by hand; PlansCoverageSpec asserts every catalog key has
  * a PLANS.md heading so the gap class stays closed. The `headline`
  * list below is retained as the curated plan-family MAP (one
  * representative per interesting shape, with the why), and those
  * entries are ordered first in the file.
  *
  * Usage: `sbt "runMain graft.PlanDump"` (optional args: sfDir,
  * comma-separated query names). With names, only those sections of the
  * committed PLANS.md are refreshed in place (a missing one is appended);
  * an unknown name exits with status 2 before any query runs.
  */
object PlanDump {

  /** One representative per plan family: scan+agg, pushdown, broadcast
    * multiway, semi-join, search join tree, LSH band join, IVF partition
    * pruning, decorrelated subqueries, value-range window, broadcast
    * kNN batch, incremental band probe, broadcast contamination probe. */
  private val headline = Seq(
    "q01_pricing_summary", "q02_filter_project", "q04_multiway_join",
    "q05_semi_join", "q20_tfidf_search", "q32_minhash_lsh",
    "q38_ann_srp_ivf", "q68_exists_subquery", "q69_rolling_range",
    "q74_knn_join",
    "q76_dedup_incremental", "q77_contamination", "q86_cdc_upsert",
    "q87_zorder_layout", "q90_bloom_semi_join",
    "q108_cm_heavy_hitters", "q111_cdc_chunk_dedup", "q116_bpe_train2",
    "q117_mixture_apply", "q118_ann_ndcg",
    // the r8 departitioned-window family + the composed pipeline/sweep:
    // per-shard packing cumsum, cutoff-bucket curriculum, top-K RRF,
    // salted-cell bitext pairs, one-labeling dedup report
    "q84_sequence_packing", "q113_hybrid_rrf", "q115_curriculum_order",
    "q121_bitext_margin", "q123_dedup_pipeline",
    // r12: the widened 64-bit simhash blocking — same fused-hamming
    // bucket-join shape as q34, 256x the bucket space
    "q126_simhash_pairs_w64",
    // r12: corpus-frequency boilerplate strip — broadcast anti-join rewrite
    "q127_boilerplate_strip",
    // r12: DSIR broadcast model scoring, substring-span gram equi-join,
    // join-free PQ ADC lookup scan
    "q128_dsir_select", "q129_substring_spans", "q131_pq_adc",
    // r13 (ADVICE r12 #8): every query in a round top-5 cost list gets a
    // pinned capture — leakage-safe split over the 64-bit CC labeling
    // (q104), buffer-family-split sketched profile (q140)
    "q104_split_leakage", "q140_profile_sketched",
    // r13: two-phase recipe cumsum (no per-lang global sort), windowless
    // coverage curve, broadcast-probe attribution, buffer-family drift
    // profile, sketch-based overlap estimate
    "q141_token_recipe", "q142_vocab_coverage", "q145_ngram_attribution",
    "q146_segment_quality_strip", "q147_join_key_overlap",
    // r13 (165-seal additions): span-excision rebuild behind its join
    // boundary (q152), complementary-key ER blocking union (q154),
    // positional phrase alignment (q155), WindowGroupLimit partial
    // top-k sampling (q156), repartition-before-d²-fan-out covariance
    // (q157), banded-SRP kNN vote (q161), map-side PMI pair fan-out
    // (q165)
    "q152_decontaminate_spans", "q154_entity_resolution",
    "q155_phrase_search", "q156_weighted_sample",
    "q157_embedding_covariance", "q161_knn_label_eval", "q165_term_pmi",
    // r15 (VERDICT r14 #4 — cost-frontier captures): four-pass drift
    // profile (q143), encoding advisor's per-column sweep (q170),
    // LSH-bounded provenance flow (q171), histogram-quartile outlier
    // fences (q172), batched hybrid retrieval's WindowGroupLimit top-Ks
    // (q173)
    "q143_profile_drift", "q170_encoding_advisor",
    "q171_source_dup_flow", "q172_outlier_fences_hist",
    "q173_hybrid_rrf_batch",
    // r15 additions: calibration's 10-bin agg (q174), the bootstrap's
    // partial-agg explode collapse (q175), quantile alignment's bounded
    // histogram joins (q176), the winsorize broadcast clamp (q177)
    "q174_calibration_report", "q175_bootstrap_ci",
    "q176_score_quantile_align", "q177_winsorize_report",
    // r15: df-cutoff containment blocking + candidates-then-verify
    // (q178), SRP-cell hard-negative mining's WindowGroupLimit top-3
    // (q179)
    "q178_containment_dup", "q179_hard_negatives",
    // r15: winnowing's map-side fingerprint HOF + candidates-then-
    // intersect verify (q181)
    "q181_winnowing_overlap",
    // r16 (VERDICT r15 #3 — the six newest operators): k-anonymity's
    // QI-domain-bounded double agg (q182), the fixed-state CM join
    // sketch (q183), the 10-row broadcast threshold curve over q32's
    // banded machinery (q185), two-phase shuffle-order enumeration —
    // NO single-task global window in the plan (q186), Heaps-law
    // theta-join fit (q187), the one-fold mixture epoch planner (q188)
    "q182_k_anonymity", "q183_join_size_sketch",
    "q185_dedup_threshold_curve", "q186_shuffle_order",
    "q187_heaps_law", "q188_mixture_epochs",
    // r16 additions: the Gopher rules melt + 6-row agg (q190), KL's
    // checkpointed two-consumer token aggregate (q191), the label-
    // partitioned WindowGroupLimit outlier top-3 (q192), novelty's
    // join-free double aggregate (q193)
    "q190_gopher_rules", "q191_unigram_kl_drift",
    "q192_label_outliers", "q193_gram_novelty",
    // r16 second batch: bounded-alphabet entropy agg (q196), the md5
    // dup join + broadcast-total contingency (q199), the one-Expand
    // rollup dataset card (q200)
    "q196_char_entropy", "q199_quality_dup_matrix", "q200_dataset_card",
    // r16 third batch: the bounded-bin ECDF self-join (q202), the
    // cluster-safe split's leak-check broadcast (q204), the row-local
    // pair generation over bounded per-gram source sets (q205)
    "q202_ecdf_table", "q204_cluster_safe_split", "q205_source_overlap")

  /** PLANS.md's header, above the first query section. */
  private def header(dir: String): String =
    s"""# PLANS — captured physical plans of ALL catalog queries (${new java.io.File(dir).getName}, AQE initial)
       |
       |Auto-generated by `sbt "runMain graft.PlanDump"`; regenerate after
       |planner-affecting changes. Binding plan assertions live in PlanSpec —
       |this file is the full-text reference those assertions summarize.
       |Plan-family representatives (the curated headline set in
       |PlanDump.scala) come first; the rest follow in catalog order.
       |PlansCoverageSpec asserts every `SparkEntry.queries` key has a
       |heading here.
       |""".stripMargin

  /** One query's section: its heading, a blank line, the fenced plan. */
  private[graft] def section(name: String, plan: String): String =
    s"## $name\n\n```\n${plan.trim}\n```\n"

  /** `doc` with each of `sections` (name, text) put in place of the
    * section of the same name, or appended when `doc` has none. A section
    * runs from its `## name` line (outside code fences) up to the blank
    * lines before the next heading or the end; the header, those blank
    * lines and every other section keep their bytes. */
  private[graft] def splice(doc: String, sections: Seq[(String, String)]): String =
    sections.foldLeft(doc) { case (d, (name, text)) =>
      val lines = d.split("\n", -1)
      val fenced = lines.scanLeft(false)((in, l) => in != l.startsWith("```"))
      val headings = lines.indices.filter(i => !fenced(i) && lines(i).startsWith("## "))
      headings.indexWhere(i => lines(i) == s"## $name") match {
        case -1 => d.stripSuffix("\n") + "\n\n" + text
        case k =>
          val from = headings(k)
          var until = headings.lift(k + 1).getOrElse(lines.length)
          while (until > from + 1 && lines(until - 1).isEmpty) until -= 1
          (lines.take(from) ++ text.stripSuffix("\n").split("\n", -1) ++ lines.drop(until))
            .mkString("\n")
      }
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // a query list refreshes only those sections of the committed file;
    // without one, the full sweep: headline (plan-family representatives)
    // first, then every remaining catalog key in numeric order
    val only = args.lift(1).map { list =>
      graft.cli.Cli.orExit(SparkEntry.parseOnly(Some(list), SparkEntry.queries.keySet))
      list.split(",").toSeq.distinct
    }
    val rest = SparkEntry.queries.keySet.diff(headline.toSet).toSeq
      .sortBy(n => ("""\d+""".r.findFirstIn(n).map(_.toInt).getOrElse(999), n))
    val names = only.getOrElse(headline ++ rest)
    val spark = Session.build(cpus = 4, logLevel = "ERROR")
    val sections = names.map(n =>
      n -> section(n, SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString))
    val path = java.nio.file.Paths.get("PLANS.md")
    val doc = only match {
      case Some(_) => splice(java.nio.file.Files.readString(path), sections)
      case None => header(dir) + sections.map("\n" + _._2).mkString
    }
    java.nio.file.Files.write(path, doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"PLANS.md written (${names.size} queries)")
    spark.stop()
  }
}
