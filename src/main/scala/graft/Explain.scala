package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection main: prints `explain("formatted")` for the given
  * queries (default: a representative set) so scan pushdown, broadcast
  * choices and WholeStageCodegen spans can be reviewed per round.
  *
  * With `-run` as the first argument each query is EXECUTED (noop sink)
  * first and the final adaptive plan is printed instead — the only way to
  * see what AQE actually did: exchange reuse, broadcast demotions, skew
  * splits are all runtime decisions invisible in the static plan.
  *
  * Usage: runMain graft.Explain [-run] [sfDir] [queryName ...]
  */
object Explain {
  def main(args0: Array[String]): Unit = {
    val run = args0.headOption.contains("-run")
    val args = if (run) args0.drop(1) else args0
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q_index_build", "q5_region_revenue", "q_minhash_lsh",
        "q_cosine_topk", "q_sessionize", "q1_pricing",
        "q2_min_cost_supp", "q_winnowing", "q_ivm_join", "q_novelty",
        "q_cms_counts", "q_seq_packing", "q_user_activity_window",
        "q_incremental_neardup", "q_containment_pairs", "q_vocab_overlap",
        "q_range_join", "q_span_scrub", "q_shard_manifest", "q_asof_native",
        "q_asof_broadcast", "q_pareto_frontier", "q_pmi_collocations",
        "q_robust_anomaly", "q_vocab_kmv_native",
        "q_constraint_audit", "q_distribution_drift", "q_epoch_shuffle",
        "q_hourly_anomaly", "q_sketch_quantiles", "q_range_boundaries",
        "q_vocab_overlap_native", "q_scd2_build",
        "q_linear_model", "q_linear_grouped", "q_linear_outliers",
        "q_measured_join",
        "q_nb_train", "q_nb_predict", "q_event_transitions",
        "q_mv_hourly", "q_mv_bytype", "q_self_scrub",
        "q_copurchase_triangles", "q_embed_covariance",
        "q_basket_rules", "q_mv_daily",
        // round-13: native-kernel similarity tier, moment derivatives,
        // multi-view selection, refreshed postings serve
        "q_embed_correlation", "q_embed_drift", "q_label_centroids",
        "q_knn_classify", "q_pq_topk", "q_binary_topk", "q_ivf_serve",
        "q_mv_choose", "q_index_refresh", "q_join_size_est",
        // round-14: composed IVF-PQ serving, nearest-centroid classify,
        // contrastive mining, DSIR importance weights
        "q_ivfpq_topk", "q_centroid_classify", "q_hard_negatives",
        "q_dsir_weights",
        // round-15: PII census/redaction, the PII-gated curation, and
        // predicate-pushed filtered ANN
        "q_pii_scrub", "q_pii_curate", "q_filtered_ann", "q_ivfpq_refresh",
        "q_scrub_report", "q_decontaminate", "q_ivf_cell_stats",
        "q_padding_report", "q_span_corruption", "q_dsir_select",
        "q_curation_funnel")
    // honor the bench's core-count env so plan dumps reflect bench
    // conditions (the scan-spread guard keys on the slot count)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session("graft-explain", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // internal BUILD plans (the expensive one-shot materializations whose
    // serve-side declared queries read back a parquet artifact): named
    // `plan:<x>` so a round's before/after evidence can cover the builds
    // the bench times as *_materialize entries
    val buildPlans: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "plan:jaccard_pairs" -> ((s, d) =>
        graft.operators.Dedup.jaccardPairsPlan(s, d, 0.8, collapse = false,
          sorted = false)),
      // the r18 artifact shape (two separate writes, unspread scan) —
      // kept dumpable so a before/after pair can be produced from any
      // tree state
      "plan:emb_moments_pair_r18" -> ((s, d) =>
        graft.operators.Covariance.pairCells(graft.operators.Covariance
          .quantized(graft.sources.Tables.embeddings(s, d)))),
      "plan:emb_moments_dim_r18" -> ((s, d) =>
        graft.operators.Covariance.dimCells(graft.operators.Covariance
          .quantized(graft.sources.Tables.embeddings(s, d)))),
      "plan:emb_moments" -> ((s, d) => {
        import org.apache.spark.sql.functions._
        val q = graft.operators.Covariance.quantized(graft.util.Spread.scan(s,
          graft.sources.Tables.embeddings(s, d), s"embeddings|$d"))
        graft.operators.Covariance.pairCells(q)
          .select(lit("p").as("kind"), col("d"), col("idx"), col("n"), col("sij"))
          .unionByName(graft.operators.Covariance.dimCells(q)
            .select(lit("d").as("kind"), lit(-1).as("d"), col("dim").as("idx"),
              lit(0L).as("n"), col("s").as("sij")))
      }))
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = buildPlans.get(n).map(_(spark, sfDir))
        .getOrElse(SparkEntry.queries(n)(spark, sfDir))
      if (run) {
        // collect() drives THIS df's QueryExecution (a writer would build
        // its own), so executedPlan afterwards is the final adaptive plan
        df.collect()
        println(df.queryExecution.executedPlan.toString)
      } else df.explain("formatted")
    }
    spark.stop()
  }
}
