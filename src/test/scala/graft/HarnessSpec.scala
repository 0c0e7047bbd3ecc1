package graft

import org.apache.spark.sql.functions.col

/** The shared harness pieces: the build list every main picks from, and
  * the counting listener's Spark and streaming counters.
  */
class HarnessSpec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {

  private lazy val counters = Harness.Counters(spark)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(counters)
    super.afterAll()
  }

  test("builds keep the bench's and the scale smoke's names and order") {
    assert(Bench.builds.map(_._1) === Seq(
      "index_materialize", "positional_materialize", "shingles_materialize",
      "jaccard_pairs_materialize", "dup_groups_materialize",
      "dup_clusters_materialize", "bucketed_tables_materialize",
      "clustered_layout_materialize", "bloom_manifest_materialize",
      "graph_edges_materialize", "pq_codes_materialize",
      "session_feed_materialize", "ssouter_feed_materialize",
      "token_grams_materialize", "scrub_counts_materialize",
      "nb_model_materialize", "luma_grid_materialize",
      "audio_sig_materialize", "winnow_sel_materialize",
      "emb_moments_materialize"))
    // labels before pairs: the scale smoke's own order
    assert(ScaleSmoke.SmokeBuilds.map(_._1) === Seq(
      "shingles_build", "dup_groups_build", "dup_clusters_build",
      "jaccard_pairs_build", "graph_edges_build", "pq_codes_build",
      "luma_grid_build", "audio_sig_build"))
  }

  test("a shuffling action shows up as jobs and shuffle bytes in a snap delta") {
    val s0 = counters.snap()
    spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count().collect()
    val d = counters.snap() - s0
    assert(d.jobs >= 1)
    assert(d.stages >= 1)
    assert(d.shuffleBytes > 0)
  }

  test("a streaming drain on a cloned session counts starts, batches and phases") {
    val s0 = counters.snap()
    graft.streaming.StreamingIndexer.indexAvailableNow(spark, sf).collect()
    val d = counters.snap() - s0
    assert(d.starts >= 1)
    assert(d.batches >= 1)
    assert(d.phaseMs.contains("addBatch"), d.phaseMs.keys.mkString(","))
  }
}
