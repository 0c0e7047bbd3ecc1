package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** The composed end-to-end curation pipeline — what a training-data job
  * actually runs before tokenization: drop exact duplicates, drop near-
  * duplicate cluster losers, keep documents passing the quality gate.
  * Each stage is an already-verified operator; this is their composition
  * as ONE declarative plan, so Catalyst sees the whole pipeline (the
  * semi/anti joins reuse the materialized cluster labels and the corpus
  * is tokenized once).
  *
  * Keeper rules are deterministic (min doc_id per content hash / per
  * connected component), so the curated corpus is byte-stable across
  * reruns — a requirement for reproducible training runs.
  */
object Curate {

  /** The curation pipeline's shared gate constants — the gates AND the
    * funnel audit reference these, so the audit structurally mirrors
    * the pipeline it reports on instead of restating its thresholds.
    */
  private[graft] val NearDupThreshold = 0.8
  private[graft] val MinTokens = 10
  private[graft] val MaxTokens = 5000

  /** Curated corpus: (doc_id, lang, n_tokens) of surviving documents.
    *
    *  - exact stage: keep the min doc_id per sha256(text);
    *  - near-dup stage: drop docs whose Jaccard-0.8 component labels them
    *    a non-minimum member ([[Dedup.dupClusters]]);
    *  - quality gate: token count within [minTokens, maxTokens].
    */
  def curateCorpus(spark: SparkSession, sfDir: String,
                   minTokens: Int = MinTokens,
                   maxTokens: Int = MaxTokens): DataFrame = {
    val c = Dedup.corpus(spark, sfDir)
    val toks = c.docs
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val exactKeepers = Dedup.exactKeeperIds(c.docs)
    val nearLosers = Dedup.clusterLabels(spark, c, NearDupThreshold)
      .filter(col("cluster_id") =!= col("doc_id")).select("doc_id")
    toks
      .join(exactKeepers, Seq("doc_id"), "left_semi")
      .join(nearLosers, Seq("doc_id"), "left_anti")
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .orderBy("doc_id")
  }

  /** V2 curation: [[curateCorpus]]'s dedup + length gates composed with
    * the CONTENT-quality signals — boilerplate share
    * ([[TextAnalysis.boilerplateRatio]]) and Gopher-style bigram
    * repetition ([[TextAnalysis.repetitionStats]]). Survivors carry their
    * gate signals, so a pipeline audit sees why each document passed.
    * Signal relations join on doc_id as LEFT joins with a 0.0 default:
    * a document too short to have shingles/bigrams has nothing to gate
    * on and passes (the length gate owns the too-short case). Still one
    * declarative plan — every stage is an already-oracle-verified
    * operator, and Catalyst plans the whole composition together.
    */
  def curateCorpusV2(spark: SparkSession, sfDir: String,
                     minTokens: Int = MinTokens, maxTokens: Int = MaxTokens,
                     maxBoiler: Double = 0.5,
                     maxDupBigram: Double = 0.08): DataFrame = {
    val boiler = TextAnalysis.boilerplateRatio(spark, sfDir)
      .select(col("doc_id"), col("boiler_ratio"))
    val rep = TextAnalysis.repetitionStats(spark, sfDir)
      .select(col("doc_id"), col("dup_bigram_ratio"))
    curateCorpus(spark, sfDir, minTokens, maxTokens)
      .join(boiler, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"), "left")
      .withColumn("boiler_ratio", coalesce(col("boiler_ratio"), lit(0.0)))
      .withColumn("dup_bigram_ratio",
        coalesce(col("dup_bigram_ratio"), lit(0.0)))
      .filter(col("boiler_ratio") <= maxBoiler &&
        col("dup_bigram_ratio") <= maxDupBigram)
      .orderBy("doc_id")
  }

  /** V3 — the round-10 capstone composition, ending at the EXPORT plan:
    * keep-longest retention over the near-dup clusters
    * ([[Dedup.clusterKeepLongest]]'s keeper rule), corpus-relative span
    * scrub of the keepers ([[TextAnalysis.spanScrubRelative]] — shared
    * grams counted over the FULL corpus, so a mirror's boilerplate is
    * scrubbed even when its twin was dropped), a survived-token quality
    * gate, and the token-budget shard manifest of what ships
    * ([[Packing.shardManifest]]'s doc-atomic rule). One declarative plan
    * from raw corpus to balanced output shards; every stage's semantics
    * is the already-oracle-verified operator's.
    */
  def curatedShards(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.8, minKept: Int = 5,
                    budgetTokens: Long = 2048): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Dedup.corpus(spark, sfDir)
    val cl = Dedup.clusterLabels(spark, c, threshold)
      .select("doc_id", "cluster_id")
    val keeperRank = Window.partitionBy(col("cid"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val keepers = c.docs
      .select("doc_id", "n_chars")
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("rk", row_number().over(keeperRank))
      .filter(col("rk") === 1)
      .select("doc_id")
    // scrub COUNTS from the materialized artifact (built once per corpus
    // state): this composition consumes only (doc_id, n_kept), so the
    // token-gram scan is a build-time cost, not a per-serve one
    val survivors = spark.read
      .parquet(TextAnalysis.ensureScrubCounts(spark, sfDir))
      .select(col("doc_id"), col("n_kept"))
      .join(keepers, "doc_id")
      .filter(col("n_kept") >= minKept)
      .select(col("doc_id"), (col("n_kept") + 1).as("n_tokens"))
    Packing.manifestOfCounts(survivors, contextLen = 1, nBuckets = 32,
        baseOffset = 0L)
      .withColumn("shard_id", expr(s"start_off div $budgetTokens"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_shard_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard_id")
  }

  /** q_curation_funnel: the pipeline AUDIT every curation run logs —
    * how many documents survive each successive gate (raw → exact dedup
    * → near-dup clusters → length → PII), as one row of cumulative
    * counts. Each gate is the already-verified operator's rule evaluated
    * as a per-doc FLAG, so the funnel is ONE plan: flags project/join
    * row-locally (cluster labels from the materialized relation, PII
    * row-local), and the five counts are conditional sums over a single
    * corpus pass — no per-stage re-scan.
    */
  def curationFunnel(spark: SparkSession, sfDir: String,
                     minTokens: Int = MinTokens, maxTokens: Int = MaxTokens,
                     maxPii: Long = Privacy.MaxPiiDefault): DataFrame = {
    val c = Dedup.corpus(spark, sfDir)
    val toks = c.docs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
    val exact = Dedup.exactKeeperIds(c.docs)
      .withColumn("is_exact", lit(true))
    val nearLosers = Dedup.clusterLabels(spark, c, NearDupThreshold)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"), lit(true).as("is_loser"))
    val pii = Privacy.piiPerDoc(spark, sfDir)
      .select(col("doc_id"), col("pii_total"))
    toks
      .join(exact, Seq("doc_id"), "left")
      .join(nearLosers, Seq("doc_id"), "left")
      .join(pii, "doc_id")
      .select(
        coalesce(col("is_exact"), lit(false)).as("g1"),
        coalesce(!col("is_loser"), lit(true)).as("g2"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .as("g3"),
        (col("pii_total") <= maxPii).as("g4"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("g1"), 1L).otherwise(0L)).as("n_after_exact"),
        sum(when(col("g1") && col("g2"), 1L).otherwise(0L))
          .as("n_after_neardup"),
        sum(when(col("g1") && col("g2") && col("g3"), 1L).otherwise(0L))
          .as("n_after_length"),
        sum(when(col("g1") && col("g2") && col("g3") && col("g4"), 1L)
          .otherwise(0L)).as("n_after_pii"))
  }

  /** PARETO-FRONTIER (skyline) document selection — the budget-curation
    * question "which documents are on the quality-vs-cost frontier?":
    * keep every document NOT dominated by another (higher-or-equal
    * distinct-token quality at lower-or-equal char cost, strictly better
    * in at least one). Metrics are integers, so the frontier is
    * bit-identical on any engine.
    *
    * Scale posture — the naive formulation is a self-join (O(n²) dominance
    * anti-join); the single-window formulation is a GLOBAL sort funnel.
    * This runs the standard two-phase skyline instead: a partition-local
    * skyline per hash bucket (one key-column-width exchange, each bucket
    * shrinks to its own frontier — expected O(log n) rows for non-
    * degenerate metric distributions), then the same rule once more over
    * the union of the tiny local frontiers. Sound because dominance
    * within a bucket implies global dominance; complete because a
    * globally undominated row is undominated in its bucket.
    */
  def paretoFrontier(spark: SparkSession, sfDir: String): DataFrame =
    frontierOf(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        size(array_distinct(tokens(col("text")))).cast("long")
          .as("n_distinct")))

  /** The two-phase skyline over an explicit (doc_id, n_chars, n_distinct)
    * relation — minimize n_chars, maximize n_distinct. Exposed for the
    * spec's brute-force and partition-invariance checks.
    */
  private[graft] def frontierOf(m: DataFrame, nBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one skyline pass under an optional bucketing: a row survives iff
    //  - no row at STRICTLY lower cost has >= its quality (RANGE frame to
    //    -1 on integer cost ≡ cost' < cost), and
    //  - no row at EQUAL cost has STRICTLY higher quality
    // (equal (cost, quality) points never dominate each other: both kept)
    def pass(df: DataFrame, part: Seq[org.apache.spark.sql.Column]): DataFrame = {
      val cheaper = Window.partitionBy(part: _*).orderBy(col("n_chars"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val sameCost = Window.partitionBy((part :+ col("n_chars")): _*)
      df.withColumn("best_cheaper", max(col("n_distinct")).over(cheaper))
        .withColumn("best_equal", max(col("n_distinct")).over(sameCost))
        .filter((col("best_cheaper").isNull ||
            col("best_cheaper") < col("n_distinct")) &&
          col("best_equal") === col("n_distinct"))
        .drop("best_cheaper", "best_equal")
    }
    val clean = m.filter(col("n_chars").isNotNull && col("n_distinct").isNotNull)
    val local = pass(
      clean.withColumn("bucket", pmod(hash(col("doc_id")), lit(nBuckets))),
      Seq(col("bucket"))).drop("bucket")
    pass(local, Seq.empty).orderBy("doc_id")
  }
}
