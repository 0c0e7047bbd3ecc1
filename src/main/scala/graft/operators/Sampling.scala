package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic sampling operators for training-data curation.
  *
  * A 100 TB pipeline can't use `rand()`-based sampling for anything that
  * must be reproducible across reruns, retries, or engines: a retried task
  * would emit a different sample. Instead every decision here is a pure
  * function of the row key — a Knuth multiplicative hash
  * (h = id·2654435761 mod 2^32, Fibonacci hashing) — so the sample is
  * stable run-to-run, engine-exact (integer-only, reproducible in the
  * DuckDB oracle), and embarrassingly parallel: a pure map-side filter
  * with NO shuffle, which is the entire point at scale.
  */
object Sampling {

  private val M32 = 4294967296L

  /** h(id) mod 100 — a deterministic percentile bucket per row; exact for
    * any 64-bit id (decimal-domain product, see
    * [[graft.functions.HashFunctions]]).
    */
  private def pctBucket(id: org.apache.spark.sql.Column) =
    graft.functions.HashFunctions.knuthMod(id, M32) % 100

  /** LEAKAGE-SAFE train/val/test split: hashing doc_id alone
    * ([[graft.operators.TextAnalysis.trainValTestSplit]]) lets two
    * near-duplicate documents straddle the split — the classic eval
    * contamination where "held-out" data has a near-copy in train. The
    * fix every serious pipeline applies: split by the DUP-CLUSTER label
    * (the component-minimum doc_id from [[Dedup.dupClusters]]) — all
    * members of a near-dup cluster share one hash input, so a cluster
    * lands wholly on one side; unclustered docs fall back to their own
    * id (which equals what their singleton label would be). Same Knuth
    * bucket rule and 98/1/1 cut as the naive split, so the two reports
    * are directly comparable; n_clustered counts the docs whose side was
    * decided by a shared label (the leakage the naive split risked).
    * Cost over the naive split: one join against the materialized
    * cluster labels — a relation sized by the DEDUP OUTPUT, not the
    * corpus.
    */
  def leakageSafeSplit(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.8): DataFrame = {
    val labels = Dedup.dupClusters(spark, sfDir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val bucket = pctBucket(col("split_key"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text")))
          .cast("long").as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("n_tokens"), col("cluster_id"),
        when(bucket < 98, "train").when(bucket < 99, "val").otherwise("test")
          .as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("cluster_id").isNotNull, 1L).otherwise(0L))
          .as("n_clustered"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("split")
  }

  /** Stratified (per-language) Bernoulli sample: keep `pct(lang)`% of each
    * stratum, deterministically. Rebalances a skewed corpus (e.g. keep 25%
    * of dominant `en`, 60% of the rest) in one shuffle-free pass —
    * `sampleBy` semantics, minus the non-determinism.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String,
                       pctByLang: Map[String, Int],
                       defaultPct: Int): DataFrame = {
    val pct = pctByLang.foldLeft(lit(defaultPct)) { case (acc, (l, p)) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .filter(pctBucket(col("doc_id")) < pct)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** MIXTURE RESAMPLING: derive per-source keep-rates that move the corpus
    * to target mixture WEIGHTS by downsampling only (no duplication), then
    * report the plan and its achieved counts. The bottleneck source — the
    * one already scarcest relative to its weight — keeps 100%, every other
    * source keeps `target_w · bottleneck_docs / (bottleneck_w · n_docs)`
    * of its documents, so the kept corpus lands on the target proportions
    * as closely as ppm-granular deterministic hashing allows.
    *
    * Engine-exact by construction: the bottleneck is selected by ratio
    * (ties by source name), the keep-rate is INTEGER arithmetic
    * (ppm = 1e6·t·m_docs div (m_w·n)), and the keep decision is the same
    * Knuth-hash bucket rule as [[stratifiedSample]] — a retried task, a
    * rerun, or the DuckDB oracle all keep the identical documents. (The
    * 1e6·t·n product fits int64 up to ~10^10 docs per source; past that a
    * pipeline would widen to decimal.)
    */
  def mixtureResample(spark: SparkSession, sfDir: String,
                      weights: Map[String, Int], defaultW: Int): DataFrame = {
    val w = weights.foldLeft(lit(defaultW)) { case (acc, (s, t)) =>
      when(col("source") === s, lit(t)).otherwise(acc)
    }
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val cnts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("target_w", w)
    val bottleneck = cnts
      .orderBy((col("n_docs").cast("double") / col("target_w")).asc,
        col("source").asc)
      .limit(1)
      .select(col("n_docs").as("m_docs"), col("target_w").as("m_w"))
    val rated = cnts.crossJoin(broadcast(bottleneck))
      .withColumn("keep_ppm",
        // bigint first so the int×int product can't overflow for large
        // target weights (1000000 * w exceeds int32 at w > 2147)
        expr("(bigint(1000000) * target_w * m_docs) div (bigint(m_w) * n_docs)"))
    docs.join(broadcast(rated), "source")
      .withColumn("kept",
        (graft.functions.HashFunctions.knuthMod(col("doc_id"), M32) % 1000000 <
          col("keep_ppm")).cast("int"))
      .groupBy(col("source"), col("n_docs"), col("target_w"), col("keep_ppm"))
      .agg(sum(col("kept")).as("n_kept"))
      .orderBy("source")
  }

  /** WEIGHT-PROPORTIONAL Bernoulli sample: each document is kept with
    * probability w/cap where w = min(n_chars, cap) — the per-ROW
    * continuous-weight generalization of [[stratifiedSample]]'s
    * per-stratum rate (the shape quality-weighted downsampling takes in
    * curation pipelines: weight by any integer row signal, here capped
    * length). The decision is the same Knuth-hash rule — `h(doc_id) mod
    * cap < w` — so it stays a pure map-side filter: shuffle-free,
    * retry-stable, engine-exact, no `rand()` anywhere. The report compares
    * achieved keeps against the exact expected value Σw/cap per source —
    * the concentration check a curation job logs.
    */
  def weightedSample(spark: SparkSession, sfDir: String,
                     cap: Int = 2000): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        least(col("n_chars"), lit(cap.toLong)).as("w"))
      .withColumn("kept",
        (graft.functions.HashFunctions.knuthMod(col("doc_id"), M32) % cap <
          col("w")).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_kept"),
        round(sum(col("w")) / cap.toDouble, 4).as("expected_kept"),
        sum(col("kept") * col("n_chars")).as("chars_kept"))
      .orderBy("source")
  }

  /** Per-stratum sampling REPORT: achieved vs requested rate per language.
    * The per-stratum counts are the aggregation a curation job logs to
    * prove the rebalance landed; one partial-aggregated shuffle.
    */
  def stratifiedSampleStats(spark: SparkSession, sfDir: String,
                            pctByLang: Map[String, Int],
                            defaultPct: Int): DataFrame = {
    val pct = pctByLang.foldLeft(lit(defaultPct)) { case (acc, (l, p)) =>
      when(col("lang") === l, lit(p)).otherwise(acc)
    }
    Tables.documents(spark, sfDir)
      .select(col("lang"), pct.as("req_pct"),
        (pctBucket(col("doc_id")) < pct).cast("int").as("kept"))
      .groupBy("lang", "req_pct")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .withColumn("got_pct",
        round(col("n_kept") * 100.0 / col("n_total"), 4))
      .orderBy("lang")
  }

  /** Per-source quota cap — the anti-domination gate of web-corpus
    * curation: no source contributes more than `cap` documents, admission
    * ordered deterministically by doc_id (row_number over a unique
    * ordering, so both engines keep the identical set — a sampled keep
    * rule would not give the "first N" semantics a crawl-frontier quota
    * has). The per-source total rides the SAME source-keyed exchange as
    * the ranking window, so the cap costs one shuffle of doc METADATA —
    * text never moves.
    */
  def quotaCap(spark: SparkSession, sfDir: String, cap: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy("source")
    Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("n_docs", count(lit(1)).over(bySource))
      .withColumn("rn", row_number().over(bySource.orderBy("doc_id")))
      .filter(col("rn") <= cap)
      .groupBy(col("source"), col("n_docs"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
      .orderBy("source")
  }

  /** DETERMINISTIC EPOCH SHUFFLE — multi-epoch training order WITHOUT a
    * shuffle service or an RNG: each epoch's permutation is the rank of
    * a keyed integer hash h(doc_id, epoch), so every retry, every
    * engine, and every epoch-resume lands on the identical order, while
    * distinct epochs see decorrelated permutations (the property real
    * loaders get from reshuffling). The rank comes from ONE two-phase
    * distributed prefix scan over (epoch, h, doc_id) — never a global
    * sort window — and the per-epoch rank is recovered arithmetically
    * (global_rank − epoch·n_docs, every epoch carrying the full corpus).
    * The report is epoch-count rows: a permutation checksum
    * (Σ (doc_id+1)·rank mod p — order-sensitive, so ANY transposition
    * changes it) plus each epoch's opening document.
    */
  def epochShuffle(spark: SparkSession, sfDir: String,
                   epochs: Int = 2): DataFrame = {
    val e = Tables.documents(spark, sfDir).select(col("doc_id"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      // two multiplicative rounds: a single +epoch·B offset is order-
      // preserving mod 2^32 (a constant shift), so the second multiply
      // re-mixes it — distinct epochs then see decorrelated ranks
      .withColumn("h",
        expr(("(((CAST(doc_id AS DECIMAL(38,0)) * 2654435761 " +
          "+ epoch * 40503) % 4294967296) * 2654435761) % 4294967296"))
          .cast("long"))
      .withColumn("one", lit(1L))
    val ranked = Scan.prefixSumBy(e,
      Seq(col("epoch"), col("h"), col("doc_id")), "one", "grank",
      totalCol = Some("total"))
    ranked
      .withColumn("rk",
        col("grank") - col("epoch").cast("long") *
          expr(s"total div $epochs"))
      .groupBy(col("epoch").cast("long").as("epoch"))
      .agg(count(lit(1)).as("n_docs"),
        // cast the factor to decimal BEFORE multiplying: a Long×Long
        // product past 2^63 would wrap silently (ANSI off) while the
        // oracle multiplies in HUGEINT — divergent exactly at scale
        (sum((col("doc_id") + 1).cast("decimal(38,0)") * col("rk"))
          % 1000000007L).cast("long").as("perm_checksum"),
        max(when(col("rk") === 1L, col("doc_id"))).as("first_doc"))
      .orderBy("epoch")
  }

  // ——— DSIR importance weights ———

  /** Materialize the combined unigram counts of BOTH language models in
    * ONE corpus pass — (term, n_s over every doc, n_t over target-domain
    * docs) — so the vocab-sized grid and its one-row totals never re-scan
    * the corpus (the [[NaiveBayes.ensureTrainCounts]] discipline: a
    * multi-consumer relation recomputes its subtree per consumer in a
    * static plan). Keyed on the corpus LISTING SIGNATURE, so a mutated
    * corpus rebuilds the counts instead of joining a stale grid against
    * the fresh token stream.
    */
  private def ensureDsirCounts(spark: SparkSession, sfDir: String,
                               targetLang: String): String = {
    val docs = Tables.documents(spark, sfDir)
    graft.util.Scratch.memoizedDir(spark,
      s"graft_dsir_${targetLang}_" + graft.util.Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(docs)) { path =>
      docs
        .select(col("lang"),
          graft.functions.TextFunctions.explodedTokens(col("text")).as("term"))
        .groupBy("term")
        .agg(count(lit(1)).as("n_s"),
          count(when(col("lang") === targetLang, 1)).as("n_t"))
        .write.mode("overwrite").parquet(path)
    }
  }

  /** Laplace-smoothed quantized log-likelihood in integer micro-nats —
    * the [[NaiveBayes.llqExpr]] fragment over arbitrary column names.
    */
  private def llq(n: String, tot: String): String =
    s"CAST(round(ln(CAST($n + 1 AS DOUBLE) / CAST($tot + v AS DOUBLE)) * 1000000) AS BIGINT)"

  /** q_dsir_weights: Data Selection via Importance Resampling (Xie et
    * al. 2023, arXiv:2302.03169) — per-document importance weight
    * w(doc) = Σ_tokens [log p_target(tok) − log p_source(tok)] under two
    * Laplace-smoothed unigram LMs sharing the source vocabulary (target =
    * the `targetLang` slice standing in for the curated target domain;
    * source = the whole corpus). Documents that look like the target
    * domain score high and survive the downstream resample
    * ([[mixtureResample]]'s keep rule consumes exactly this ordering).
    *
    * Exactness follows the NB recipe: each per-term log-likelihood is
    * quantized to integer micro-nats by the shared ln fragment, so the
    * per-doc weight is an exact BIGINT sum — no order-dependent double
    * accumulation, engine-identical. Scale: one corpus pass builds the
    * materialized count table, the grid is vocab-sized with broadcast
    * one-row totals, and scoring is token-stream ⋈ broadcast grid with
    * map-side combine — the only data-sized exchange carries (doc)
    * partials. Zero-token documents surface with w = 0, not silently
    * dropped.
    */
  def dsirWeights(spark: SparkSession, sfDir: String,
                  targetLang: String = "en"): DataFrame = {
    val cnt = spark.read.parquet(ensureDsirCounts(spark, sfDir, targetLang))
    val tots = cnt.agg(sum("n_s").cast("long").as("tot_s"),
      sum("n_t").cast("long").as("tot_t"), count(lit(1)).as("v"))
    val grid = cnt.crossJoin(broadcast(tots))
      .select(col("term"),
        (expr(llq("n_t", "tot_t")) - expr(llq("n_s", "tot_s"))).as("dllq"))
    // the grid is the RAW-TERM vocabulary — unbounded at corpus scale
    // (10⁸–10⁹ rows on a web crawl), so the broadcast decision is
    // MEASURED, never forced: under the threshold the token stream scans
    // map-side against the broadcast grid; over it the same plan takes a
    // shuffle join on term (both sides hash-partition; the token side's
    // exchange carries (doc_id, term) pairs, the same weight the map-side
    // combine would read anyway)
    val perDoc = JoinPlanner.measuredJoinUsing(
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.explodedTokens(col("text")).as("term")),
      grid, Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_toks"), sum("dllq").as("w_llq"))
    Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("w_llq"), lit(0L)).as("w_llq"))
      .orderBy("doc_id")
  }

  /** q_dsir_select: the importance-resampling SELECTION the weights
    * exist for — the fixed-k documents that look most like the target
    * domain, by (weight DESC, doc_id) with deterministic ties. A fixed k
    * means the cut is a TakeOrderedAndProject (per-partition top-k, one
    * O(k) exchange), never a global sort of the corpus; the weights
    * themselves come from the memoized one-pass count table.
    */
  def dsirSelect(spark: SparkSession, sfDir: String,
                 targetLang: String = "en", k: Int = 50): DataFrame =
    dsirWeights(spark, sfDir, targetLang)
      .select("doc_id", "lang", "source", "w_llq")
      .orderBy(col("w_llq").desc, col("doc_id"))
      .limit(k)
}
