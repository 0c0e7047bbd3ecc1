package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.PairProductsExpr
import graft.sources.Tables

/** Exact covariance statistics over the embedding corpus — the
  * preprocessing layer for whitening, drift detection, and PCA. The
  * same closed-form recipe as [[LinearModel]]: quantize once, reduce to
  * integer sufficient statistics, derive the real-valued answer at the
  * very end, so the distributed part is one pass of exact, mergeable,
  * order-independent sums (a double Σxᵢxⱼ would hash differently per
  * partitioning; these BIGINT/decimal moments cannot).
  *
  * Components are quantized to micro-units with `floor(x·1e6 + 0.5)` —
  * floor is exact on doubles, so Spark and any other engine (the DuckDB
  * oracle included) produce bit-identical grids. The d(d+1)/2 pair
  * products are generated ROW-LOCALLY by the native codegen'd
  * [[graft.functions.PairProducts]] expression — one dense primitive
  * `array<long>` per row whose POSITION is the pair identity, so the
  * hot stream carries one long per pair (no struct, no interpreted
  * lambda: Spark does not codegen `transform`/`flatten` HOFs, and the
  * earlier HOF form spent its whole 3.8 s warm budget on interpreted
  * struct construction). The only exchange carries the d(d+1)/2-cell
  * partial sums keyed by (row width, position) — map-side combined; the
  * corpus never shuffles — and (d, idx)→(dim_i, dim_j) is recovered
  * AFTER aggregation by an exact closed-form inversion computed per
  * cell, then cells re-merge on (dim_i, dim_j): per-row widths make a
  * mixed-width corpus attribute every product to the right cell (the
  * decode and re-merge are cell-table-sized for any real embedding
  * width). Work is the inherent O(n·d²) of covariance; the cell sums
  * accumulate in decimal(38,0) so a 1e9-row corpus cannot overflow
  * them.
  */
object Covariance {

  private val d38 = "decimal(38,0)"

  /** Embedding rows quantized to one micro-unit long array per row. */
  private[graft] def quantized(emb: DataFrame): DataFrame =
    emb.select(expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))")
      .as("q"))

  /** Pair-product partial cells keyed by (row width d, dense position):
    * the hot stream carries ONE long per pair — the product, at the
    * row-major upper-triangle position that IS the pair identity within
    * ITS OWN row's width — NOT (qi, qj) values or an (idx, qq) struct.
    * Carrying d in the key keeps mixed-width rows CORRECT (a 32-wide
    * row's position 4 means a different (i, j) than a 64-wide row's;
    * decoding happens per (d, idx) in [[gridOf]] and cells re-merge on
    * (i, j) afterwards — all cell-table-sized). Mergeable across any
    * regrouping (counts and decimal sums), which is what the streaming
    * twin's per-batch merge relies on.
    */
  private[graft] def pairCells(q: DataFrame): DataFrame =
    q.select(size(col("q")).as("d"),
        posexplode(PairProductsExpr.pairProducts(col("q")))
          .as(Seq("idx", "qq")))
      .groupBy(col("d"), col("idx"))
      .agg(count(lit(1)).as("n"), sum(col("qq").cast(d38)).as("sij"))

  /** Per-dim first-moment cells — a d-cell side aggregation joined back
    * onto the pair grid (metadata-sized, broadcast).
    */
  private[graft] def dimCells(q: DataFrame): DataFrame =
    q.select(posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy(col("dim")).agg(sum(col("qv").cast(d38)).as("s"))

  /** (d, idx) → (dim_i, dim_j): k = i·(2d−i+1)/2 + (j−i) inverts in
    * closed form as i = ⌊(2d+1 − √((2d+1)² − 8k)) / 2⌋, j = i + k −
    * offset(i). The double √ is EXACT here: at a row boundary the
    * radicand is the perfect square (2d+1−2i)² (algebraic identity), a
    * correctly-rounded sqrt of a perfect square ≤ 2^53 is exact, and
    * between boundaries monotonicity pins the floor — so the decode is
    * deterministic integer-correct for any d ≤ 2^25. Computed per CELL
    * (cell-table-sized), which is what makes per-row widths affordable:
    * no global mapping table, no assumption that every row shares one d.
    */
  private def decodePairs(cells: DataFrame): DataFrame = {
    val twoD1 = (lit(2L) * col("d") + 1).cast("double")
    val i = floor((twoD1 - sqrt(twoD1 * twoD1 - lit(8.0) * col("idx")))
      / 2).cast("int")
    cells
      .withColumn("dim_i", i)
      // integer DIV (the dividend i·(2d−i+1) is provably even: i and
      // 2d+1−i have opposite parity), never Column `/` double division
      .withColumn("dim_j", expr(
        "CAST(idx - CAST(dim_i AS BIGINT) * (2 * d - dim_i + 1) DIV 2" +
          " + dim_i AS INT)"))
  }

  /** Decoded cells re-merged on (dim_i, dim_j): a mixed-width corpus
    * attributes every pair product to the right cell exactly like the
    * per-row-width HOF form did (both aggregations after the corpus pass
    * are cell-table-sized).
    */
  private def mergedCells(pairSums: DataFrame): DataFrame =
    decodePairs(pairSums)
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(sum(col("n")).as("n"), sum(col("sij")).cast(d38).as("sij"))

  /** Assemble the output grid from (possibly streaming-maintained) moment
    * cells — shared verbatim by the batch query and the drained-state
    * serve, so "streamed cells ≡ batch cells" implies identical grids.
    */
  private[graft] def gridOf(pairSums: DataFrame, dimSums: DataFrame): DataFrame =
    mergedCells(pairSums)
      .join(broadcast(dimSums.select(col("dim").as("dim_i"), col("s").as("si"))), "dim_i")
      .join(broadcast(dimSums.select(col("dim").as("dim_j"), col("s").as("sj"))), "dim_j")
      .select(col("dim_i"), col("dim_j"), col("n"),
        col("si").cast("long").as("s_i"),
        col("sj").cast("long").as("s_j"),
        col("sij").cast("long").as("s_ij"),
        // `+ 0.0` normalizes IEEE negative zero: a tiny negative raw
        // covariance rounds to -0.0 in some engines (DuckDB keeps the
        // sign) and +0.0 in others — the sign bit would hash differently
        // even though the values compare equal. -0.0 + 0.0 = +0.0 exactly,
        // and x + 0.0 = x for every other double, so this is a pure
        // zero-sign canonicalization. Mirrored in the oracle SQL.
        (round((col("n").cast(d38) * col("sij") - col("si") * col("sj"))
          .cast("double")
          / ((col("n") * col("n")).cast("double") * lit(1e12)), 6) + lit(0.0)).as("cov"))
      .orderBy("dim_i", "dim_j")

  /** Materialize the exact moment cells (pair products + first moments)
    * once per corpus state: the covariance grid, the correlation grid,
    * and the PCA eigen-solve all derive from the same d(d+1)/2 + d cells,
    * and each consumer runs twice in the bench — off the artifact the
    * corpus-sized pass happens once and every consumer reads a
    * cell-table-sized parquet (the scrub-counts/token-gram economics).
    */
  private[graft] def ensureMomentCells(spark: SparkSession,
                                       sfDir: String): String =
    graft.util.Scratch.memoizedDir(spark,
      "graft_embmoments_" + graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.embeddings(spark, sfDir))) { path =>
      // the d(d+1)/2 pair-product explosion is the expensive per-row step
      // and the bench embeddings table is single-row-group parquet = a
      // ONE-TASK scan at any core count: spread it before the explode
      // (the documents-scan guard — a no-op on a many-split production
      // table). Streaming covariance applies the same spread per batch.
      val q = quantized(graft.util.Spread.scan(spark,
        Tables.embeddings(spark, sfDir), s"embeddings|$sfDir"))
      // ONE tagged cell table (dim cells ride d = −1, idx = dim) — the
      // split pair/dim layout paid a second write job + commit + read per
      // build/serve for two tiny tables; same tagging as the streaming
      // twin's state. Both cell families keep their exact sums.
      pairCells(q)
        .select(lit("p").as("kind"), col("d"), col("idx"), col("n"), col("sij"))
        .unionByName(dimCells(q)
          .select(lit("d").as("kind"), lit(-1).as("d"), col("dim").as("idx"),
            lit(0L).as("n"), col("s").as("sij")))
        .write.mode("overwrite").parquet(path)
    }

  private def storedPairCells(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensureMomentCells(spark, sfDir))
      .where(col("kind") === "p").select("d", "idx", "n", "sij")

  private def storedDimCells(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensureMomentCells(spark, sfDir))
      .where(col("kind") === "d")
      .select(col("idx").cast("int").as("dim"), col("sij").as("s"))

  /** The upper-triangle covariance grid: exact integer moments per dim
    * pair plus the derived population covariance (one double division of
    * exact integers, rounded at 6dp), served from the materialized cells.
    */
  def covarianceGrid(spark: SparkSession, sfDir: String): DataFrame =
    gridOf(storedPairCells(spark, sfDir), storedDimCells(spark, sfDir))

  /** q_embed_correlation: the Pearson correlation grid from the SAME
    * exact moments — r_ij = (n·s_ij − s_i·s_j) / √(v_i·v_j) with
    * v_k = n·s_kk − s_k² taken from the grid's own DIAGONAL cells. Every
    * input to the float section is an exact integer (decimal(38,0));
    * the numerator and the two variances are cast to double (correctly
    * rounded in both engines), multiplied and square-rooted in ONE fixed
    * expression shape the oracle mirrors token-for-token, so r is
    * bit-identical cross-engine. A zero-variance dimension yields NULL
    * (guarded identically on both sides, instead of an engine-specific
    * ±Inf/NaN). Plan shape: the per-dim variance numerators come from
    * the grid's own diagonal cells via two WINDOWS over the cell table
    * (partition by dim_i, then dim_j — every partition contains its
    * diagonal cell), NOT diagonal self-joins: a join leg re-derives the
    * whole corpus subtree, and per-leg filter pushdown makes the
    * duplicates canonically unequal so not even runtime exchange reuse
    * collapses them (measured: the join form re-scanned the corpus per
    * leg). With the windows the corpus is read exactly twice (pair
    * products + first moments, the covariance grid's own floor) and
    * every post-corpus exchange is cell-table-sized.
    */
  def correlationGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = mergedCells(storedPairCells(spark, sfDir))
    val si = storedDimCells(spark, sfDir)
    val withS = cells
      .join(broadcast(si.select(col("dim").as("dim_i"), col("s").as("si"))), "dim_i")
      .join(broadcast(si.select(col("dim").as("dim_j"), col("s").as("sj"))), "dim_j")
    // the diagonal cell's exact variance numerator, surfaced to every
    // cell of its row/column by a cell-table window (si == sj on the
    // diagonal, so one expression serves both)
    val dvarDiag = when(col("dim_i") === col("dim_j"),
      col("n").cast(d38) * col("sij") - col("si") * col("si"))
    withS
      .withColumn("var_i", max(dvarDiag).over(Window.partitionBy("dim_i")))
      .withColumn("var_j", max(dvarDiag).over(Window.partitionBy("dim_j")))
      .select(col("dim_i"), col("dim_j"),
        when(col("var_i") === 0 || col("var_j") === 0, lit(null))
          .otherwise(
            round((col("n").cast(d38) * col("sij") - col("si") * col("sj"))
              .cast("double")
              / sqrt(col("var_i").cast("double") * col("var_j").cast("double")),
              6) + lit(0.0))
          .as("corr"))
      .orderBy("dim_i", "dim_j")
  }

  /** q_embed_drift: per-dimension distribution drift between two corpus
    * slices (reference = `vec_id < splitAt`, current = the rest — in
    * production yesterday's crawl vs today's): a two-sample z statistic
    * per dimension from EXACT integer moments. One pass, one dim-keyed
    * exchange: conditional sums produce both sides' (n, Σq, Σq²) in the
    * same aggregation, means and variances derive from the exact
    * decimals, and one fixed double expression — mirrored token-for-token
    * in the oracle — yields z = Δmean / √(σ²_ref/n_ref + σ²_cur/n_cur),
    * rounded 6dp with the zero sign canonicalized, plus the |z| > 3
    * flag. The embedding-space companion of the scalar-column PSI
    * monitor ([[Events]]' distribution drift): the question is "did the
    * embedder or the corpus shift under me", and at 100 TB the answer
    * costs one map-side-combined scan of d cells per slice.
    */
  def embedDrift(spark: SparkSession, sfDir: String,
                 splitAt: Long = 250L): DataFrame = {
    val cells = Tables.embeddings(spark, sfDir)
      .select((col("vec_id") < splitAt).as("is_ref"),
        posexplode(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"))
          .as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(
        count(when(col("is_ref"), 1)).as("n_ref"),
        sum(when(col("is_ref"), col("v")).cast(d38)).as("s_ref"),
        sum(when(col("is_ref"), col("v") * col("v")).cast(d38)).as("s2_ref"),
        count(when(!col("is_ref"), 1)).as("n_cur"),
        sum(when(!col("is_ref"), col("v")).cast(d38)).as("s_cur"),
        sum(when(!col("is_ref"), col("v") * col("v")).cast(d38)).as("s2_cur"))
    def meanD(s: Column, n: Column): Column =
      s.cast("double") / (n.cast("double") * lit(1e6))
    def varD(n: Column, s: Column, s2: Column): Column =
      (n.cast(d38) * s2 - s * s).cast("double") /
        (n.cast("double") * n.cast("double") * lit(1e12))
    val z = (meanD(col("s_cur"), col("n_cur")) - meanD(col("s_ref"), col("n_ref"))) /
      sqrt(varD(col("n_cur"), col("s_cur"), col("s2_cur")) / col("n_cur") +
        varD(col("n_ref"), col("s_ref"), col("s2_ref")) / col("n_ref"))
    // Degenerate-dim guard, mirroring correlationGrid: a slice whose
    // variance NUMERATOR (exact decimal nΣq² − (Σq)², so the test is
    // engine-exact) is zero makes z ±Inf/NaN, and NaN ordering diverges
    // across engines (DuckDB sorts NaN above every number; Spark
    // comparisons yield false) — the statistic is undefined there, so
    // both engines emit NULL z / NULL is_drift.
    def varNum(n: Column, s: Column, s2: Column): Column =
      n.cast(d38) * s2 - s * s
    val degenerate = col("n_ref") === 0 || col("n_cur") === 0 ||
      varNum(col("n_ref"), col("s_ref"), col("s2_ref")) === 0 ||
      varNum(col("n_cur"), col("s_cur"), col("s2_cur")) === 0
    cells
      .select(col("dim"), col("n_ref"), col("n_cur"),
        when(degenerate, lit(null))
          .otherwise(round(z, 6) + lit(0.0)).as("z"),
        when(degenerate, lit(null))
          .otherwise(abs(z) > 3).as("is_drift"))
      .orderBy("dim")
  }

  /** Top principal component by power iteration. The covariance grid is
    * d(d+1)/2 rows — metadata-sized for any real embedding width — so
    * collecting it and iterating on the driver is the standard shape
    * (one distributed pass for the moments, O(d²) driver flops per
    * iteration, no further cluster work). Deterministic: fixed start
    * vector, fixed iteration count. Returns (unit eigenvector with a
    * sign convention — largest-|component| entry positive — and its
    * eigenvalue).
    */
  def pcaTopComponent(spark: SparkSession, sfDir: String,
                      iters: Int = 2000): (Array[Double], Double) = {
    val (v, lambda, _) = eigenFromGrid(
      covarianceGrid(spark, sfDir).select("dim_i", "dim_j", "cov").collect(),
      iters)
    (v, lambda)
  }

  private def eigenFromGrid(rows: Array[org.apache.spark.sql.Row],
                            iters: Int): (Array[Double], Double, Array[Array[Double]]) = {
    val d = rows.map(_.getInt(0)).max + 1
    val a = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      a(i)(j) = c; a(j)(i) = c
    }
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      lambda = (0 until d).map(i => v(i) * w(i)).sum
      v = w.map(_ / norm)
    }
    val kMax = v.indices.maxBy(i => math.abs(v(i)))
    if (v(kMax) < 0) v = v.map(-_)
    (v, lambda, a)
  }

  /** q_pca_top: the eigenpair pinned by ORACLE-CHECKABLE INVARIANTS. A
    * power iteration's components cannot be reproduced in portable SQL —
    * this corpus's spectrum is near-degenerate (measured eigengap ≈ 0), so
    * ULP-level engine differences persist in the non-dominant mixture and
    * a 6dp component round-off would flake. What IS portable: the
    * matrix-level bounds the eigenpair must satisfy. The row carries two
    * numbers the oracle recomputes exactly from its own grid (trace and
    * max diagonal, in the grid's 6dp micro-units — the engines agree on
    * every cell, so these integers agree bit-for-bit) and five booleans
    * whose expected value is TRUE: the oracle emits the literal truth,
    * and any broken eigen-solve (wrong norm, non-dominant direction,
    * λ outside [max diag, trace], diverged residual, sign convention
    * violated) flips a boolean and fails the driver's hash. Spark-side
    * work: one distributed grid pass + O(d²·iters) driver flops, the
    * documented PCA shape. iters=2000 because the near-degenerate
    * spectrum converges slowly: measured resid/λ on the sf0.1 grid is
    * 1.6e-3 at 500 iterations (fails the 1e-3 gate) but 9e-15 at 2000;
    * 64²·2000 ≈ 8M flops stays trivially driver-sized.
    */
  def pcaTopQuery(spark: SparkSession, sfDir: String,
                  iters: Int = 2000): DataFrame = {
    import spark.implicits._
    val rows = covarianceGrid(spark, sfDir)
      .select("dim_i", "dim_j", "cov").collect()
    // empty corpus → empty grid → no eigenpair to report: degrade to an
    // EMPTY result with the declared schema (the repo-wide empty-input
    // contract), never a driver-side crash in eigenFromGrid
    if (rows.isEmpty)
      return Seq.empty[(Int, Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
        .toDF("d", "trace_micro", "max_diag_micro", "unit_norm_ok",
          "dominance_ok", "bounded_ok", "resid_ok", "sign_ok")
    val (v, lambda, a) = eigenFromGrid(rows, iters)
    val d = v.length
    // micro-units via the repo-wide ⌊x·1e6 + 0.5⌋ rule: cov is already
    // rounded 6dp, so this is an exact re-integerization on both engines
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val diag = rows.filter(r => r.getInt(0) == r.getInt(1))
      .map(r => micro(r.getDouble(2)))
    val traceMicro = diag.sum
    val maxDiagMicro = diag.max
    val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
    val resid = math.sqrt(
      av.zip(v).map { case (x, y) => val e = x - lambda * y; e * e }.sum)
    val kMax = v.indices.maxBy(i => math.abs(v(i)))
    Seq((d, traceMicro, maxDiagMicro,
      math.abs(v.map(x => x * x).sum - 1.0) < 1e-9, // unit eigenvector
      // λ₁ ≥ max diag holds EXACTLY for any symmetric matrix (λ₁ ≥
      // eᵢᵀAeᵢ), rounded or not — only solver slack needed here
      lambda >= maxDiagMicro / 1e6 - 1e-9, // dominates every axis quotient
      // λ₁ ≤ trace needs PSD, but the GRID is the exact covariance
      // rounded 6dp — a perturbation of up to 5e-7 per cell, which can
      // push eigenvalues negative by ~d·5e-7 (Weyl) and λ₁ above trace
      // by the same margin. Tolerance must cover the worst rounding
      // perturbation, not just solver noise: d·1e-6.
      lambda <= traceMicro / 1e6 + d * 1e-6, // PSD up to 6dp grid rounding
      resid < 1e-3 * lambda, // converged: ‖Av − λv‖ small vs λ
      v(kMax) > 0)) // sign convention: largest-|component| positive
      .toDF("d", "trace_micro", "max_diag_micro", "unit_norm_ok",
        "dominance_ok", "bounded_ok", "resid_ok", "sign_ok")
  }
}
