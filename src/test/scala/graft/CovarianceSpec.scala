package graft

import graft.operators.Covariance
import graft.sources.Tables

/** The covariance grid must equal a driver-side recomputation from the
  * raw vectors, and the power-iteration component must actually be an
  * eigenvector of that grid with the dominant Rayleigh quotient.
  */
class CovarianceSpec extends SparkTestBase {

  private lazy val vecs: Array[Array[Long]] =
    Tables.embeddings(spark, sf).select("embedding").collect()
      .map(_.getSeq[Float](0).toArray
        .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))

  test("grid matches a driver-side recomputation of the exact moments") {
    val d = vecs.head.length
    val got = Covariance.covarianceGrid(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    assert(got.size === d * (d + 1) / 2)
    val n = vecs.length.toLong
    for (i <- 0 until d; j <- i until d) {
      val si = vecs.map(_(i)).sum
      val sj = vecs.map(_(j)).sum
      val sij = vecs.map(v => v(i) * v(j)).sum
      val cov = BigDecimal((BigInt(n) * sij - BigInt(si) * sj).toDouble /
        (n.toDouble * n.toDouble * 1e12))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got((i, j)) === ((n, si, sj, sij, cov)), s"cell ($i,$j)")
    }
  }

  test("correlation grid matches a driver-side recomputation") {
    val d = vecs.head.length
    val n = vecs.length.toLong
    val got = Covariance.correlationGrid(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.size === d * (d + 1) / 2)
    for (i <- 0 until d; j <- i until d) {
      val si = vecs.map(_(i)).sum; val sj = vecs.map(_(j)).sum
      val sij = vecs.map(v => v(i) * v(j)).sum
      val sii = vecs.map(v => v(i) * v(i)).sum
      val sjj = vecs.map(v => v(j) * v(j)).sum
      // the engine's exact arithmetic shape: integers → double, one sqrt
      val num = (BigInt(n) * sij - BigInt(si) * sj).toDouble
      val vi = (BigInt(n) * sii - BigInt(si) * si).toDouble
      val vj = (BigInt(n) * sjj - BigInt(sj) * sj).toDouble
      val exp = if (vi == 0 || vj == 0) None
        else Some(BigDecimal(num / math.sqrt(vi * vj))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
      assert(got((i, j)) === exp, s"cell ($i,$j)")
    }
    // a dimension correlates perfectly with itself
    for (i <- 0 until d) assert(got((i, i)) === Some(1.0), s"diag $i")
  }

  test("a MIXED-WIDTH corpus attributes every pair to the right cell") {
    // a 32-dim row's dense position 4 means pair (1,2); a 64-dim row's
    // means (0,4) — the (d, idx) cell key + per-width decode must merge
    // them correctly, exactly like a per-row HOF expansion would
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mixed_dim_").toString
    try {
      val rnd = new scala.util.Random(5)
      val rows = (0L until 40L).map { i =>
        val d = if (i % 3 == 0) 3 else 5
        (i, Seq.fill(d)(rnd.nextFloat() * 2 - 1), "x")
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      val got = Covariance.covarianceGrid(spark, dir).collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
      // driver-side per-row expansion (the old HOF semantics)
      val qs = rows.map(_._2.toArray.map(x =>
        math.floor(x.toDouble * 1e6 + 0.5).toLong))
      val exp = scala.collection.mutable.Map
        .empty[(Int, Int), (Long, Long, Long, Long)]
      qs.foreach { v =>
        for (i <- v.indices; j <- i until v.length) {
          val (n, si, sj, sij) = exp.getOrElse((i, j), (0L, 0L, 0L, 0L))
          exp((i, j)) = (n + 1, si, sj, sij + v(i) * v(j))
        }
      }
      // first moments are per-dim over rows that HAVE the dim
      val dimS = qs.flatMap(_.zipWithIndex).groupBy(_._2)
        .view.mapValues(_.map(_._1).sum).toMap
      val expFull = exp.map { case ((i, j), (n, _, _, sij)) =>
        (i, j) -> ((n, dimS(i), dimS(j), sij))
      }
      assert(got.keySet === expFull.keySet)
      expFull.foreach { case (k, v) =>
        assert(got(k) === v, s"cell $k")
      }
    } finally graft.util.Scratch.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("embedDrift matches a driver-side two-sample z recomputation") {
    val withIds = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray
        .map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)))
    val d = withIds.head._2.length
    val got = Covariance.embedDrift(spark, sf).collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getBoolean(4))))).toMap
    assert(got.size === d)
    for (dim <- 0 until d) {
      val ref = withIds.filter(_._1 < 250).map(_._2(dim))
      val cur = withIds.filter(_._1 >= 250).map(_._2(dim))
      def stats(v: Array[Long]) = {
        val n = v.length.toLong
        val s = v.sum
        val s2 = v.map(x => BigInt(x) * x).sum
        val mean = s.toDouble / (n.toDouble * 1e6)
        val vr = (BigInt(n) * s2 - BigInt(s) * s).toDouble /
          (n.toDouble * n.toDouble * 1e12)
        (n, mean, vr)
      }
      val (nr, mr, vr) = stats(ref)
      val (nc, mc, vc) = stats(cur)
      val zr = (mc - mr) / math.sqrt(vc / nc + vr / nr)
      val expZ = BigDecimal(zr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0
      val (gn_ref, gn_cur, gz, gd) = got(dim)
      assert(gn_ref === nr && gn_cur === nc, s"dim $dim counts")
      assert(gz === Some(expZ), s"dim $dim z")
      assert(gd === Some(math.abs(zr) > 3), s"dim $dim flag")
    }
  }

  test("embedDrift NULLs z/is_drift on zero-variance dims (cross-engine NaN trap)") {
    // dim 1 constant in BOTH slices, dim 2 constant in the ref slice
    // only: both are degenerate under the either-slice rule (DuckDB
    // sorts NaN above every number, Spark's NaN compare is false — an
    // Inf/NaN z would flag is_drift differently per engine). dim 0
    // varies in both slices and must keep a real z.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_").toString
    try {
      val rnd = new scala.util.Random(7)
      val rows = (0L until 40L).map { i =>
        (i, Seq(rnd.nextGaussian().toFloat, 0.25f,
          if (i < 20) 0.5f else rnd.nextGaussian().toFloat), 0)
      }
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = graft.operators.Covariance.embedDrift(spark, dir, splitAt = 20L)
        .collect().map(r => r.getInt(0) ->
          ((r.isNullAt(3), r.isNullAt(4)))).toMap
      assert(got(0) === ((false, false)), "varying dim must keep its z")
      assert(got(1) === ((true, true)), "both-slice-constant dim must NULL")
      assert(got(2) === ((true, true)), "one-slice-constant dim must NULL")
    } finally graft.util.Scratch.deleteRecursively(
      java.nio.file.Paths.get(dir))
  }

  test("no negative zero reaches the cov column") {
    // a tiny negative raw covariance can round to -0.0; the grid
    // canonicalizes the zero sign (cov + 0.0) so cross-engine hashes of
    // the sign bit can never diverge. 1.0/x < 0 distinguishes -0.0
    // (→ -Inf) from +0.0 (→ +Inf) where == cannot.
    val covs = Covariance.covarianceGrid(spark, sf)
      .select("cov").collect().map(_.getDouble(0))
    assert(!covs.exists(c => c == 0.0 && 1.0 / c < 0),
      "grid emitted an IEEE -0.0 cov cell")
  }

  test("pcaTopQuery emits all-true invariants and grid-exact micro stats") {
    val r = Covariance.pcaTopQuery(spark, sf).collect().head
    val covs = Covariance.covarianceGrid(spark, sf)
      .select("dim_i", "dim_j", "cov").collect()
    val diag = covs.filter(x => x.getInt(0) === x.getInt(1))
      .map(x => math.floor(x.getDouble(2) * 1e6 + 0.5).toLong)
    assert(r.getInt(0) === covs.map(_.getInt(1)).max + 1)
    assert(r.getLong(1) === diag.sum)
    assert(r.getLong(2) === diag.max)
    (3 to 7).foreach(i => assert(r.getBoolean(i), s"invariant column $i false"))
  }

  test("power iteration returns the dominant eigenpair") {
    val rows = Covariance.covarianceGrid(spark, sf)
      .select("dim_i", "dim_j", "cov").collect()
    val (v, lambda, _) = Covariance.eigenFromGrid(rows, 2000)
    val d = v.length
    val a = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      a(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
      a(r.getInt(1))(r.getInt(0)) = r.getDouble(2)
    }
    // unit norm, positive eigenvalue, and A·v ≈ λ·v
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    assert(lambda > 0)
    val av = Array.tabulate(d)(i => (0 until d).map(j => a(i)(j) * v(j)).sum)
    // convergence rate is (λ2/λ1)^iters: near-isotropic synthetic
    // embeddings have a tiny eigengap, so pin a realistic residual
    val resid = math.sqrt(av.zip(v).map { case (x, y) => val e = x - lambda * y; e * e }.sum)
    assert(resid < 1e-3 * lambda, s"residual $resid vs lambda $lambda")
    // dominance: beats the Rayleigh quotient of every coordinate axis
    val axes = (0 until d).map(k => a(k)(k))
    assert(lambda >= axes.max - 1e-12)
  }
}
