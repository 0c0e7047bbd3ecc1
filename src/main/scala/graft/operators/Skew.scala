package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Skew-mitigation utilities. AQE's skew-join handling covers most cases
  * at runtime; explicit salting remains the tool for pathological
  * heavy-hitter keys (one key ≫ a partition) or for engines/stages where
  * AQE cannot split (e.g. aggregations feeding a join).
  */
object Skew {

  /** Salted equi-join: spread each probe-side key over `salt` sub-keys and
    * replicate the build side once per sub-key, so a heavy-hitter key
    * lands on `salt` partitions instead of one. Output is identical to
    * `probe.join(build, key)` — only the shuffle routing changes. The
    * salt assignment hashes the whole probe row (deterministic, no rand).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 salt: Int): DataFrame = {
    val probeCols = probe.columns
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(probeCols.map(col).toIndexedSeq: _*), lit(salt)))
    val replicated = build.withColumn("__salt",
      explode(array((0 until salt).map(i => lit(i.toLong)): _*)))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Per-supplier shipment revenue through the SALTED join — the query
    * shape for a fact⋈dim join whose key distribution has heavy hitters
    * too large for one partition. Results are identical to the plain join
    * (the oracle checks exactly that); only the shuffle routing differs:
    * each supplier key is spread over 8 sub-keys, the 100-row dim side is
    * replicated 8×, and no single reducer owns a hot key.
    */
  def skewedSupplierRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val probe = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey").as("suppkey"),
        col("l_extendedprice").cast("decimal(12,2)").as("price"))
    val build = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("suppkey"), col("s_name"))
    saltedJoin(probe, build, "suppkey", 8)
      .groupBy("suppkey", "s_name")
      .agg(count(lit(1)).as("n_items"), sum(col("price")).as("rev"))
      .select(col("suppkey"), col("s_name"), col("n_items"),
        col("rev").cast("double").as("revenue"))
      .orderBy("suppkey")
  }
}
