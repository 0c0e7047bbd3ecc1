package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.LinearModel
import graft.sources.Tables

/** STREAMING MODEL RETRAIN — the closed-form regression of
  * [[graft.operators.LinearModel]] maintained as CDC-at-ingest state: each
  * micro-batch of newly-arrived orders contributes its ten exact integer
  * moments, the stored moment row absorbs them by componentwise sum (the
  * merge IS the aggregation — integer-exact, so the continuously-refreshed
  * betas equal a from-scratch retrain bit-for-bit), and state generations
  * are copy-on-write parquet ([[StateGenerations]]).
  *
  * The feed stages the orders table as two date-ordered batches through
  * two query incarnations over ONE checkpoint (resume proven), each batch
  * joining the static lineitem side inside `foreachBatch` — the
  * stream-static enrichment shape. Because the split is by order date and
  * an order's lines ride its single orders row, every feature row lands
  * wholly in one batch. The drained state answers the IDENTICAL monolithic
  * oracle as `q_linear_model`: at 100 TB this is "the quality model is
  * always current" for the price of aggregating each day's delta —
  * ten longs of state, never a re-scan.
  */
object StreamingLinear {

  private val state = new StateGenerations("graft_stream_linear_")

  /** Spec observability: batches the last drain ran. */
  private[graft] val lastNumBatches = state.numBatches

  def linearFitAvailableNow(spark: SparkSession, sfDir: String,
                            splitAt: String = "1997-07-01",
                            resumeProof: Boolean = false): DataFrame = {
    def orders = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_orderdate"))
    val split = lit(splitAt).cast("timestamp")
    val staged = StreamingIndexer.ensureSplitFeed(spark,
      s"graft_linear_feed_${graft.util.Scratch.valueToken(splitAt)}_" +
        graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.orders(spark, sfDir)))(
      orders.filter(col("o_orderdate") < split),
      orders.filter(col("o_orderdate") >= split))

    // moment merges are commutative sums → one-incarnation drain for the
    // declared query; the spec pins the two-incarnation resume shape
    val last = state.drain(spark, staged, resumeProof) { ss =>
      val lineitem = Tables.lineitem(ss, sfDir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      (batch, prev, next) =>
        val delta = lineitem
          .join(batch.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey").as("okey"))
          .agg(count(lit(1)).as("x1"),
            sum(col("l_quantity").cast("long")).as("x2"),
            sum(expr(LinearModel.centsExpr)).as("cents"))
          .selectExpr("okey", "x1", "x2", LinearModel.dollarsOfCents)
          .agg(LinearModel.momentAggs.head, LinearModel.momentAggs.tail: _*)
        val merged = prev.fold(delta)(p =>
          ss.read.parquet(p)
            .unionByName(delta)
            .agg(sum("n").as("n"),
              sum("s1").as("s1"), sum("s2").as("s2"), sum("sy").as("sy"),
              sum("s11").as("s11"), sum("s22").as("s22"), sum("s12").as("s12"),
              sum("s1y").as("s1y"), sum("s2y").as("s2y"), sum("syy").as("syy")))
        merged.coalesce(1).write.mode("overwrite").parquet(next)
    }
    LinearModel.solve(spark.read.parquet(last))
  }
}
