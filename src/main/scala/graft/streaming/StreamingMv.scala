package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.RollupView
import graft.sources.Tables

/** STREAMING MATERIALIZED-VIEW MAINTENANCE — the third leg of the MV
  * story: [[graft.operators.RollupView]] builds the hourly rollup,
  * [[graft.plans.AggRewriteRule]] makes base-table queries use it, and
  * this module keeps it CURRENT at ingest. Each micro-batch of arriving
  * events contributes its (hour, type) partial cells; the stored state
  * absorbs them by key-wise merge — count and decimal sum add, min/max
  * combine — all EXACT merges, so the maintained view is bit-identical
  * to a from-scratch batch build at every generation, and the optimizer
  * can serve from it with the same soundness guarantee. State
  * generations are copy-on-write parquet ([[StateGenerations]]); the
  * feed stages events as two time-ordered batches through two query
  * incarnations over ONE checkpoint, proving resume.
  *
  * Cells may span batches (an hour's events can arrive across many
  * micro-batches) — that is the point: the merge re-aggregates per key,
  * so correctness never depends on batch alignment. At 100 TB this is
  * "dashboards are always current" for the price of aggregating each
  * batch's delta into a group-count-sized table — never a base re-scan.
  */
object StreamingMv {

  private val state = new StateGenerations("graft_stream_mv_")

  /** Spec observability: batches the last drain ran. */
  private[graft] val lastNumBatches = state.numBatches

  /** Per-batch partial cells in the view's exact-merge representation. */
  private def cells(batch: Dataset[Row]): DataFrame =
    batch.groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // decimal(38,2) store, matching RollupView.cellsOf exactly — the
        // drained state must stay bit-identical to the batch build
        sum(col("value").cast("decimal(14,2)"))
          .cast("decimal(38,2)").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Drain the staged event feed, maintaining the view state per batch;
    * returns the final state path (a durable scratch location, so the
    * optimizer registration outlives this invocation's temp dirs).
    */
  private[graft] def maintainedViewPath(spark: SparkSession, sfDir: String,
                                        splitAt: String = "2024-01-16",
                                        resumeProof: Boolean = false): String = {
    def events = Tables.events(spark, sfDir)
      .select(col("ts"), col("event_type"), col("value"))
    val split = lit(splitAt).cast("timestamp")
    val staged = StreamingIndexer.ensureSplitFeed(spark,
      s"graft_mv_feed_${graft.util.Scratch.valueToken(splitAt)}_" +
        graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.events(spark, sfDir)))(
      events.filter(col("ts") < split), events.filter(col("ts") >= split))

    // cell merges are commutative (sum/min/max re-aggregation) → the
    // declared query drains one incarnation; the spec pins the
    // two-incarnation resume shape
    val last = state.drain(spark, staged, resumeProof) { ss => (batch, prev, next) =>
      val delta = cells(batch)
      val merged = prev.fold(delta)(p =>
        ss.read.parquet(p)
          .unionByName(delta)
          .groupBy("hour_ts", "event_type")
          .agg(sum("n").as("n"),
            sum("sum_value").cast("decimal(38,2)").as("sum_value"),
            min("min_value").as("min_value"),
            max("max_value").as("max_value")))
      merged.coalesce(1).write.mode("overwrite").parquet(next)
    }
    // durable copy (group-count-sized) so the rewrite registration never
    // points at this invocation's retired temp dirs. The state is already
    // single-file parquet (every generation is written coalesce(1)), so
    // the copy is a file-level hardlink clone — the old read+rewrite paid
    // two Spark jobs per serve to re-encode bytes it then wrote unchanged.
    val out = graft.util.Scratch.dir(spark,
      "graft_mv_stream_" + graft.util.Scratch.valueToken(sfDir))
    graft.util.Scratch.deleteRecursively(out)
    graft.util.Scratch.hardlinkTree(last, out)
    out
  }

  /** q_streaming_mv: register the streaming-maintained state as the
    * hourly view and answer a BASE-events aggregate through the
    * optimizer rewrite — a key-range filter rolled up to coarser keys,
    * served from state that was never batch-built. The oracle runs on
    * base events: a hash match proves maintenance AND rewrite exact.
    */
  def mvServeAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    RollupView.registerAt(spark, sfDir, maintainedViewPath(spark, sfDir))
    Tables.events(spark, sfDir)
      .where(date_trunc("hour", col("ts")) >=
        lit("2024-01-10 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }
}
