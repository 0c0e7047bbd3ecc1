package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Events, Incremental}
import graft.sources.Tables

/** STREAMING SCD2 — CDC at ingest: the slowly-changing-dimension table
  * maintained micro-batch by micro-batch with the SAME state merge the
  * batch IVM path uses ([[graft.operators.Incremental.scd2Merge]]).
  * Each batch's events become delta runs ([[Events.scd2Of]] — a batch
  * plan inside `foreachBatch`, where arbitrary stateful merges are
  * legal), and the stored dimension absorbs them: open versions extend
  * or close, new versions append, untouched users carry verbatim. State
  * generations are copy-on-write parquet ([[StateGenerations]]) so a
  * failed batch never corrupts the current state.
  *
  * The feed is staged as two time-ordered batches through two query
  * incarnations sharing one checkpoint (the [[StreamingIndexer]] resume
  * pattern) — the arrival-order guarantee scd2Merge needs (every delta
  * event follows every stored event per user), which is the same
  * guarantee a production CDC feed provides per key. The drained final
  * state answers to the IDENTICAL monolithic oracle as the batch build:
  * stream-merged ≡ rebuilt, versions, flags, intervals and all.
  */
object StreamingScd2 {

  private val state = new StateGenerations("graft_stream_scd2_")

  /** Spec observability: batches the last drain ran. */
  private[graft] val lastNumBatches = state.numBatches

  def scd2AvailableNow(spark: SparkSession, sfDir: String,
                       splitAt: String = "2024-01-24 00:00:00"): DataFrame = {
    // the two time-split batch FILES are a pure function of the corpus —
    // memoized once per corpus state (stage through Tables.events so
    // staged ts is plain µs TimestampType); each execution assembles its
    // own watch dir by HARDLINK, batch by batch, so the two-incarnation
    // resume proof is untouched while the corpus writes happen once
    def events = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val split = lit(splitAt).cast("timestamp")
    val staged = StreamingIndexer.ensureSplitFeed(spark,
      // the split VALUE keys the name via the collision-free token (bare
      // sanitization would collapse '2024-01-01 00:00' variants differing
      // only in non-word chars onto one memo dir; a hashCode would
      // silently collide across distinct parameterizations)
      s"graft_scd2_feed_${graft.util.Scratch.valueToken(splitAt)}_" +
        graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.events(spark, sfDir)))(
      events.filter(col("ts") < split), events.filter(col("ts") >= split))

    // scd2Merge needs every delta event to follow every stored event per
    // user, so the feed always drains as two incarnations (resumeProof)
    val last = state.drain(spark, staged, resumeProof = true) { ss =>
      (batch, prev, next) =>
        val runs = Events.scd2Of(batch.select(col("user_id"), col("event_id"),
          expr("unix_millis(ts)").as("ms"), col("event_type")))
        prev.fold(runs)(p => Incremental.scd2Merge(ss.read.parquet(p), runs))
          .write.mode("overwrite").parquet(next)
    }
    spark.read.parquet(last).orderBy("user_id", "version")
  }
}
