package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** SKETCH-AT-INGEST: a Count-Min sketch of the event feed's user
  * activity maintained as STREAMING STATE — the pattern that answers
  * "which keys are hot, right now?" over an unbounded feed with fixed
  * memory. The streaming aggregation's state is exactly the cell table
  * (Depth × width rows, regardless of feed volume), every micro-batch
  * folds its events in by cellwise add, and because cellwise add is the
  * sketch's MERGE operation, the drained final state is bit-identical to
  * the batch sketch over the same events — which is what lets the batch
  * oracle verify a streaming sketch.
  */
object StreamingSketch {

  private val cmsScratch = new graft.util.ScratchSlot

  /** The user-activity CMS cell table after an AvailableNow drain of the
    * staged events file — complete-mode streaming aggregation, state =
    * the cells themselves. The driver-facing bounded twin of the
    * unbounded maintainer (same plan, different trigger).
    */
  def cmsCellsAvailableNow(spark: SparkSession, sfDir: String,
                           width: Int = 256): DataFrame =
    StreamingIndexer.drainToTable(spark, sfDir, "events.parquet",
      cmsScratch) { (ss, watch) =>
        graft.sources.Tables.eventsStream(ss, watch, watch)
          .select(posexplode(array((0 until Sketches.Depth).map(d =>
            Sketches.bucket(col("user_id"), d, width)): _*))
            .as(Seq("d", "bucket")))
          .groupBy("d", "bucket").agg(count(lit(1)).as("cell"))
      }
      .orderBy("d", "bucket")

  private val anomalyScratch = new graft.util.ScratchSlot

  /** ANOMALY-AT-INGEST: the hourly count table maintained as STREAMING
    * STATE (one row per hour bucket — bounded by the feed's time span,
    * not its volume; cellwise add merges micro-batches exactly like the
    * CMS cells), with the fraction-free |z|>3 test applied to the
    * drained state. Answers to the identical oracle as the batch
    * [[graft.operators.Events.hourlyAnomalies]] — streamed hour cells ≡
    * batch hour cells is the claim under test.
    */
  def hourlyAnomaliesAvailableNow(spark: SparkSession,
                                  sfDir: String): DataFrame =
    graft.operators.Events.anomaliesOfHourCounts(
      StreamingIndexer.drainToTable(spark, sfDir, "events.parquet",
        anomalyScratch) { (ss, watch) =>
          graft.sources.Tables.eventsStream(ss, watch, watch)
            .groupBy(expr("unix_millis(ts) div 3600000").as("hour_id"))
            .agg(count(lit(1)).as("n"))
        })

  private val quantileScratch = new graft.util.ScratchSlot

  /** QUANTILES-AT-INGEST: the per-type bottom-k sample sketch
    * ([[graft.functions.BottomKSketchAgg]]) maintained as STREAMING
    * STATE — fixed O(k) state per group regardless of feed volume, each
    * micro-batch folded in by the sketch's own merge (bottom-k of a
    * union = bottom-k of the bottom-k's), so the drained state is
    * bit-identical to the batch sketch over the same events and the
    * batch quantile extraction + oracle apply unchanged. The streaming
    * answer to "what is p99 right now?" without retaining the feed.
    */
  def sketchQuantilesAvailableNow(spark: SparkSession, sfDir: String,
                                  k: Int = 256): DataFrame =
    graft.operators.Quantiles.quantilesOfSketches(
      StreamingIndexer.drainToTable(spark, sfDir, "events.parquet",
        quantileScratch) { (ss, watch) =>
          graft.sources.Tables.eventsStream(ss, watch, watch)
            .where(col("value").isNotNull)
            .select(col("event_type"),
              graft.functions.HashFunctions.knuthMod(col("event_id"),
                4294967296L).as("h"),
              col("value").cast("double").as("v"))
            .groupBy("event_type")
            .agg(graft.functions.BottomKSketchAgg.bottomkSketch(
              col("h"), col("v"), k).as("s"))
        })
}
