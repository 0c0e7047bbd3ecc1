package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** STREAM-STREAM join — the last Structured Streaming shape in the
  * surface: two watermarked event streams (views and purchases filtered
  * from the same feed) inner-joined on user with an event-time range
  * condition. The watermarks plus the time bound let Spark DROP join
  * state once a side's events can no longer match — without them a
  * stream-stream join buffers both streams forever, which is the whole
  * scale question at 100 TB/day.
  */
object StreamingJoin {

  private val ssScratch = new graft.util.ScratchSlot

  /** Views-before-purchase as a BOUNDED, oracle-checked stream-stream
    * join: each (purchase, view-within-preceding-hour) pair is emitted
    * exactly once by the append-mode inner join (inner-join emission does
    * not wait for the watermark; the watermark only bounds state), the
    * AvailableNow drain collects the pairs, and a batch tail rolls them
    * up per purchase and zero-fills view-less purchases. Output equals
    * the batch interval join [[graft.operators.Events.viewsBeforePurchase]]
    * bit-for-bit, so the SAME oracle SQL verifies it.
    */
  def purchaseViewsAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = StreamingIndexer.drainToTable(spark, sfDir, "events.parquet",
      ssScratch, mode = "append") { (ss, watch) =>
        // floor the event time to MILLISECONDS before watermarking: the
        // batch oracle compares epoch-ms, and a view landing in the same
        // ms as the purchase but a later µs must still join. eventsStream
        // sniffs the driver's physical ts encoding and normalizes to
        // TimestampType first; unix_millis then truncates µs→ms (= floor
        // for this post-epoch corpus).
        val src = Tables.eventsStream(ss, watch, watch)
          .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
        val views = src.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "2 hours")
        val purchases = src.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
          .withWatermark("p_ts", "2 hours")
        purchases.join(views,
          col("p_user") === col("v_user") &&
            col("v_ts") > col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("v_ts") <= col("p_ts"))
          .select(col("event_id"))
      }
    val counts = pairs.groupBy("event_id").agg(count(lit(1)).as("n_views"))
    Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("purchase_ms"))
      .join(counts, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"), col("purchase_ms"),
        coalesce(col("n_views"), lit(0L)).as("n_views_1h"))
      .orderBy("event_id")
  }

  private val outerScratch = new graft.util.ScratchSlot

  /** LEFT OUTER stream-stream join — the semantically harder sibling of
    * [[purchaseViewsAvailableNow]]: a view-less purchase emits its
    * null-padded row only when the WATERMARK proves no matching view can
    * still arrive (outer emission is watermark-driven, unlike inner).
    * A bounded drain therefore needs the final watermark pushed past
    * every purchase, or trailing outer rows stay buffered forever — the
    * same far-future-sentinel flush as the streaming sessionizer, staged
    * as a second file whose mtime puts it in a LATER micro-batch. The
    * null-count rollup then happens entirely on the STREAM'S OUTPUT (a
    * view-less purchase is visible as its null-view row, not
    * reconstructed by a batch tail), and the batch interval-join oracle
    * checks the result bit-for-bit.
    */
  // staged feed memoized per corpus STATE (read-only for every drain;
  // each drain has its own memory table) — Scratch.memoizedDir keys on
  // the events listing signature and exit-deletes, so per-invocation
  // retire() only drops the memory table and a mutated corpus re-stages
  private[graft] def stageOuterFeed(spark: SparkSession,
                                    sfDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.util.Scratch.memoizedDir(spark,
      "graft_ssouter_feed_" + graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.events(spark, sfDir))) { watchDir =>
      import spark.implicits._
      val watch = java.nio.file.Paths.get(watchDir)
      java.nio.file.Files.createDirectories(watch)
      // stage the REAL events (the driver's raw parquet, read raw below)
      // and a sentinel file carrying one far-future row PER ROLE; the
      // sentinel's ts is encoded to MATCH the driver file's sniffed
      // physical type so one declared stream schema reads both files
      val staged = watch.resolve("a_events")
      java.nio.file.Files.copy(java.nio.file.Paths.get(sfDir, "events.parquet"),
        staged, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val tsType = spark.read.parquet(staged.toString).schema("ts").dataType
      val maxMs = Tables.events(spark, sfDir)
        .agg(max(unix_millis(col("ts"))).as("m")).head().getLong(0)
      val sentinelMs = maxMs + (4L * 3600 * 1000) // 2h watermark + 1h bound + 1h margin
      Seq((-1L, "view"), (-2L, "purchase"))
        .toDF("event_id", "event_type")
        .select(col("event_id"), Tables.tsLiteral(sentinelMs, tsType).as("ts"),
          col("event_id").as("user_id"), col("event_type"),
          lit(0.0).as("value"), lit("").as("props"))
        .coalesce(1).write.mode("overwrite")
        .parquet(watch.resolve("z_sentinel").toString)
      val now = System.currentTimeMillis()
      Option(watch.resolve("z_sentinel").toFile.listFiles())
        .getOrElse(Array.empty[java.io.File])
        .foreach(f => { f.setLastModified(now + 60_000); () })
      ()
    })

  def purchaseViewsOuterAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    outerScratch.retire()
    val watch = stageOuterFeed(spark, sfDir)
    val staged = watch.resolve("a_events")
    val ss = StreamingIndexer.drainSession(spark)
    val src = Tables.eventsStream(ss, staged.toString, watch.toString + "/*",
        maxFilesPerTrigger = Some(1))
      .withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val drained = StreamingIndexer.drainToBlocks(
      purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") > col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("v_ts") <= col("p_ts"),
        "left_outer"),
      "append", outerScratch)
    drained
      .filter(col("p_user") >= 0) // drop the sentinel's own rows
      .groupBy(col("event_id"), col("p_user").as("user_id"),
        unix_millis(col("p_ts")).as("purchase_ms"))
      .agg(sum(when(col("v_user").isNotNull, 1L).otherwise(0L)).as("n_views_1h"))
      .orderBy("event_id")
  }
}
