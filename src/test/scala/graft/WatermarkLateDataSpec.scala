package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingIndexer

/** The late-data contract of the watermarked hourly rollup: a window is
  * finalized (emitted once) when the watermark passes its end, and events
  * arriving after that are DROPPED, not double-counted — the property
  * that bounds state for a stream that runs forever.
  *
  * The watermark advances batch-by-batch (each batch filters against the
  * watermark derived from PREVIOUS batches' max event time), so the
  * timeline is driven with one file per step.
  */
class WatermarkLateDataSpec extends SparkTestBase {
  import spark.implicits._

  private def ev(id: Long, ts: String, user: Long) =
    (id, java.sql.Timestamp.valueOf(s"$ts:00"), user, "view", 1.0, "{}")

  private def write(watch: String, rows: (Long, java.sql.Timestamp, Long, String, Double, String)*): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(watch)

  test("watermark finalizes windows once and drops late arrivals") {
    val watch = java.nio.file.Files.createTempDirectory("graft_late").toString
    // batch 1: three events in hour 10 (watermark still unset)
    write(watch, ev(1, "2026-01-01 10:05", 1), ev(2, "2026-01-01 10:15", 2),
      ev(3, "2026-01-01 10:45", 1))

    val q = startToMemory(
      StreamingIndexer.hourlyRollupStream(spark, watch), "append", "late_rollup")
    try {
      q.processAllAvailable()
      // batch 2: 13:30 event → after this batch the watermark is 11:30
      write(watch, ev(4, "2026-01-01 13:30", 3))
      q.processAllAvailable()
      // batch 3: a LATE event into hour 10 (watermark 11:30 already past
      // its end → must be dropped) plus 20:00 advancing the watermark
      write(watch, ev(5, "2026-01-01 10:50", 9), ev(6, "2026-01-01 20:00", 3))
      q.processAllAvailable()
      // batch 4: far-future sentinel so hour 13 finalizes too
      write(watch, ev(7, "2026-01-02 06:00", 3))
      q.processAllAvailable()

      val got = spark.table("late_rollup")
        .select(date_format(col("hour"), "MM-dd HH").as("h"), col("n"))
        .as[(String, Long)].collect().toMap
      // hour 10 finalized with its ON-TIME 3 events (the late 10:50 event
      // did not leak in); hours 13 and 20 finalized once each; the
      // still-open sentinel hour is not emitted
      assert(got === Map("01-01 10" -> 3L, "01-01 13" -> 1L,
        "01-01 20" -> 1L), s"got $got")
      assert(spark.table("late_rollup").count() === 3)
    } finally q.stop()
  }
}
