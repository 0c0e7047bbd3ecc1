package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingSessionize

class StreamingSessionizeSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming sessionization == batch sessionize on the same events") {
    val watch = java.nio.file.Files.createTempDirectory("graft_stream_sess").toString
    val ev = graft.sources.Tables.events(spark, sf)
    ev.write.mode("overwrite").parquet(watch)

    val q = startToMemory(
      StreamingSessionize.sessionStream(spark, watch), "append", "stream_sessions")
    try {
      q.processAllAvailable()
      // flush: two sentinel files far past every real session's deadline —
      // the first advances the watermark, the second triggers the timeout
      // pass that closes all remaining open sessions
      val maxTs = ev.agg(max(unix_millis(col("ts")))).as[Long].head()
      Seq(1, 2).foreach { i =>
        spark.range(1).select(
          lit(-1L * i).as("event_id"),
          timestamp_millis(lit(maxTs + i * 10L * 24 * 3600 * 1000)).as("ts"),
          lit(-1L).as("user_id"),
          lit("view").as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props"))
          .write.mode("append").parquet(watch)
        q.processAllAvailable()
      }

      val streamed = spark.table("stream_sessions")
        .filter(col("user_id") >= 0)
        .select("user_id", "session_start_ms", "session_end_ms",
          "n_events", "duration_s")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      val batch = graft.operators.Events.sessionize(spark, sf)
        .select("user_id", "session_start_ms", "session_end_ms",
          "n_events", "duration_s")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("sessionsAvailableNow sentinel drain == batch sessionize, session_no included") {
    val drained = StreamingSessionize.sessionsAvailableNow(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Events.sessionize(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(drained.nonEmpty)
    assert(drained === batch)
  }

  test("declarative session_window drain == batch sessionize (both mechanisms agree)") {
    val declarative = graft.streaming.StreamingSessionWindow
      .sessionsAvailableNow(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Events.sessionize(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(declarative.nonEmpty)
    assert(declarative === batch)
  }
}
