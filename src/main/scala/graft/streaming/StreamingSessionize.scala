package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization — the continuous twin of
  * [[graft.operators.Events.sessionize]] (30-minute inactivity gap), via
  * `flatMapGroupsWithState`: per-user session state with event-time
  * timeouts, so a session is emitted either when a later event of the same
  * user proves the gap, or when the watermark passes the session's gap
  * deadline. State is one small record per ACTIVE user — bounded by the
  * watermark, not by history — the shape that runs forever against a real
  * event feed (the reference's accept-forever loop,
  * `/root/reference/minigoogle.c:49-60`, minus the fork/exec).
  *
  * StreamingSessionizeSpec asserts the emitted sessions equal the batch
  * operator's output on the same data.
  */
object StreamingSessionize {

  val GapMs: Long = 30L * 60 * 1000

  case class Ev(user_id: Long, event_id: Long, ms: Long, ts: Timestamp)
  case class OpenSession(start_ms: Long, end_ms: Long, n: Long)
  case class SessionRow(user_id: Long, session_start_ms: Long,
                        session_end_ms: Long, n_events: Long, duration_s: Long)

  private def close(user: Long, s: OpenSession): SessionRow =
    SessionRow(user, s.start_ms, s.end_ms, s.n, (s.end_ms - s.start_ms) / 1000)

  private[streaming] def stateFn(
      user: Long, events: Iterator[Ev],
      state: GroupState[OpenSession]): Iterator[SessionRow] = {
    if (state.hasTimedOut) {
      // watermark passed end+gap: no on-time event can extend this session
      val out = state.getOption.map(close(user, _)).iterator
      state.remove()
      out
    } else {
      val out = scala.collection.mutable.ListBuffer.empty[SessionRow]
      // events within a micro-batch arrive unordered — sort like the batch
      // operator's window key (ms, event_id); cost is bounded per batch
      var cur = state.getOption
      events.toSeq.sortBy(e => (e.ms, e.event_id)).foreach { e =>
        cur match {
          case Some(s) if e.ms - s.end_ms > GapMs =>
            out += close(user, s)
            cur = Some(OpenSession(e.ms, e.ms, 1))
          case Some(s) =>
            cur = Some(OpenSession(s.start_ms, math.max(s.end_ms, e.ms), s.n + 1))
          case None =>
            cur = Some(OpenSession(e.ms, e.ms, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // deadline may already lie behind the watermark for historical
        // data — setTimeoutTimestamp rejects that, so clamp forward: the
        // timeout then fires on the next watermark advance (correct — the
        // session is provably closed)
        state.setTimeoutTimestamp(
          math.max(s.end_ms + GapMs, state.getCurrentWatermarkMs() + 1))
      }
      out.iterator
    }
  }

  val WatermarkDelayMs: Long = 3600L * 1000

  /** The watermark + state pipeline shared by the unbounded spec-facing
    * stream and the oracle-checked AvailableNow drain, so gap/watermark
    * semantics cannot drift between them.
    */
  private def sessionStreamFrom(spark: SparkSession,
                                src: org.apache.spark.sql.DataFrame): Dataset[SessionRow] = {
    import spark.implicits._
    src
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("ts"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(stateFn)
  }

  /** Streaming sessionization over a watched parquet directory with the
    * events schema. Emits one row per CLOSED session (append mode).
    */
  def sessionStream(spark: SparkSession, watchDir: String): Dataset[SessionRow] = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    sessionStreamFrom(spark, spark.readStream.schema(schema).parquet(watchDir))
  }

  private val drainScratch = new graft.util.ScratchSlot

  /** The streaming sessionization lifecycle as a BOUNDED, oracle-checkable
    * query — the append-mode counterpart of
    * [[StreamingIndexer.indexAvailableNow]]'s complete-mode drains.
    * Append-mode state only flushes when the WATERMARK passes a session's
    * gap deadline, and a drained file source alone leaves the final
    * watermark one delay short of the data's edge — every user's last
    * session would stay un-emitted. The drain closes that gap with a
    * SENTINEL: one synthetic far-future event (user −1) staged as a second
    * file and processed as a later micro-batch, placed past
    * max(ts) + gap + delay so the final watermark provably clears every
    * real session's deadline; the sentinel's own session can never close,
    * so exactly the real sessions emit (the engine evaluates the remaining
    * timeouts in the no-data batch AvailableNow runs before terminating).
    *
    * Two staging choices make the drain bit-reproducible under the batch
    * oracle: the corpus is staged as ONE file so the whole history is a
    * single micro-batch (ordered by the state function's (ms, event_id)
    * in-batch sort — across-batch disorder is the one thing gap state
    * cannot retroactively fix; the unbounded [[sessionStream]]'s contract
    * for that is the watermark, a drain from a checkpointed feed would
    * inherit source order), and the sentinel file's mtime is bumped ahead
    * of the corpus file's so the file source's oldest-first ordering is
    * explicit rather than write-timing luck. session_no is assigned AFTER
    * the drain (row_number over the emitted set) — emission order carries
    * no meaning in append mode.
    */
  /** Stage the events corpus as ONE parquet file plus the far-future
    * sentinel file (mtime-bumped past the corpus so the file source's
    * oldest-first ordering is explicit) — the drain staging shared with
    * [[StreamingSessionWindow]].
    *
    * MEMOIZED per corpus state ([[graft.util.Scratch.memoizedDir]], keyed
    * on the events listing signature): the staged feed is read-only for
    * every drain (each drain gets its own fresh checkpoint and memory
    * table), so one copy serves both session mechanisms and every bench
    * pass — without this, each of the 4 executions per bench re-wrote
    * the whole events table — and a mutated corpus re-stages instead of
    * serving stale events.
    */
  private[graft] def stageWithSentinel(
      spark: SparkSession, sfDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(graft.util.Scratch.memoizedDir(spark,
      "graft_sessions_feed_" + graft.util.Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(
        graft.sources.Tables.events(spark, sfDir))) { path =>
      stageWithSentinelInto(spark, sfDir, java.nio.file.Paths.get(path))
      ()
    })

  private def stageWithSentinelInto(
      spark: SparkSession, sfDir: String,
      watch: java.nio.file.Path): java.nio.file.Path = {
    import spark.implicits._
    val real = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"))
    real.coalesce(1).write.mode("overwrite")
      .parquet(watch.resolve("a_events").toString)
    val maxMs = real.agg(max(unix_millis(col("ts"))).as("m")).head().getLong(0)
    val sentinelMs = maxMs + GapMs + WatermarkDelayMs + 3600L * 1000
    Seq((-1L, new Timestamp(sentinelMs), -1L)).toDF("event_id", "ts", "user_id")
      .coalesce(1).write.mode("overwrite")
      .parquet(watch.resolve("z_sentinel").toString)
    // file source order is oldest-mtime-first: push the sentinel's files
    // a minute ahead so it can never tie with (or precede) the corpus file
    // on coarse-mtime filesystems — sentinel-first would make the real
    // events late against the sentinel's watermark and drop them all
    val now = System.currentTimeMillis()
    Option(watch.resolve("z_sentinel").toFile.listFiles())
      .getOrElse(Array.empty[java.io.File])
      .foreach(f => { f.setLastModified(now + 60_000); () })
    watch
  }

  def sessionsAvailableNow(spark: SparkSession, sfDir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    drainScratch.retire()
    val watch = stageWithSentinel(spark, sfDir)
    // narrow the drain's state partitioning like StreamingIndexer
    // .drainToTable — on a cloned session so the caller's conf is untouched
    val ss = StreamingIndexer.drainSession(spark)
    val drained = StreamingIndexer.drainToBlocks(
      sessionStreamFrom(ss,
        ss.readStream
          .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT")
          .option("maxFilesPerTrigger", "1")
          .parquet(watch.toString + "/*")).toDF(),
      "append", drainScratch)
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start_ms"))
    drained
      .filter(col("user_id") >= 0)
      .withColumn("session_no", row_number().over(w).cast("long"))
      .select("user_id", "session_no", "session_start_ms", "session_end_ms",
        "n_events", "duration_s")
      .orderBy("user_id", "session_no")
  }
}
