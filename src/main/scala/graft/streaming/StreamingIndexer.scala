package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.TextFunctions._

/** Continuous inverted-index maintenance via Structured Streaming — the
  * analogue of the reference master's accept-forever loop
  * (`/root/reference/minigoogle.c:49-60`), which re-indexes every document
  * a client submits. Here new documents land as parquet files in a watched
  * directory; the same tokenize→count plan runs incrementally with
  * streaming state instead of fork/exec per request.
  */
object StreamingIndexer {

  private val DocSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Streaming postings aggregation over a watched parquet directory of
    * documents(doc_id, text, ...): [[graft.operators.Indexer.postingsOf]]
    * over the stream, so complete-mode output mirrors the batch
    * [[graft.operators.Indexer.postings]] exactly.
    */
  def postingsStream(spark: SparkSession, watchDir: String): DataFrame =
    graft.operators.Indexer.postingsOf(
      spark.readStream.schema(DocSchema).parquet(watchDir))

  private val indexScratch = new graft.util.ScratchSlot
  private val hourlyScratch = new graft.util.ScratchSlot

  /** A cloned session for a bounded drain: shared SparkContext, PRIVATE
    * SQLConf with the drain's narrow state partitioning. A bounded drain
    * instantiates one state store per stateful op PER SHUFFLE PARTITION;
    * at the drain's micro-batch sizes 32 stores are pure setup cost (the
    * stream-stream join paid ~6 s). The state partitioning is pinned by
    * the fresh checkpoint at batch 0, so narrowing it is invisible to
    * results — an unbounded deployment would size it to the real key
    * cardinality instead. Cloning (rather than set/restore on the shared
    * session) means concurrent users of the caller's session never observe
    * the override.
    *
    * 4 partitions, MEASURED (r17) over the whole 19-query streaming family
    * on one box, min-of-2 per query, identical conditions: 8 partitions
    * = 68.2 s, 4 = 53.9 s (state-store setup/commit file ops dominate a
    * bounded drain and scale with the partition count), 2 = 70.0 s (the
    * per-batch COMPUTE loses too much parallelism). Results are
    * partition-count-invariant — every module's spec and oracle pins
    * that.
    */
  private[streaming] def drainSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    // `newSession` isolates runtime conf, so the state-backend choice is
    // forwarded explicitly: setting spark.graft.stateStoreProvider on the
    // caller's session (e.g. to RocksDBStateStoreProvider) switches EVERY
    // streaming drain's state store — the off-heap backend an unbounded
    // feed needs, proven result-identical by StateStoreBackendSpec
    spark.conf.getOption("spark.graft.stateStoreProvider").foreach { p =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", p)
    }
    ss
  }

  /** The memoize-two-split-batches staging shared by every
    * two-incarnation resume proof (the [[StateGenerations]] maintainers,
    * the postings resume): the batch FILES are a pure function of the corpus, staged
    * once per corpus state as `a/` and `b/` under one memoized dir; each
    * execution hardlink-assembles its own watch dir batch by batch, so
    * the checkpoint-resume semantics are per-execution while the corpus
    * writes are not. Callers must build their name from VALUES (not
    * hashCodes) of any parameters that change the split — hash-keyed
    * names collide silently across parameterizations. The batches are
    * by-name: they are built (and any job they need runs) only when the
    * memo misses.
    */
  private[streaming] def ensureSplitFeed(
      spark: SparkSession, name: String, sig: String)(
      a: => DataFrame, b: => DataFrame): String =
    graft.util.Scratch.memoizedDir(spark, name, sig) { p =>
      a.coalesce(1).write.parquet(s"$p/a")
      b.coalesce(1).write.parquet(s"$p/b")
    }

  // staged single-file copies, memoized per (corpus dir, file) STATE —
  // Scratch.memoizedDir keys on the source file's size+mtime, so the copy
  // is rebuilt if the corpus file changes: it is read-only for every
  // drain (checkpoints and memory tables are per-invocation), so one copy
  // serves every consumer and bench pass. Exit-deleted.
  private def stagedCopy(spark: SparkSession, sfDir: String,
                         file: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(sfDir, file)
    val sig = s"${Files.size(src)}:${Files.getLastModifiedTime(src).toMillis}"
    Paths.get(graft.util.Scratch.memoizedDir(spark,
      s"graft_feed_${file.takeWhile(_ != '.')}_" +
        graft.util.Scratch.valueToken(sfDir), sig) { watchDir =>
      val watch = Paths.get(watchDir)
      Files.createDirectories(watch)
      Files.copy(src, watch.resolve(file), StandardCopyOption.REPLACE_EXISTING)
      ()
    })
  }

  /** Drain a staged two-batch feed (the `a/`+`b/` layout of
    * [[ensureSplitFeed]]) through `writeBatch`, hardlink-assembling the
    * per-execution watch dir.
    *
    * `resumeProof = true` is the two-incarnation shape — drain batch a,
    * STOP, add batch b, resume the SAME checkpoint — the proof that a
    * restarted maintainer continues from its state instead of
    * reprocessing (spec-pinned per module). The declared queries run ONE
    * incarnation with `maxFilesPerTrigger = 1` instead: both staged
    * files land upfront and the source still delivers them as SEPARATE
    * micro-batches, so the cross-batch state merge is exercised
    * identically and the drained result is the same (each module's spec
    * asserts the two shapes agree) — for one streaming-query setup
    * instead of two, the fixed cost that dominated the bench's streaming
    * family. ONLY order-insensitive (commutative-merge) feeds may take
    * the one-incarnation path: within one incarnation the file source
    * orders same-mtime files arbitrarily, so an order-dependent merge
    * (SCD2's "every delta follows every stored run") must keep its two
    * incarnations.
    */
  private[streaming] def drainSplitFeed(
      ss: SparkSession, staged: String,
      watch: java.nio.file.Path, cp: java.nio.file.Path,
      resumeProof: Boolean)(writeBatch: (Dataset[Row], Long) => Unit): Unit = {
    graft.util.Scratch.hardlinkTree(s"$staged/a", watch.resolve("a").toString)
    val schema = ss.read.parquet(watch.resolve("a").toString).schema
    if (!resumeProof)
      graft.util.Scratch.hardlinkTree(s"$staged/b", watch.resolve("b").toString)
    def drain(oneFilePerBatch: Boolean): Unit = {
      val rs = ss.readStream.schema(schema)
      (if (oneFilePerBatch) rs.option("maxFilesPerTrigger", 1) else rs)
        .parquet(watch.toString + "/*")
        .writeStream
        .foreachBatch(writeBatch)
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    if (resumeProof) {
      drain(oneFilePerBatch = false) // incarnation 1: the base history
      graft.util.Scratch.hardlinkTree(s"$staged/b", watch.resolve("b").toString)
      drain(oneFilePerBatch = false) // incarnation 2 resumes the checkpoint
    } else drain(oneFilePerBatch = true)
  }

  /** Drain a stream into EXECUTOR-BLOCK-backed datasets via foreachBatch +
    * `localCheckpoint` and return the drained result. The old shape — a
    * memory-sink table — held the result as driver-side external Rows, and
    * every serve of it paid a single-threaded row re-encode of the whole
    * table (measured ~0.4 s on a 116k-row drained index, ×2 bench passes,
    * ×14 drained queries); checkpointed blocks scan parallel with no
    * row conversion, and the per-batch materialization cost is the same
    * job the memory sink's collect already paid.
    *
    * complete mode: each batch carries the FULL result — keep the latest.
    * append mode: each batch is a delta — the result is their union
    * (exactly what the memory sink accumulated).
    *
    * Block lifetime: the checkpointed datasets are handed to `slot`; the
    * next invocation drops the references and the ContextCleaner frees
    * the (result-table-sized) blocks.
    */
  private[streaming] def drainToBlocks(
      stream: DataFrame, mode: String, slot: graft.util.ScratchSlot,
      checkpoint: Option[String] = None): DataFrame = {
    val acc = new java.util.concurrent.atomic.AtomicReference[List[DataFrame]](Nil)
    val writer = stream.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val cp = batch.localCheckpoint(true)
        acc.updateAndGet(prev =>
          if (mode == "complete") List(cp.toDF()) else cp.toDF() :: prev)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    checkpoint.foreach(p => writer.option("checkpointLocation", p))
    writer.start().awaitTermination()
    val parts = acc.get()
    slot.defer(() => { acc.set(Nil); () })
    parts match {
      case Nil =>
        val ss = stream.sparkSession
        ss.createDataFrame(ss.sparkContext.emptyRDD[Row], stream.schema)
      case one :: Nil => one
      case many => many.reverse.reduce(_.unionAll(_))
    }
  }

  /** Stage one parquet file into a memoized watched directory, drain
    * `mkStream(session, watchDir)` through [[drainToBlocks]] with an
    * AvailableNow trigger, and return the drained result. The stream MUST
    * be built on the session handed to `mkStream` (a [[drainSession]]
    * clone). The previous invocation's blocks are released first — see
    * [[graft.util.ScratchSlot]].
    */
  private[streaming] def drainToTable(
      spark: SparkSession, sfDir: String, file: String,
      slot: graft.util.ScratchSlot,
      mode: String = "complete") // append for joins — complete only fits aggregations
      (mkStream: (SparkSession, String) => DataFrame): DataFrame = {
    slot.retire()
    val watch = stagedCopy(spark, sfDir, file)
    val ss = drainSession(spark)
    drainToBlocks(mkStream(ss, watch.toString), mode, slot)
  }

  /** The full streaming index lifecycle as a BOUNDED, oracle-checkable
    * query: stage the corpus into a watched directory, drain it with an
    * AvailableNow trigger through the incremental postings aggregation,
    * and return the final state shaped exactly like the batch
    * [[graft.operators.Indexer.indexBuild]] — so the SAME DuckDB oracle
    * SQL verifies that streaming state converges to the batch answer.
    *
    * AvailableNow is precisely "index everything submitted so far, then
    * stop" — the reference master's accept-loop drained to quiescence
    * (`/root/reference/minigoogle.c:49-60`). At scale the identical plan
    * runs unbounded with micro-batches; boundedness here comes only from
    * the trigger, not from any change to the streaming plan or state.
    */
  def indexAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    drainToTable(spark, sfDir, "documents.parquet",
      indexScratch)((ss, watch) => postingsStream(ss, watch))
      .select(firstLetter(col("term")).as("first_letter"),
        col("term"), col("doc_id"), col("tf"))
      .orderBy("term", "doc_id")

  private val resumeScratch = new graft.util.ScratchSlot

  /** CHECKPOINT RESUME — the exactly-once restart story an unbounded
    * deployment lives on: the corpus arrives as TWO file batches drained
    * through ONE checkpoint by two separate query incarnations. The
    * second run recovers the aggregation state and the file-source log
    * from the checkpoint, processes ONLY the new file, and its
    * complete-mode output is the full converged index — the oracle's
    * hash match against batch postings over the whole corpus proves
    * recovery loses nothing and duplicates nothing (the reference's
    * re-index loop re-reads everything per request,
    * `/root/reference/minigoogle.c:49-60`; checkpointed state is the
    * scale-out replacement). Returns the final index; the spec variant
    * also reports run 2's input-row count to pin "only the delta was
    * read".
    */
  def indexResumeAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    indexResumeWithStats(spark, sfDir)._1

  private[graft] def indexResumeWithStats(spark: SparkSession,
                                          sfDir: String): (DataFrame, Long) = {
    import java.nio.file.Files
    resumeScratch.retire()
    val root = Files.createTempDirectory("graft_stream_resume_")
    val watch = root.resolve("watch")
    val cp = root.resolve("cp")
    // the two doc-id-split batch files are a pure function of the corpus
    // — memoized once per corpus state; each execution hardlink-assembles
    // its own watch dir batch by batch (resume proof untouched)
    val staged = {
      val docs = graft.sources.Tables.documents(spark, sfDir)
      lazy val split =
        docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      ensureSplitFeed(spark,
        "graft_resume_feed_" + graft.util.Scratch.valueToken(sfDir),
        graft.sources.Tables.listingSig(docs))(
        docs.filter(col("doc_id") <= split), docs.filter(col("doc_id") > split))
    }
    graft.util.Scratch.hardlinkTree(s"$staged/a", watch.resolve("a").toString)
    val ss = drainSession(spark)
    // complete-mode drain through block-backed foreachBatch (the
    // [[drainToBlocks]] shape, inlined because the resume proof needs the
    // query handle for its progress accounting): the LAST batch carries
    // the full converged state
    val acc = new java.util.concurrent.atomic.AtomicReference[DataFrame](null)
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = postingsStream(ss, watch.toString + "/*").writeStream
        .outputMode("complete")
        .foreachBatch { (batch: Dataset[Row], _: Long) =>
          acc.set(batch.localCheckpoint(true).toDF())
          ()
        }
        .option("checkpointLocation", cp.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    drain()
    // the "next crawl batch" lands; a NEW query incarnation resumes from
    // the same checkpoint
    graft.util.Scratch.hardlinkTree(s"$staged/b", watch.resolve("b").toString)
    val q2 = drain()
    // recentProgress is a ring buffer of the last
    // spark.sql.streaming.numRecentProgressUpdates entries (default 100);
    // summing a TRUNCATED buffer would undercount silently and make the
    // delta-only assertion downstream pass vacuously. Today's drain is a
    // handful of micro-batches — enforce that loudly rather than assume.
    val progress = q2.recentProgress
    val retention =
      ss.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt
    require(progress.length < retention,
      s"resume drain produced ${progress.length} progress updates, at the " +
        s"retention limit $retention — recentProgress may be truncated; " +
        "count input rows with a StreamingQueryListener instead")
    val run2Rows = progress.map(_.numInputRows).sum
    resumeScratch.defer(
      () => { acc.set(null); () },
      () => graft.util.Scratch.deleteRecursively(root))
    val out = acc.get()
      .select(firstLetter(col("term")).as("first_letter"),
        col("term"), col("doc_id"), col("tf"))
      .orderBy("term", "doc_id")
    (out, run2Rows)
  }

  /** THE watermarked hourly window aggregation — single definition shared
    * by the unbounded spec-facing stream ([[hourlyRollupStream]]) and the
    * oracle-checked AvailableNow drain ([[hourlyRollupAvailableNow]]), so
    * window/watermark/sum semantics cannot drift between them. Sum is
    * exact decimal cast to double (the oracle contract); n_users is absent
    * because streaming aggregations cannot countDistinct.
    */
  private def hourlyWindows(src: DataFrame): DataFrame =
    src.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked streaming window aggregation as a BOUNDED, oracle-checked
    * query — the same AvailableNow drain as [[indexAvailableNow]], applied
    * to the canonical streaming shape. The staged file is the driver's RAW
    * events parquet, whose physical timestamp encoding has drifted between
    * rounds (ns-as-long, then µs NTZ) — so the reader sniffs the file's
    * schema and routes through the SAME [[graft.sources.Tables.normalizeTs]]
    * the batch path uses ([[graft.sources.Tables.eventsStream]]), keeping
    * the oracle's hour buckets in agreement whatever the driver wrote.
    */
  def hourlyRollupAvailableNow(spark: SparkSession, sfDir: String): DataFrame = {
    drainToTable(spark, sfDir, "events.parquet",
      hourlyScratch) { (ss, watch) =>
        hourlyWindows(graft.sources.Tables.eventsStream(ss, watch, watch))
      }
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("hour", "event_type")
  }

  private val enrichScratch = new graft.util.ScratchSlot

  /** STREAM-STATIC enrichment as a BOUNDED, oracle-checkable query: the
    * canonical "enrich a fact stream with a dimension table" shape — an
    * event stream joined per micro-batch against the static customer
    * dimension (broadcast: the dimension is re-read each batch, so a
    * slowly-changing dim is always served fresh; no join state is kept,
    * unlike a stream-stream join), then rolled up per (segment, type).
    * The final aggregation state after an AvailableNow drain is a pure
    * function of the data — batch-split-proof — so the batch join+rollup
    * oracle checks it bit-for-bit.
    */
  def enrichedSegmentRollup(spark: SparkSession, sfDir: String): DataFrame = {
    drainToTable(spark, sfDir, "events.parquet",
      enrichScratch) { (ss, watch) =>
        val dim = graft.sources.Tables.customer(ss, sfDir)
          .select(col("c_custkey"), col("c_mktsegment"))
        graft.sources.Tables.eventsStream(ss, watch, watch)
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .groupBy(col("c_mktsegment"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(14,2)")).cast("double")
              .as("total_value"))
      }
      .select(col("c_mktsegment").as("segment"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("segment", "event_type")
  }

  /** Streaming twin of [[graft.operators.Events.hourlyRollup]]: watermarked
    * event-time tumbling windows with per-type counts/sums. Late data
    * beyond the watermark is dropped; state is bounded — the shape that
    * runs indefinitely against a real event feed.
    */
  def hourlyRollupStream(spark: SparkSession, watchDir: String): DataFrame = {
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    hourlyWindows(spark.readStream
      .schema(schema)
      .parquet(watchDir))
  }

  /** CONTINUOUS INDEX MAINTENANCE: every micro-batch of arriving
    * documents is upserted into the materialized letter-partitioned index
    * via the same partition-targeted overwrite the batch path uses
    * ([[graft.operators.Indexer.upsertIntoIndex]]) — the full production
    * analogue of the reference's accept-forever re-index loop
    * (`/root/reference/minigoogle.c:49-60`): docs stream in, the on-disk
    * index stays query-able and current, untouched letter partitions keep
    * their files byte-for-byte.
    *
    * `foreachBatch` is the right sink here (not a streaming aggregation):
    * the upsert is an idempotent-per-batch table REWRITE with its own
    * dynamic-partition-overwrite transaction, not an append of rows.
    *
    * One file per micro-batch (`maxFilesPerTrigger` 1): an upsert takes
    * one row per doc_id, and a file that rewrites a document again must
    * not share a micro-batch with the earlier version, or the two texts
    * would be tokenized as one document. The source delivers files in
    * modification-time order, so the later version wins. The trade: a
    * backlog of n files costs n upserts instead of one.
    */
  def startIndexMaintenance(spark: SparkSession, watchDir: String,
                            indexPath: String): StreamingQuery =
    spark.readStream
      .schema(DocSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(watchDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Indexer.upsertIntoIndex(spark, indexPath, batch)
      }
      .start()
}
