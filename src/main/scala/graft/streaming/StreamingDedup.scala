package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Dedup-at-ingest for a continuously arriving corpus — the streaming twin
  * of [[graft.operators.Dedup.exactDedup]]. A training-data feed dedups
  * BEFORE documents land in the lake, so the expensive batch pass only
  * ever sees novel content.
  *
  * `dropDuplicates` on the content fingerprint keeps the first arrival of
  * each distinct text; streaming state is one 64-hex fingerprint per
  * distinct document (not the text itself), hash-partitioned across
  * executors by the state store. For feeds where duplicates cluster in
  * time (crawl re-fetches, retry storms) the watermarked variant bounds
  * state to the duplicate-arrival horizon via
  * `dropDuplicatesWithinWatermark` — that is the shape that runs forever
  * at 100 TB, trading unbounded exactness for bounded state.
  */
object StreamingDedup {

  private val DocSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Append-mode stream of first-arrival documents: (doc_id, fp, lang).
    * State grows with the distinct-document count (exact forever).
    */
  def dedupStream(spark: SparkSession, watchDir: String): DataFrame =
    spark.readStream
      .schema(DocSchema)
      .parquet(watchDir)
      .select(col("doc_id"), sha2(col("text"), 256).as("fp"), col("lang"))
      .dropDuplicates("fp")

  /** Run the unbounded dedup stream into an in-memory table (tests/local
    * smoke). Caller stops the query.
    */
  def startToMemory(spark: SparkSession, watchDir: String,
                    tableName: String): StreamingQuery =
    dedupStream(spark, watchDir).writeStream
      .outputMode("append")
      .format("memory")
      .queryName(tableName)
      .start()

  private val drainScratch = new graft.util.ScratchSlot

  /** The streaming dedup lifecycle as a BOUNDED, oracle-checkable query —
    * the same AvailableNow drain as
    * [[StreamingIndexer.indexAvailableNow]], applied to dedup-at-ingest.
    *
    * [[dedupStream]]'s `dropDuplicates` keeps the FIRST ARRIVAL per
    * fingerprint, which depends on micro-batch split order — inherently
    * non-reproducible, so it stays spec-only. The driver-visible row
    * instead runs the streaming aggregation `min(doc_id), count(*)` per
    * fingerprint: the identical deterministic reduction the batch
    * [[graft.operators.Dedup.exactDedup]] computes (keeper = min id,
    * group_size = duplicates absorbed), so the drained final state matches
    * the batch oracle bit-for-bit no matter how arrivals interleave. Same
    * state-store footprint as dropDuplicates (one fingerprint plus two
    * longs per distinct document, hash-partitioned across executors).
    */
  def dedupAvailableNow(spark: SparkSession, sfDir: String): DataFrame =
    StreamingIndexer.drainToTable(spark, sfDir, "documents.parquet",
      drainScratch) { (ss, watch) =>
        ss.readStream
          .schema(DocSchema)
          .parquet(watch)
          .select(col("doc_id"), sha2(col("text"), 256).as("fp"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("group_size"))
      }
      .select("doc_id", "fp", "group_size")
      .orderBy("doc_id")
}
