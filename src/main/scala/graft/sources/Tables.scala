package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loaders for the driver's TPC-H-ish star schema plus the
  * text/embedding/event extension tables (see /root/repo/TESTDATA.md).
  *
  * The reference engine's only "source" is a char-at-a-time text-file scan
  * (`/root/reference/worker.c:188-205`); here every source is a columnar
  * parquet scan so Catalyst can push filters and prune columns — at 100 TB
  * the scan is the dominant cost and pushdown/pruning is what keeps it
  * proportional to the query, not the dataset.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** Normalize an events frame's `ts` column to session-zoned TimestampType
    * (µs precision) REGARDLESS of the physical encoding the driver used for
    * `events.parquet`. The driver has shipped both TIMESTAMP(NANOS) — which
    * Spark 4 surfaces as a raw LongType under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ. The
    * reference engine has no schema pin to break (it re-reads whatever is
    * in `./data/` per request, `/root/reference/worker.c:188-190`); this is
    * the Spark-side equivalent: adapt to the file, never assume last
    * round's encoding.
    *
    *  - LongType (ns-as-long): floor-convert ns→µs. `div 1000` truncates
    *    toward zero, which equals floor only for ts >= 0 — fine for this
    *    corpus (all timestamps post-1970 per TESTDATA.md).
    *  - TIMESTAMP_NTZ: cast to TimestampType. The session timezone is
    *    pinned to UTC in every entry point, so the cast is wall-clock
    *    identity and agrees with the DuckDB oracle's naive-timestamp math.
    *  - TimestampType: already what we want.
    */
  private[graft] def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType =>
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case _: TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalStateException(
        s"events.$colName has unsupported physical type $other — " +
          "expected ns-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }

  /** Events with `ts` normalized to TimestampType whatever the parquet's
    * physical timestamp encoding (see [[normalizeTs]]).
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))

  /** Streaming reader over a directory of RAW driver-encoded events
    * parquet: sniff the physical schema with a bounded batch read (the
    * file(s) are already staged when this is called), declare exactly that
    * schema on the file stream, then apply the same [[normalizeTs]] the
    * batch path uses — so batch and streaming can never disagree about the
    * timestamp encoding. `pathGlob` lets multi-dir stages (sentinel
    * patterns) pass a star-glob over subdirectories while sniffing one
    * known-real file.
    */
  private[graft] def eventsStream(s: SparkSession, sniffPath: String,
                                  pathGlob: String,
                                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val physical = s.read.parquet(sniffPath).schema
    val reader = s.readStream.schema(physical)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    normalizeTs(reader.parquet(pathGlob))
  }

  /** A literal epoch-ms timestamp encoded to MATCH `dt` — the sniffed
    * physical `ts` type of a driver file being co-staged into the same
    * streaming directory (sentinel rows must carry the same encoding or
    * the declared stream schema cannot read both files).
    */
  private[graft] def tsLiteral(ms: Long, dt: DataType): Column = dt match {
    case LongType             => lit(ms * 1000000L) // ns-as-long
    case _: TimestampNTZType  => timestamp_millis(lit(ms)).cast(TimestampNTZType)
    case _: TimestampType     => timestamp_millis(lit(ms))
    case other => throw new IllegalStateException(
      s"cannot encode sentinel ts as $other")
  }

  /** The documents corpus, SPREAD over the available task slots whenever
    * the file layout cannot feed them by itself ([[graft.util.Spread]]):
    * nearly every consumer fuses expensive per-row work — tokenize +
    * explode, regex segmentation, shingle/gram slicing, fixture codec
    * render — into this scan, and the bench corpus is one single-row-group
    * parquet file, i.e. a ONE-TASK scan at any cluster size (a row group
    * is unsplittable). The spread is scale-adaptive, not a local constant:
    * at production scale the scan has many splits and this is the
    * identity; when it fires, the exchange moves the raw document rows —
    * the narrowest point of every downstream pipeline (guide §2.5/§2.6).
    */
  def documents(s: SparkSession, d: String): DataFrame =
    graft.util.Spread.scan(s, table(s, d, "documents"), s"documents|$d")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** File-listing signature of a table's base relation — the staleness
    * fingerprint every memoized artifact keys on: same files+sizes+mtimes
    * ⟺ same signature. In-memory FileIndex metadata, no data read.
    */
  private[graft] def listingSig(df: DataFrame): String =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        graft.plans.AggRewriteRule.fileSig(lr)
    }.flatten.getOrElse(
      throw new IllegalStateException("relation has no file listing"))
}
