package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Privacy
import graft.sources.Tables

/** STREAMING PII CENSUS — the per-source PII audit of
  * [[graft.operators.Privacy.piiScrub]] maintained micro-batch by
  * micro-batch: each batch's documents are scanned row-locally for PII
  * (detection + redaction accounting), reduced to the per-source census,
  * and the stored census absorbs the delta by componentwise integer sum —
  * the census is MERGEABLE ([[Privacy.censusOf]]), so the
  * continuously-maintained table equals a from-scratch batch census
  * bit-for-bit and answers the IDENTICAL `q_pii_scrub` oracle. State
  * generations are copy-on-write parquet ([[StateGenerations]]); the
  * feed stages the corpus as two doc_id-split batches through two query
  * incarnations over ONE checkpoint (resume proven by the
  * two-incarnation drain).
  *
  * At 100 TB this is "the PII audit is always current as crawl batches
  * land" for the price of one row-local pass over each batch — state is
  * source-count-sized, never a corpus re-scan.
  */
object StreamingPii {

  private val state = new StateGenerations("graft_stream_pii_")

  /** Spec observability: batches the last drain ran. */
  private[graft] val lastNumBatches = state.numBatches

  def piiCensusAvailableNow(spark: SparkSession, sfDir: String,
                            splitAt: Long = 250L,
                            resumeProof: Boolean = false): DataFrame = {
    def docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val staged = StreamingIndexer.ensureSplitFeed(spark,
      s"graft_pii_feed_${splitAt}_" + graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.documents(spark, sfDir)))(
      docs.filter(col("doc_id") < splitAt), docs.filter(col("doc_id") >= splitAt))

    // the sum list derives from the census's own column roster: a new
    // pattern in Privacy.PiiPatterns flows through state generations
    // without a hand-edited list going stale
    val sums = Privacy.CensusCols.map(c => sum(c).as(c))
    // census merges are commutative integer sums → one-incarnation drain
    // for the declared query; the spec pins the two-incarnation resume
    val last = state.drain(spark, staged, resumeProof) { ss => (batch, prev, next) =>
      // the PII regex pass is the expensive per-row step and the staged
      // feed is one file per batch = a one-partition batch: spread it
      // (same scale-adaptive guard as the documents scan — a no-op on a
      // many-split production feed; cacheKey pins the partition probe to
      // one plan-to-RDD conversion per drain)
      val delta = Privacy.censusOf(Privacy.piiPerDocOf(
        graft.util.Spread.scan(ss, batch.toDF(), cacheKey = s"pii_feed|$staged")))
      val merged = prev.fold(delta)(p =>
        ss.read.parquet(p)
          .unionByName(delta)
          .groupBy("source")
          .agg(sums.head, sums.tail: _*))
      merged.coalesce(1).write.mode("overwrite").parquet(next)
    }
    // counts must come back as BIGINT after the sum-merge roundtrip
    spark.read.parquet(last)
      .select(col("source") +:
        Privacy.CensusCols.map(c => col(c).cast("long").as(c)): _*)
      .orderBy("source")
  }
}
