package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** STREAMING ANN-INDEX MAINTENANCE — the PQ-codes artifact kept current
  * micro-batch by micro-batch: each arriving embedding batch is
  * delta-encoded INSIDE `foreachBatch` (codes are row-local — a pure
  * function of the vector and the fixed centroid/codebook literals, the
  * same property [[Similarity.ensurePqCodes]] exploits in
  * batch) and appended to a [[StateGenerations]] generation of the codes
  * parquet: v(n+1) = hardlinks of v(n) + the delta's part files.
  *
  * The feed is staged as two batches — the base corpus, then the
  * q_ivfpq_refresh append batch (the 100 lowest vec_ids re-inserted
  * under vec_id+10000) — and drained through
  * [[StreamingIndexer.drainSplitFeed]]: one incarnation with per-file
  * micro-batches for the declared query, two incarnations over one
  * checkpoint under `resumeProof` (spec-pinned identical, plus the
  * restarted-maintainer claim). The drained artifact serves the same
  * per-cell fingerprint and answers to the IDENTICAL oracle as the
  * batch refresh — streamed maintenance ≡ full rebuild, proven.
  */
object StreamingAnn {

  private val state = new StateGenerations("graft_stream_ann_")

  /** Spec observability: batches the last drain ran. */
  private[graft] val lastNumBatches = state.numBatches

  /** Spec observability: rows encoded per batch of the last drain —
    * pins "the second batch encoded ONLY the delta", the claim that
    * matters at 100 TB.
    */
  private[graft] val lastBatchRows =
    new java.util.concurrent.atomic.AtomicReference[List[Long]](Nil)

  def annCodesAvailableNow(spark: SparkSession, sfDir: String,
                           resumeProof: Boolean = false): DataFrame = {
    def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val staged = StreamingIndexer.ensureSplitFeed(spark,
      "graft_ann_feed_" + graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(Tables.embeddings(spark, sfDir)))(
      embeddings,
      embeddings.filter(col("vec_id") < 100)
        .withColumn("vec_id", col("vec_id") + 10000))

    val dim = Similarity.embeddingDim(spark, sfDir)
    lastBatchRows.set(Nil)
    // code generations are append-only per batch (order-insensitive) →
    // one-incarnation drain for the declared query; the spec pins the
    // two-incarnation resume shape
    val codes = state.drain(spark, staged, resumeProof) { _ => (batch, prev, next) =>
      // COW generation: prior codes carry over as hardlinks — zero
      // re-encode, zero copy; only the delta below writes data
      prev.foreach(graft.util.Scratch.hardlinkTree(_, next, skip = _ == "_SUCCESS"))
      val obs = new org.apache.spark.sql.Observation()
      Similarity.encodePq(batch.observe(obs, count(lit(1)).as("n")), dim)
        .write.mode("append").parquet(next)
      val n = obs.get.get("n") match {
        case Some(v: Number) => v.longValue()
        case _ => 0L
      }
      lastBatchRows.updateAndGet(n :: _)
      ()
    }
    Similarity.pqArtifactFingerprint(spark.read.parquet(codes))
  }
}
