package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Drift
import graft.sources.Tables

/** DRIFT-AT-INGEST — the streaming twin of [[graft.operators.Drift]]:
  * the new generation's (dimension, bin) cell table is maintained as
  * STREAMING STATE while documents arrive, exactly like the streaming
  * Count-Min sketch (state = the fixed-size cell table; cellwise add =
  * the monitor's merge). PSI against the static base corpus is then a
  * cell-table-sized computation over the drained state — so the monitor
  * reads the live distribution of an unbounded feed with bounded memory,
  * and the batch oracle verifies it bit-for-bit (the SAME oracle SQL as
  * `q_distribution_drift`: streamed cells ≡ batch cells is the claim
  * under test).
  */
object StreamingDrift {

  private val scratch = new graft.util.ScratchSlot

  private val DocSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  def driftAvailableNow(spark: SparkSession, sfDir: String,
                        charBin: Int = 64): DataFrame = {
    // the generation boundary — one scalar off the batch relation
    val half = Tables.documents(spark, sfDir)
      .agg(expr("max(doc_id) div 2")).head().getLong(0)
    val newCells = StreamingIndexer.drainToTable(spark, sfDir,
      "documents.parquet", scratch) { (ss, watch) =>
        ss.readStream.schema(DocSchema).parquet(watch)
          .filter(col("doc_id") > half)
          .select(Drift.dimBins(charBin).as("dc"))
          .select(col("dc.dimension").as("dimension"), col("dc.bin").as("bin"))
          .groupBy("dimension", "bin").agg(count(lit(1)).as("b"))
      }
    // base cells on the drain session (the drained frame's owner), so
    // the full-outer cell join resolves in one session state
    val baseCells = Tables.documents(newCells.sparkSession, sfDir)
      .filter(col("doc_id") <= half)
      .select(Drift.dimBins(charBin).as("dc"))
      .select(col("dc.dimension").as("dimension"), col("dc.bin").as("bin"))
      .groupBy("dimension", "bin").agg(count(lit(1)).as("a"))
    // bins seen by only one generation survive the full outer join with
    // a zero count — smoothing keeps their PSI contribution finite
    Drift.psiFromCells(
      baseCells.join(newCells, Seq("dimension", "bin"), "full_outer")
        .select(col("dimension"), col("bin"),
          coalesce(col("a"), lit(0L)).as("a"),
          coalesce(col("b"), lit(0L)).as("b")))
  }
}
