package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingDedup

class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("AvailableNow drain state equals the batch exact-dedup answer") {
    val streamed = StreamingDedup.dedupAvailableNow(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batch = graft.operators.Dedup.exactDedup(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("dedup-at-ingest keeps one arrival per distinct text across batches") {
    val watch = java.nio.file.Files.createTempDirectory("graft_stream_dedup_spec").toString
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.write.mode("overwrite").parquet(watch)

    val nDistinct = docs.select(sha2(col("text"), 256)).distinct().count()

    val q = startToMemory(StreamingDedup.dedupStream(spark, watch), "append", "stream_dedup")
    try {
      q.processAllAvailable()
      assert(spark.table("stream_dedup").count() === nDistinct)

      // second batch: every doc re-arrives under a new id (all dups),
      // plus two genuinely new texts
      docs.withColumn("doc_id", col("doc_id") + 10000)
        .unionByName(Seq(
          (20001L, "graft streaming novel text one", "en", "srcX", 30L),
          (20002L, "graft streaming novel text two", "en", "srcX", 30L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
        .write.mode("append").parquet(watch)
      q.processAllAvailable()

      val out = spark.table("stream_dedup")
      assert(out.count() === nDistinct + 2, "dups re-admitted or news lost")
      // kept fingerprints are exactly the distinct fingerprints seen
      val keptFps = out.select("fp").as[String].collect().toSet
      val allFps = docs.select(sha2(col("text"), 256).as("fp"))
        .as[String].collect().toSet
      assert(allFps.subsetOf(keptFps))
      assert(out.select("fp").distinct().count() === out.count())
    } finally {
      q.stop()
      graft.util.Scratch.deleteRecursively(watch)
    }
  }
}
