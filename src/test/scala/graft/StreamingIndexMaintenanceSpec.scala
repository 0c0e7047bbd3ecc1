package graft

import org.apache.spark.sql.functions._

import graft.operators.Indexer
import graft.streaming.StreamingIndexer

class StreamingIndexMaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  test("foreachBatch upsert keeps the served index equal to a batch rebuild") {
    val watch = java.nio.file.Files.createTempDirectory("graft_idx_watch").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_idx_live").toString + "/index"
    Indexer.writeIndex(spark, sf, idx)

    val q = StreamingIndexer.startIndexMaintenance(spark, watch, idx)
    try {
      // first update batch: rewrite doc 0, add a brand-new doc
      val upd1 = Seq(
        (0L, "zebra quill zebra", "en", "srcX", 17L),
        (9999L, "quokka zebra corpus", "en", "srcX", 19L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      upd1.write.mode("append").parquet(watch)
      q.processAllAvailable()

      // second update batch: rewrite the new doc again (steady-state churn)
      val upd2 = Seq((9999L, "quokka only now", "en", "srcX", 15L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      upd2.write.mode("append").parquet(watch)
      q.processAllAvailable()

      val served = spark.read.parquet(idx)
        .select("term", "doc_id", "tf")
        .as[(String, Long, Long)].collect().toSet

      // ground truth: batch postings over the final corpus state
      val finalCorpus = graft.sources.Tables.documents(spark, sf)
        .filter(col("doc_id") =!= 0L)
        .unionByName(Seq(
          (0L, "zebra quill zebra", "en", "srcX", 17L),
          (9999L, "quokka only now", "en", "srcX", 15L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      val expected = finalCorpus
        .select(col("doc_id"),
          graft.functions.TextFunctions.explodedTokens(col("text")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        .as[(String, Long, Long)].collect().toSet

      assert(served === expected)
    } finally q.stop()
  }

  test("two versions of a doc landed before the start: the later one wins") {
    val root = java.nio.file.Files.createTempDirectory("graft_idx_versions")
    val corpus = Seq((1L, "apple banana"), (2L, "cherry quokka"))
    corpus.toDF("doc_id", "text").write.parquet(s"$root/corpus/documents.parquet")
    val idx = s"$root/index"
    Indexer.writeIndex(spark, s"$root/corpus", idx)
    val watch = s"$root/watch"
    def land(text: String): Unit =
      Seq((9999L, text, "en", "srcX", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(watch)
    land("quokka zebra corpus")
    // the first version is a minute older, so the source orders it first
    new java.io.File(watch).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.setLastModified(f.lastModified - 60000))
    land("quokka only now")

    val q = StreamingIndexer.startIndexMaintenance(spark, watch, idx)
    try {
      q.processAllAvailable()
      val served = Indexer.readIndex(spark, idx)
        .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
      val expected = Indexer.postingsOf(
        (corpus :+ (9999L -> "quokka only now")).toDF("doc_id", "text"))
        .as[(String, Long, Long)].collect().toSet
      assert(served === expected)
    } finally {
      q.stop()
      graft.util.Scratch.deleteRecursively(root.toString)
    }
  }

  test("checkpoint resume: run 2 reads ONLY the delta file, output converges") {
    val (out, run2Rows) =
      graft.streaming.StreamingIndexer.indexResumeWithStats(spark, sf)
    val docs = graft.sources.Tables.documents(spark, sf)
    val maxId = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head().getLong(0)
    val deltaDocs = docs.filter(col("doc_id") > maxId / 2).count()
    // exactly-once restart: the recovered file log admits only file b
    assert(run2Rows === deltaDocs,
      s"resumed run read $run2Rows rows, delta batch has $deltaDocs docs")
    val got = out.select("term", "doc_id", "tf")
      .as[(String, Long, Long)].collect().toSet
    val expected = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.explodedTokens(col("text")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .as[(String, Long, Long)].collect().toSet
    assert(got === expected,
      "recovered state + delta does not equal batch postings over the corpus")
  }
}
