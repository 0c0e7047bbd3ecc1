package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.operators.{Indexer, MaterializedIndex}

/** Every served index query scans in ONE task, with no exchange above the
  * scan. That is only cheap while the scan is small, so this pins the
  * bound: a served scan reads at most [[Indexer.filesPerLetter]] files per
  * query letter, read off the executed scan's `numFiles` metric — after
  * the index is written, and after an upsert has rewritten letters.
  */
class ServedScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper
    with org.scalatest.BeforeAndAfterAll {

  private val scratchDirs = scala.collection.mutable.ListBuffer.empty[String]
  override def afterAll(): Unit = {
    scratchDirs.foreach(graft.util.Scratch.deleteRecursively)
    super.afterAll()
  }

  /** Files read by each scan of the executed plan, which must hold no
    * exchange.
    */
  private def scanFiles(q: DataFrame): Seq[Long] = {
    q.collect()
    val plan = q.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.isEmpty,
      s"exchange in a served plan:\n$plan")
    collect(plan) { case s: FileSourceScanExec => s.metrics("numFiles").value }
  }

  private def assertBounded(name: String, q: DataFrame, letters: Int): Unit = {
    val files = scanFiles(q)
    assert(files.nonEmpty && files.sum > 0, s"$name read no file")
    files.foreach(n => assert(n <= Indexer.filesPerLetter * letters,
      s"$name: one scan read $n files for $letters letter(s), bound " +
        s"${Indexer.filesPerLetter} per letter"))
  }

  private def partFiles(index: String, letter: String): Long =
    new java.io.File(s"$index/first_letter=$letter").listFiles()
      .count(_.getName.endsWith(".parquet")).toLong

  private def assertServedBounded(corpus: String, index: String): Unit = {
    // the metric counts the letter directory's files, nothing more
    assert(scanFiles(MaterializedIndex.termLookup(spark, corpus, "window")) ===
      Seq(partFiles(index, "w")))
    assertBounded("termLookup", MaterializedIndex.termLookup(spark, corpus, "window"), 1)
    assertBounded("lookupInIndex", Indexer.lookupInIndex(spark, index, "scan"), 1)
    assertBounded("prefixSearch", MaterializedIndex.prefixSearch(spark, corpus, "sc"), 1)
    assertBounded("multiTermAnd",
      MaterializedIndex.multiTermAnd(spark, corpus, Seq("scan", "join", "filter")), 3)
  }

  test("lookup, prefix and AND scans are bounded after writeIndex and after upsertIntoIndex") {
    val corpus = java.nio.file.Files.createTempDirectory("graft_served_scan").toString
    scratchDirs += corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.coalesce(1).write.parquet(s"$corpus/documents.parquet")
    val index = MaterializedIndex.ensure(spark, corpus)
    assertServedBounded(corpus, index)

    // rewrite 20 documents with other documents' text: the upsert rewrites
    // every letter their old or new terms touch
    val moved = docs.filter(col("doc_id") < 20)
      .select(col("doc_id"), col("doc_id").plus(20).as("src"))
      .join(docs.select(col("doc_id").as("src"), col("text")), "src")
      .select("doc_id", "text")
    Indexer.upsertIntoIndex(spark, index, moved)
    assertServedBounded(corpus, index)
  }

  test("each word's scan of a phrase is bounded, at any phrase length") {
    Seq("key order", "key order data").foreach { p =>
      val files = scanFiles(MaterializedIndex.servePhrase(spark, sf, p))
      assert(files.length === p.split(" ").length, p)
      files.foreach(n => assert(n > 0 && n <= Indexer.filesPerLetter,
        s"phrase '$p': one word's scan read $n files"))
    }
  }
}
