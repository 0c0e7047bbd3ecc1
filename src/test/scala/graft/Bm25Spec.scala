package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.{IndexQueries, MaterializedIndex}

/** [[IndexQueries.bm25TopK]] serves from document lengths memoized once
  * per index generation. It must answer exactly what the whole-index
  * formula answers — document lengths, avgdl, n_docs and the document
  * frequencies all aggregated over the full index on every call — and
  * each corpus in one JVM must get its own lengths.
  */
class Bm25Spec extends SparkTestBase with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  /** The whole-index formula: every statistic re-aggregated per query. */
  private def wholeIndexBm25(sfDir: String, terms: Seq[String], k: Int): DataFrame = {
    val post = MaterializedIndex.postings(spark, sfDir)
    val dl = post.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      count(lit(1)).as("n_docs"))
    val qpost = post.filter(col("term").isin(terms: _*))
    val dfreq = qpost.groupBy("term").agg(count(lit(1)).as("df"))
    qpost.join(dfreq, "term").crossJoin(stats)
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .join(dl, "doc_id")
      .withColumn("s",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def assertSame(sfDir: String, terms: Seq[String], k: Int): Seq[Row] = {
    val got = rows(IndexQueries.bm25TopK(spark, sfDir, terms, k))
    assert(got === rows(wholeIndexBm25(sfDir, terms, k)), s"terms $terms, k $k")
    got
  }

  // terms of sf by document frequency, most frequent first
  private lazy val byDf: Seq[(String, Long)] =
    MaterializedIndex.postings(spark, sf).groupBy("term").count()
      .orderBy(desc("count"), col("term")).as[(String, Long)].collect().toSeq

  test("head terms: equal to the whole-index formula") {
    val head = byDf.take(2).map(_._1)
    assert(assertSame(sf, head, 10).length === 10)
  }

  test("tail terms, and k larger than the number of matches") {
    val tail = byDf.takeRight(2)
    assert(tail.map(_._2).max < byDf.head._2)
    // at most sum(df) documents match, so this k is never filled
    val k = tail.map(_._2).sum.toInt + 5
    val got = assertSame(sf, tail.map(_._1), k)
    assert(got.nonEmpty && got.length < k)
  }

  test("an absent term scores nothing, alone or beside a present one") {
    assert(assertSame(sf, Seq("zzqxabsent"), 10).isEmpty)
    assert(assertSame(sf, Seq("zzqxabsent", "scan"), 10).nonEmpty)
  }

  test("terms from different letters, and a repeated term") {
    val got = assertSame(sf, Seq("scan", "join", "filter"), 10)
    assert(got.nonEmpty)
    assert(rows(IndexQueries.bm25TopK(spark, sf, Seq("scan", "join", "scan"), 10)) ===
      rows(IndexQueries.bm25TopK(spark, sf, Seq("scan", "join"), 10)))
  }

  private val scratchDirs = scala.collection.mutable.ListBuffer.empty[String]
  override def afterAll(): Unit = {
    scratchDirs.foreach(graft.util.Scratch.deleteRecursively)
    super.afterAll()
  }

  private def corpus(docs: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_bm25_corpus").toString
    scratchDirs += d
    docs.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  test("two corpora in one JVM each get their own document lengths") {
    // a: lengths 2 and 4; b: lengths 1, 1 and 3
    val a = corpus(Seq(1L -> "apple banana", 2L -> "apple apple cherry date"))
    val b = corpus(Seq(1L -> "apple", 2L -> "banana", 3L -> "apple banana cherry"))
    val (pathA, avgA, nA) = IndexQueries.docLengths(spark, a)
    val (pathB, avgB, nB) = IndexQueries.docLengths(spark, b)
    assert(pathA !== pathB)
    assert((avgA, nA) === (3.0, 2L))
    assert((avgB, nB) === (5.0 / 3, 3L))
    def lengths(p: String) = spark.read.parquet(p).as[(Long, Long)].collect().toSet
    assert(lengths(pathA) === Set(1L -> 2L, 2L -> 4L))
    assert(lengths(pathB) === Set(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // interleaved queries keep answering from their own corpus
    Seq(a, b, a, b).foreach { c =>
      assert(assertSame(c, Seq("apple", "cherry"), 10).nonEmpty)
    }
    // a later call is served from the same memo
    assert(IndexQueries.docLengths(spark, a) === ((pathA, avgA, nA)))
  }
}
