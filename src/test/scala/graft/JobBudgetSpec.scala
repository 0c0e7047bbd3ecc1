package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.operators.{IndexQueries, Indexer, MaterializedIndex}

/** Spark-job budgets for the served index queries and the upsert — the
  * fixed per-query cost that PlanBudgetSpec's exchange counts do not see:
  * a job that infers a schema or samples range boundaries moves no data,
  * yet on a small served query it costs as much as the scan. Counts are
  * WARM: one call first (index build, codegen, caches), then the jobs of
  * the second call, tagged by a thread-local property so no other
  * activity in the JVM is counted. Lower is welcome, exceeding fails.
  * The per-query ceilings are the counts before every served plan lost
  * its exchanges (the comment beside each gives the count before the
  * index reads declared their schema and served results were sorted in
  * one partition); the one-job test pins the current count, ONE job for
  * every served query: its pruned scan feeds one partition directly, so
  * its plan holds no exchange and no broadcast.
  */
class JobBudgetSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private val Tag = "graft.jobBudget.tag"

  private def warmJobs(run: => Any): Int = {
    run
    jobsOf(run)
  }

  // the Spark jobs `run` starts on this thread
  private def jobsOf(run: => Any): Int = {
    val sc = spark.sparkContext
    ListenerBridge.waitUntilEmpty(sc)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(Tag) == "on"))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, "on")
    try {
      run
      ListenerBridge.waitUntilEmpty(sc)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  private lazy val scratch =
    java.nio.file.Files.createTempDirectory("graft_jobbudget_").toString
  private lazy val indexPath = {
    val p = scratch + "/index"
    Indexer.writeIndex(spark, sf, p)
    p
  }
  override def afterAll(): Unit = {
    graft.util.Scratch.deleteRecursively(scratch)
    super.afterAll()
  }

  private val budgets: Seq[(String, Int, () => DataFrame)] = Seq(
    ("Indexer.lookupInIndex", 2, // was 4
      () => Indexer.lookupInIndex(spark, indexPath, "window")),
    ("MaterializedIndex.termLookup", 2, // was 4
      () => MaterializedIndex.termLookup(spark, sf, "window")),
    ("MaterializedIndex.multiTermAnd", 3, // was 6
      () => MaterializedIndex.multiTermAnd(spark, sf, Seq("scan", "join", "filter"))),
    ("MaterializedIndex.prefixSearch", 2, // was 3
      () => MaterializedIndex.prefixSearch(spark, sf, "sc")),
    ("MaterializedIndex.servePhrase", 3, // was 5
      () => MaterializedIndex.servePhrase(spark, sf, "key order")),
    ("IndexQueries.bm25TopK", 8, // was 9
      () => IndexQueries.bm25TopK(spark, sf, Seq("scan", "join"), 10)))

  budgets.foreach { case (name, budget, q) =>
    test(s"$name runs at most $budget warm Spark jobs") {
      val n = warmJobs(q().collect())
      assert(n <= budget, s"$name ran $n warm jobs, budget $budget")
    }
  }

  // the queries above plus a 3-word phrase and a 3-term BM25
  private val servedQueries: Seq[(String, () => DataFrame)] =
    budgets.map { case (name, _, q) => name -> q } ++ Seq(
      "MaterializedIndex.servePhrase, 3 words" ->
        (() => MaterializedIndex.servePhrase(spark, sf, "key order data")),
      "IndexQueries.bm25TopK, 3 terms" ->
        (() => IndexQueries.bm25TopK(spark, sf, Seq("scan", "join", "filter"), 10)))

  test("every served index query runs one warm Spark job") {
    val jobs = servedQueries.map { case (name, q) => name -> warmJobs(q().collect()) }
    assert(jobs.forall(_._2 <= 1),
      jobs.map { case (n, j) => s"$n: $j" }.mkString("warm jobs per query: ", ", ", ""))
  }

  // a cold curation pass over a corpus no artifact exists for: the
  // documents scan's schema, the packed shingle sets, the dup-group map,
  // the PPJoin candidates, the label build and the keeper joins
  test("Curate.curateCorpus on a fresh tiny corpus runs at most 27 Spark jobs") {
    val letters = "abcdefghijklmnopqrstuvwxyz"
    def words(f: Int) = (0 until 40).map(i => s"t${letters(f)}${letters(i % 26)}${letters(i / 26)}")
    val distinct = (0 until 20).map(f => (f.toLong, words(f).mkString(" ")))
    val exact = (0 until 4).map(f => (100L + f, words(f).mkString(" ")))
    val near = (0 until 6).map(f =>
      (200L + f, words(f).updated(5, s"n${letters(f)}").mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_jobbudget_curate").toString
    try {
      (distinct ++ exact ++ near).toDF("doc_id", "text").withColumn("lang", lit("en"))
        .write.parquet(s"$dir/documents.parquet")
      var kept = 0
      val n = jobsOf { kept = graft.operators.Curate.curateCorpus(spark, dir).collect().length }
      assert(kept === 20, "fixture drifted")
      assert(n <= 27, s"curateCorpus ran $n Spark jobs, budget 27")
    } finally graft.util.Scratch.deleteRecursively(dir)
  }

  // one rewrite of a document: the affected-letter collect, the
  // checkpointed merge (the letters it keeps ride that job) and the write
  test("Indexer.upsertIntoIndex runs at most 9 warm Spark jobs") {
    val p = scratch + "/upsert"
    Indexer.writeIndex(spark, sf, p)
    val doc = Seq(0L -> "zebra quill zebra window").toDF("doc_id", "text")
    val n = warmJobs(Indexer.upsertIntoIndex(spark, p, doc))
    assert(n <= 9, s"upsertIntoIndex ran $n warm jobs, budget 9")
  }
}
