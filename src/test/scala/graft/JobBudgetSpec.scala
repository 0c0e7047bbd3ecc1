package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.{IndexQueries, Indexer, MaterializedIndex}

/** Spark-job budgets for the served index queries — the fixed per-query
  * cost that PlanBudgetSpec's exchange counts do not see: a job that
  * infers a schema or samples range boundaries moves no data, yet on a
  * small served query it costs as much as the scan. Counts are WARM: one
  * call first (index build, codegen, caches), then the jobs of the second
  * call, tagged by a thread-local property so no other activity in the
  * JVM is counted. Budgets are the current counts; lower is welcome,
  * exceeding fails. The comment beside each gives the count before the
  * index reads declared their schema and served results were sorted in
  * one partition.
  */
class JobBudgetSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {

  private val Tag = "graft.jobBudget.tag"

  private def warmJobs(q: => DataFrame): Int = {
    val sc = spark.sparkContext
    q.collect()
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
      q.collect()
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
      val n = warmJobs(q())
      assert(n <= budget, s"$name ran $n warm jobs, budget $budget")
    }
  }
}
