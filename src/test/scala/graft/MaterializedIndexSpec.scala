package graft

import graft.operators.{Indexer, MaterializedIndex}

class MaterializedIndexSpec extends SparkTestBase {
  import spark.implicits._

  test("served term lookup == corpus-scan term lookup") {
    val served = MaterializedIndex.termLookup(spark, sf, "window")
      .as[(String, Long, Long)].collect().toSeq
    val scanned = Indexer.termLookup(spark, sf, "window")
      .as[(String, Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    assert(served === scanned)
  }

  test("served multi-term AND == corpus-scan multi-term AND") {
    val terms = Seq("scan", "join", "filter")
    val served = MaterializedIndex.multiTermAnd(spark, sf, terms)
      .as[(Long, Long)].collect().toSeq
    val scanned = Indexer.multiTermAnd(spark, sf, terms)
      .as[(Long, Long)].collect().toSeq
    assert(served === scanned)
  }

  test("multi-term AND with a repeated term == without it, served and scanned") {
    val once = Seq("scan", "join")
    val twice = Seq("scan", "scan", "join")
    val served = MaterializedIndex.multiTermAnd(spark, sf, once)
      .as[(Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    assert(MaterializedIndex.multiTermAnd(spark, sf, twice)
      .as[(Long, Long)].collect().toSeq === served)
    val scanned = Indexer.multiTermAnd(spark, sf, once)
      .as[(Long, Long)].collect().toSeq
    assert(scanned === served)
    assert(Indexer.multiTermAnd(spark, sf, twice)
      .as[(Long, Long)].collect().toSeq === scanned)
  }

  test("prefix search: one pruned letter partition, pushed StartsWith, exact") {
    import org.apache.spark.sql.functions._
    val q = MaterializedIndex.prefixSearch(spark, sf, "sc")
    val got = q.as[(String, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._1.startsWith("sc")))
    // ground truth from an independent corpus scan
    val truth = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .filter(col("term").startsWith("sc"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
      .orderBy("term")
      .as[(String, Long, Long)].collect().toSeq
    assert(got === truth)
    // the serve plan prunes to the ONE letter partition and pushes the
    // prefix predicate into the scan (string probe: AQE wraps the scan)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("first_letter"),
      s"letter partition filter missing:\n$plan")
    assert(plan.contains("StringStartsWith"),
      s"StartsWith not pushed:\n$plan")
  }

  test("served phrase search == corpus-scan bigram search; n-word phrases exact") {
    import org.apache.spark.sql.functions._
    val served = MaterializedIndex.servePhrase(spark, sf, "key order")
      .as[(Long, Long)].collect().toSeq
    val scanned = graft.operators.IndexQueries.phraseSearch(spark, sf, "key order")
      .as[(Long, Long)].collect().toSeq
    assert(served.nonEmpty)
    assert(served === scanned)

    // 3-word phrase: ground truth from an independent trigram scan
    val phrase3 = "key order data"
    val truth = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.shinglesOfTokens(col("ts"), 3)).as("g"))
      .filter(col("g") === phrase3)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val got = MaterializedIndex.servePhrase(spark, sf, phrase3)
      .as[(Long, Long)].collect().toMap
    assert(got === truth)
  }

  test("ensure builds once per JVM (second call returns the same path, no rebuild)") {
    val p1 = MaterializedIndex.ensure(spark, sf)
    val mtimes1 = new java.io.File(p1).listFiles().map(_.lastModified()).toSeq
    val p2 = MaterializedIndex.ensure(spark, sf)
    val mtimes2 = new java.io.File(p2).listFiles().map(_.lastModified()).toSeq
    assert(p1 === p2)
    assert(mtimes1 === mtimes2)
  }
}
