package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.IndexRewrite
import graft.plans.AggRewriteRule
import graft.sources.Tables

/** The index-aware rewrite must serve raw tokenize-and-count queries
  * from the postings parquet (never reading the text column), be
  * invisible (same answers as the un-rewritten plan), and veto on any
  * shape it cannot prove: a different tokenizer, or a per-row aggregate
  * with no explode at all.
  */
class IndexRewriteSpec extends SparkTestBase {

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten

  private def withoutRule[T](body: => T): T = {
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(_ == AggRewriteRule)
    try body finally exp.extraOptimizations = saved
  }

  private lazy val indexPath: String = IndexRewrite.ensure(spark, sf)

  test("tokenize-and-count serves from the postings index, identically") {
    val df = IndexRewrite.topTermsServe(spark, sf)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(indexPath)), s"no index scan in $paths")
    assert(!paths.exists(_.contains("documents.parquet")),
      s"corpus scan survived the rewrite: $paths")
    val got = df.collect().toSeq
    val expected = withoutRule(
      IndexRewrite.topTermsServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("a term filter + per-doc grouping serves from the index") {
    val df = IndexRewrite.termDocServe(spark, sf, "the")
    assert(scanPaths(df).exists(_.contains(indexPath)))
    val expected = withoutRule(
      IndexRewrite.termDocServe(spark, sf, "the").collect().toSeq)
    assert(df.collect().toSeq === expected)
    assert(expected.nonEmpty)
  }

  test("the rewritten term filter gains letter partition pruning") {
    val df = IndexRewrite.termDocServe(spark, sf, "the")
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pf = scans.map(_.partitionFilters.mkString(" && ")).mkString("; ")
    assert(pf.contains("first_letter"),
      s"no letter partition filter on the rewritten scan: $pf")
  }

  test("a documents aggregate with no explode never matches the index") {
    indexPath
    val df = Tables.documents(spark, sf)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    assert(scanPaths(df).exists(_.contains("documents.parquet")))
  }

  test("a different tokenizer vetoes the rewrite") {
    indexPath
    val df = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    assert(scanPaths(df).exists(_.contains("documents.parquet")),
      "a foreign tokenizer must not be served from the index")
  }

  private def topTerms(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(spark, dir)
      .select(graft.functions.TextFunctions.explodedTokens(col("text")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(50)

  test("a corpus mutated between BUILD and registration vetoes (build-time sig)") {
    // stage a private corpus, build the index WITHOUT registering, then
    // append before registration: the registration must carry the
    // BUILD-TIME sidecar signature, so the rewrite vetoes and the query
    // falls back to (and answers from) the mutated base
    val root = java.nio.file.Files.createTempDirectory("graft_idx_stale_")
    val dir = root.toString
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    raw.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val idx = graft.operators.MaterializedIndex.ensure(spark, dir) // build only
    raw.orderBy("doc_id").limit(100).coalesce(1)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    IndexRewrite.ensure(spark, dir) // register AFTER the mutation
    val df = topTerms(spark, dir)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(s"$dir/documents.parquet")),
      s"stale index served a mutated corpus: $paths")
    assert(!paths.exists(_.contains(idx)), s"index scan survived: $paths")
    val expected = withoutRule(topTerms(spark, dir).collect().toSeq)
    assert(df.collect().toSeq === expected)
    graft.util.Scratch.deleteRecursively(root)
  }

  test("an overwritten corpus file falls back to a full index rebuild") {
    // OVERWRITE (not append): stored (term, doc) cells may describe
    // vanished rows, so the refresh must NOT treat the new listing as a
    // delta — full rebuild into the next generation, which then serves
    val root = java.nio.file.Files.createTempDirectory("graft_idx_rebuild_")
    val dir = root.toString
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    raw.coalesce(1).write.parquet(s"$dir/documents.parquet")
    IndexRewrite.ensure(spark, dir)
    raw.orderBy("doc_id").limit(200).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val g = IndexRewrite.ensureRefreshed(spark, dir)
    assert(g.n === 1 && g.delta.isEmpty,
      s"an overwrite must not be treated as a delta: $g")
    val df = topTerms(spark, dir)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("_g1")),
      s"not served from the rebuilt generation: $paths")
    assert(!paths.exists(_.contains("documents.parquet")))
    val expected = withoutRule(topTerms(spark, dir).collect().toSeq)
    assert(df.collect().toSeq === expected)
    graft.util.Scratch.deleteRecursively(root)
  }

  test("incremental index refresh tokenizes the delta only and serves from g1") {
    // self-contained staging (NOT refreshedServe's memoized one), so the
    // generation read below is the one OUR OWN refresh made
    val root = java.nio.file.Files.createTempDirectory("graft_idx_incr_")
    val dir = root.toString
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    raw.coalesce(1).write.parquet(s"$dir/documents.parquet")
    IndexRewrite.ensure(spark, dir)
    raw.orderBy("doc_id").limit(300).coalesce(1)
      .write.mode("append").parquet(s"$dir/documents.parquet")
    val g = IndexRewrite.ensureRefreshed(spark, dir)
    // the refresh must have aggregated exactly the ONE appended file
    assert(g.delta.size === 1, s"delta read ${g.delta}")
    // an unchanged corpus is current: the same generation and path
    assert(IndexRewrite.ensureRefreshed(spark, dir) === g)
    val df = topTerms(spark, dir)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("_g1")), s"no refreshed index scan in $paths")
    assert(!paths.exists(_.contains("documents.parquet")),
      s"corpus scan survived the rewrite: $paths")
    // refreshed postings ≡ a from-scratch tokenize of the mutated corpus
    val got = df.collect().toSeq
    val expected = withoutRule(topTerms(spark, dir).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
    graft.util.Scratch.deleteRecursively(root)
  }

  test("the q_index_refresh round trip follows a source corpus changed in the JVM") {
    // serve, append to the SOURCE, serve again: the second serve must
    // stage the changed source, not reuse the first copy
    val root = java.nio.file.Files.createTempDirectory("graft_idx_src_")
    val src = root.resolve("src").toString
    val exp = root.resolve("exp").toString
    try {
      val raw = spark.read.parquet(s"$sf/documents.parquet").orderBy("doc_id").limit(120)
      raw.coalesce(1).write.parquet(s"$src/documents.parquet")
      IndexRewrite.refreshedServe(spark, src).collect()
      raw.limit(40).withColumn("doc_id", col("doc_id") + 100000).coalesce(1)
        .write.mode("append").parquet(s"$src/documents.parquet")
      val got = IndexRewrite.refreshedServe(spark, src).collect().toSeq
      // the same query, rule off, over the changed source plus the batch
      val changed = spark.read.parquet(s"$src/documents.parquet")
      changed.coalesce(1).write.parquet(s"$exp/documents.parquet")
      changed.orderBy("doc_id").limit(300).coalesce(1)
        .write.mode("append").parquet(s"$exp/documents.parquet")
      assert(got === withoutRule(topTerms(spark, exp).collect().toSeq))
    } finally graft.util.Scratch.deleteRecursively(root)
  }

  test("the q_index_refresh lifecycle query serves the refreshed state") {
    val df = IndexRewrite.refreshedServe(spark, sf)
    val got = df.collect().toSeq
    val expected = withoutRule(
      IndexRewrite.refreshedServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }
}
