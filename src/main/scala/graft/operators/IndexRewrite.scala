package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.explodedTokens
import graft.plans.AggRewriteRule
import graft.sources.Tables
import graft.util.Generations

/** INDEX-AWARE QUERY REWRITE — the inverted index registered as a
  * materialized view of the raw corpus: a token-level aggregate written
  * against `documents` (explode the same tokenizer, group by term and/or
  * doc, count) is served from the letter-partitioned postings parquet by
  * [[graft.plans.AggRewriteRule]]'s Generate-aware matcher. The user
  * writes "tokenize the corpus and count"; the optimizer answers from
  * already-aggregated postings — at 100 TB that is the difference
  * between re-tokenizing every byte of text and scanning a columnar
  * relation the size of the vocabulary×docs grid, which is WHY search
  * engines keep an index in the first place. Soundness is inherited:
  * same conservative matcher, same staleness guard (a mutated corpus
  * vetoes), plus generator equality — a query exploding a DIFFERENT
  * tokenizer never matches.
  *
  * The registered view definition IS [[Indexer.postings]] (term, doc_id,
  * tf = occurrences), exactly what [[MaterializedIndex.ensure]] wrote;
  * count-per-token-occurrence maps to Sum(tf).
  */
object IndexRewrite {

  private val registered = scala.collection.concurrent.TrieMap[String, Boolean]()

  /** Register (idempotently per JVM per index path) and return the index
    * path. The base signature is the one the BUILD took, carried in the
    * index's generation record ([[MaterializedIndex.generation]]) — a
    * corpus mutated between build and registration therefore vetoes
    * (asserted in IndexRewriteSpec), exactly like [[RollupView.ensure]].
    */
  def ensure(spark: SparkSession, sfDir: String): String =
    registerOnce(spark, sfDir, MaterializedIndex.generation(spark, sfDir)).path

  /** Refresh the index incrementally ([[MaterializedIndex.refresh]] —
    * delta files only when the corpus merely grew) and re-register: the
    * new generation REPLACES the old one in the registry (same
    * `doc_postings` family), so the staleness veto lifts and queries
    * serve from the refreshed postings.
    */
  def ensureRefreshed(spark: SparkSession, sfDir: String): Generations.Gen =
    registerOnce(spark, sfDir, MaterializedIndex.refresh(spark, sfDir))

  private def registerOnce(spark: SparkSession, sfDir: String,
                           g: Generations.Gen): Generations.Gen = {
    registered.getOrElseUpdate(g.path, { register(spark, sfDir, g); true })
    g
  }

  private def register(spark: SparkSession, sfDir: String,
                       g: Generations.Gen): Unit = {
    val analyzed = Indexer.postings(spark, sfDir).queryExecution.analyzed
    val agg = analyzed.collectFirst { case ag: Aggregate => ag }.get
    val d = AggRewriteRule.destructure(agg).getOrElse(
      throw new IllegalStateException("postings definition did not destructure"))
    val baseKey = AggRewriteRule.rootKey(d.rel).getOrElse(
      throw new IllegalStateException("documents base is not a file source"))
    val (genExpr, genIds) = d.gen.getOrElse(
      throw new IllegalStateException("postings definition has no Generate"))
    val docKey = d.g.collectFirst {
      case ar: AttributeReference if !genIds.contains(ar.exprId) => ar
    }.getOrElse(throw new IllegalStateException("no doc_id grouping key"))
    val cnt = d.a.flatMap(_.collect {
      case ae: AggregateExpression => ae.aggregateFunction
    }).head
    val mvPlan = Indexer.readIndex(spark, g.path).queryExecution.analyzed
    AggRewriteRule.register(spark, baseKey, AggRewriteRule.MvSpec(
      mvPlan = mvPlan,
      keys = Seq(("doc_id", docKey, (a: Attribute) => a)),
      aggs = Seq((cnt, "tf", (a: Attribute) => Sum(a))),
      baseSig = g.sig,
      gen = Some((genExpr, "term")),
      family = "doc_postings"))
    // compose with layout-aware pruning: the rewrite leaves its Filter
    // directly over the full view scan (first_letter included), so the
    // letter rule can conjoin the implied partition predicate and a
    // rewritten term lookup opens only its letter directories — the
    // reference's ./index/<c> seek (/root/reference/helper_reduce.c:238-257
    // opens exactly one letter file per query), recovered through TWO
    // optimizer rewrites (extraOptimizations is a fixed-point batch)
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(graft.plans.LetterPruningRule))
      exp.extraOptimizations =
        exp.extraOptimizations :+ graft.plans.LetterPruningRule
  }

  /** q_index_rewrite: the top-50 terms by corpus occurrences, WRITTEN AS
    * a raw tokenize-and-count over `documents` — the optimizer serves it
    * from the postings index (Sum(tf) per term; the text column is never
    * read). The oracle tokenizes the base, so the hash match proves the
    * rewrite exact.
    */
  def topTermsServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(explodedTokens(col("text")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(50)
  }

  /** q_index_refresh: the index-maintenance lifecycle under one
    * driver-checked oracle — stage a private copy of the corpus, build the
    * postings index, APPEND a deterministic batch (the 300 lowest doc_ids
    * re-inserted), INCREMENTALLY refresh (tokenizes the delta file only —
    * asserted in spec) and register, and serve a tokenize-and-count
    * written against the base from the refreshed generation. The oracle
    * recomputes over base ∪ the same batch, so the hash match proves
    * append-detection, delta tokenization, AND the exact (term, doc)
    * count merge in one row — the postings twin of q_mv_refresh.
    */
  def refreshedServe(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Generations.staged(spark, "graft_idx_refresh_base_", sfDir,
      "documents")(MaterializedIndex.ensure(spark, _))(
      _.orderBy("doc_id").limit(300))
    ensureRefreshed(spark, dir)
    Tables.documents(spark, dir)
      .select(explodedTokens(col("text")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(50)
  }

  /** q_index_rewrite_doc: per-document occurrences of one term, written
    * as raw tokenize + filter + per-doc count — serves from the index
    * with the term filter riding the view's term column (and from there
    * the letter partitioning).
    */
  def termDocServe(spark: SparkSession, sfDir: String, term: String): DataFrame = {
    ensure(spark, sfDir)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explodedTokens(col("text")).as("term"))
      .where(col("term") === term)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("doc_id"))
  }
}
