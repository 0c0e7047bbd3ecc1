package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Build-once / query-many serving of the letter-partitioned inverted
  * index — the reference's actual operating mode: `./index/<c>` is written
  * once and every search opens exactly one letter file
  * (`/root/reference/helper_reduce.c:238-257`). Re-tokenizing the corpus
  * per query (what [[Indexer.termLookup]] does) answers the same question
  * but is a full scan; a search engine serves from the prebuilt index.
  *
  * [[ensure]] materializes the index at a deterministic temp path exactly
  * once per JVM per corpus dir; the serve queries below then run against
  * that path with Catalyst partition pruning standing in for "open one of
  * the 26 files". At cluster scale the path would be shared storage and the
  * build a scheduled job; the query plans are identical. The term index,
  * its [[refresh]] and the positional index ([[ensurePositional]]) are
  * generations of the one lifecycle every incrementally refreshed
  * artifact shares, [[graft.util.Generations]]: one record per index of
  * its path, build-time corpus listing, number and delta files.
  *
  * Spark jobs per served query, warm (pinned in JobBudgetSpec): ONE for
  * each of [[termLookup]], [[multiTermAnd]], [[prefixSearch]] and
  * [[servePhrase]] (any phrase length), and for
  * [[IndexQueries.bm25TopK]]. No served plan holds an exchange. Each
  * result is collected whole and its scan is already pruned to the query
  * letters, so the pruned scan feeds one partition directly (a coalesce),
  * and that one partition satisfies every aggregate, window and join
  * above it. A parallel scan followed by a one-partition exchange would
  * add a map-stage job and save no work. A phrase is one aggregate over
  * its words' unioned posting lists, not a chain of joins (see
  * [[servePhrase]]).
  *
  * The scale trade: each served scan is one task over at most
  * [[Indexer.filesPerLetter]] files per query letter, with row-group
  * skips on the sorted `term` column (bounded in ServedScanSpec). Its
  * cost grows with the query letters' files, not with the corpus.
  * No read infers its schema (one job each): every index path is read
  * through [[Indexer.readIndex]] with its layout's declared schema.
  */
object MaterializedIndex {

  private def indexName(sfDir: String) =
    "graft_index_" + graft.util.Scratch.valueToken(sfDir)

  private def docsSig(spark: SparkSession, sfDir: String) =
    graft.sources.Tables.listingSig(graft.sources.Tables.documents(spark, sfDir))

  /** The current generation of the materialized index for `sfDir`,
    * building generation 0 on first use in this JVM (later calls are
    * free — build-once/query-many). Its signature is the corpus listing
    * THE BUILD READ, so the rewrite registration guards staleness against
    * the build-time state, not whatever the corpus looks like when
    * registration happens.
    */
  private[graft] def generation(spark: SparkSession,
                                sfDir: String): graft.util.Generations.Gen =
    graft.util.Generations.once(spark, indexName(sfDir), docsSig(spark, sfDir))(
      Indexer.writeIndex(spark, sfDir, _))

  /** Path of the current materialized index for `sfDir` (see [[generation]]). */
  def ensure(spark: SparkSession, sfDir: String): String =
    generation(spark, sfDir).path

  /** INCREMENTAL INDEX REFRESH through [[graft.util.Generations.refresh]]:
    * when the corpus has only GROWN since the current generation,
    * tokenize ONLY the delta files and sum their (term, doc_id, tf) cells
    * into the stored postings in a fresh generation — counts sum, so the
    * merged index is value-identical to a full rebuild. The reference's
    * append-mode letter files (`helper_reduce.c:255-256`) were always
    * incremental; this recovers that without its duplicate-postings bug
    * (SURVEY.md §7.0): duplicates MERGE (sum) instead of appending twice.
    * A removed or rewritten corpus file rebuilds. At 100 TB this is the
    * difference between re-tokenizing the corpus nightly and tokenizing
    * the day's new documents.
    */
  def refresh(spark: SparkSession, sfDir: String): graft.util.Generations.Gen =
    graft.util.Generations.refresh(spark, indexName(sfDir),
      docsSig(spark, sfDir))(Indexer.writeIndex(spark, sfDir, _)) {
      (cur, files, next) =>
        Indexer.writeLetters(
          Indexer.readIndex(spark, cur.path).select("term", "doc_id", "tf")
            .unionByName(Indexer.postingsOf(spark.read.parquet(files: _*)))
            .groupBy("term", "doc_id")
            .agg(sum("tf").as("tf")),
          next)
        next
    }

  /** The postings relation served from the materialized index — the
    * build-once/query-many source for every operator that consumes
    * postings from MULTIPLE plan branches (tf-idf, doc similarity, set
    * algebra): column pruning specializes per-branch subtrees so exchange
    * reuse cannot unify them, and from the raw corpus each branch would
    * re-tokenize everything; from the index each branch is a cheap
    * columnar scan of already-aggregated rows.
    */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    Indexer.readIndex(spark, ensure(spark, sfDir))
      .select(col("term"), col("doc_id"), col("tf"))

  /** Term lookup served from the materialized index: prunes to ONE letter
    * partition (asserted in IndexerSpec), reads postings already aggregated
    * — no corpus scan, no shuffle beyond the one-partition result.
    */
  def termLookup(spark: SparkSession, sfDir: String, term: String): DataFrame =
    Indexer.lookupInIndex(spark, ensure(spark, sfDir), term)

  /** Multi-term AND served from the materialized index: scans only the
    * letter partitions of the query terms, then one small aggregation over
    * the matching postings — work proportional to the terms' posting lists,
    * not the corpus.
    */
  def multiTermAnd(spark: SparkSession, sfDir: String,
                   terms: Seq[String]): DataFrame = {
    // a repeated term is one condition, not two
    val ts = terms.distinct
    val letters = ts.map(_.take(1)).distinct
    Indexer.readIndex(spark, ensure(spark, sfDir))
      .filter(col("first_letter").isin(letters: _*) &&
        col("term").isin(ts: _*))
      .coalesce(1)
      // postings are unique per (term, doc_id) and the terms are distinct,
      // so a plain count per document is the number of query terms it holds
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === ts.length)
      .select("doc_id", "total_tf")
      .sortWithinPartitions(desc("total_tf"), col("doc_id"))
  }

  /** Prefix (typeahead) lookup SERVED from the letter-partitioned index —
    * the query class the reference's per-letter layout
    * (`helper_reduce.c:238-257`) exists for: a prefix fixes the first
    * letter, so the scan prunes to ONE partition, and the StartsWith
    * predicate pushes into the parquet scan where the
    * sortWithinPartitions(term) layout turns it into row-group skips.
    * Output: per matching term, document frequency and total tf — work
    * proportional to the prefix's postings, never the index.
    */
  def prefixSearch(spark: SparkSession, sfDir: String,
                   prefix: String): DataFrame =
    Indexer.readIndex(spark, ensure(spark, sfDir))
      .filter(col("first_letter") === prefix.take(1) &&
        col("term").startsWith(prefix))
      .coalesce(1)
      // postings are unique per (term, doc_id) by construction, so the
      // document frequency is a plain count
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .sortWithinPartitions("term")

  /** The positional index layout [[ensurePositional]] writes: the term
    * index's columns plus the sorted in-document `positions`, then the
    * `first_letter` partition column (see [[Indexer.termIndexSchema]]).
    */
  val positionalIndexSchema: StructType = new StructType()
    .add("term", StringType).add("doc_id", LongType).add("tf", LongType)
    .add("positions", ArrayType(IntegerType)).add("first_letter", StringType)

  /** POSITIONAL index: postings extended with the sorted in-document
    * position list per (term, doc) — what the tf-only layout (the
    * reference's and [[ensure]]'s) cannot answer: phrase queries served
    * from the index. Same letter partitioning, same build-once
    * lifecycle; the positions column adds ~tf ints per posting, the
    * standard space/serve trade every search engine makes.
    */
  def ensurePositional(spark: SparkSession, sfDir: String): String =
    graft.util.Generations.once(spark,
      "graft_posindex_" + graft.util.Scratch.valueToken(sfDir),
      docsSig(spark, sfDir)) { path =>
      Indexer.writeLetters(
        graft.sources.Tables.documents(spark, sfDir)
          .select(col("doc_id"),
            posexplode(graft.functions.TextFunctions.tokens(col("text"))))
          .toDF("doc_id", "pos", "term")
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions")),
        path)
    }.path

  /** Phrase search SERVED from the positional index: prune to the
    * phrase's letters, read each word's posting list (one pruned partition
    * read each) with its positions shifted back by the word's offset, and
    * intersect a document's shifted position sets — a phrase occurrence is
    * a start position p with p+i ∈ positions(wordᵢ) for every i. Work is
    * proportional to the phrase words' posting lists, never the corpus;
    * equality with the corpus-scan [[IndexQueries.phraseSearch]] is
    * oracle-checked.
    *
    * The posting lists are unioned into one partition and grouped by
    * document, so a phrase of any length is one aggregate and ONE job. A
    * fold of pairwise joins is not: Spark re-shuffles both sides of a join
    * of single partitions once either side's size estimate exceeds
    * `spark.sql.maxSinglePartitionBytes`, and a join's estimate is the
    * product of its inputs', so from the third word on every join paid
    * two exchanges.
    */
  def servePhrase(spark: SparkSession, sfDir: String,
                  phrase: String): DataFrame = {
    val words = phrase.split(" ").toSeq
    val idx = Indexer.readIndex(spark, ensurePositional(spark, sfDir),
      positionalIndexSchema)
    val shifted = words.zipWithIndex.map { case (w, i) =>
      idx.filter(col("first_letter") === w.take(1) && col("term") === w)
        .select(col("doc_id"),
          (if (i == 0) col("positions")
           else transform(col("positions"), p => p - i)).as("p"))
    }.reduce(_ union _)
    // postings are unique per (term, doc_id), so a document holds the
    // whole phrase's words iff it has one row per word
    shifted.coalesce(1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), collect_list(col("p")).as("ps"))
      .filter(col("n_words") === words.length)
      .select(col("doc_id"),
        size(aggregate(col("ps"), col("ps")(0),
          (acc, p) => array_intersect(acc, p))).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .sortWithinPartitions(desc("n_occurrences"), col("doc_id"))
  }
}
