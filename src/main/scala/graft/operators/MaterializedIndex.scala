package graft.operators

import java.io.File

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
  * build a scheduled job; the query plans are identical.
  *
  * Spark jobs per served query, warm (pinned in JobBudgetSpec):
  *  - [[termLookup]]: 2 — the map stage of the single-partition result
  *    exchange (the pruned letter scan, parallel over its files) and the
  *    result stage that sorts the posting list in that partition.
  *  - [[prefixSearch]]: 2 — the map stage of the aggregate's exchange and
  *    the result stage, which runs the final aggregate coalesced to one
  *    partition and sorts there.
  *  - [[multiTermAnd]]: 3 — as prefixSearch, but its distinct count plans
  *    two aggregate exchanges, so two map stages.
  *  - [[servePhrase]]: 3 for two words at test scale — the broadcast of
  *    one posting list for the join, the map stage of the one-partition
  *    result exchange, and the result stage.
  * No read infers its schema (one job each): every index path is read
  * through [[Indexer.readIndex]] with its layout's declared schema. No
  * served result is ordered by a global sort (a sampling job plus a range
  * exchange): it is collected whole, so it is sorted inside one partition.
  */
object MaterializedIndex {

  private val built = scala.collection.concurrent.TrieMap[String, String]()

  /** Path of the materialized index for `sfDir`, building it on first use
    * in this JVM (subsequent calls are free — build-once/query-many).
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    // keyed on the resolved scratch path so spark.graft.scratchDir (shared
    // storage on a real cluster — see [[graft.util.Scratch.root]]) is
    // honored even when it changes within one JVM
    val path = graft.util.Scratch.dir(spark,
      "graft_index_" + graft.util.Scratch.valueToken(sfDir))
    built.getOrElseUpdate(path, {
      // capture the corpus listing THE BUILD READS — before the build, off
      // the same relation — and persist it beside the index: the rewrite
      // registration must guard staleness against the build-time state,
      // not whatever the corpus looks like when registration happens
      val sig = corpusSig(spark, sfDir)
      Indexer.writeIndex(spark, sfDir, path)
      writeBaseSig(path, sig)
      path
    })
  }

  /** The documents base file-listing signature, as
    * [[graft.plans.AggRewriteRule.fileSig]] computes it at match time.
    */
  private def corpusSig(spark: SparkSession, sfDir: String): String =
    graft.sources.Tables.documents(spark, sfDir).queryExecution.analyzed
      .collectFirst {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          graft.plans.AggRewriteRule.fileSig(lr)
      }.flatten.getOrElse(
        throw new IllegalStateException("documents base has no file listing"))

  // underscore-prefixed sidecar: parquet readers skip _-files, so it can
  // live inside the index directory and share the index's lifecycle
  private def sigFile(indexPath: String) =
    new File(new File(indexPath), "_base_sig")

  private def writeBaseSig(indexPath: String, sig: String): Unit = {
    java.nio.file.Files.write(sigFile(indexPath).toPath,
      sig.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** The base signature persisted at index build/refresh time — what
    * [[IndexRewrite.register]] must guard staleness against.
    */
  private[graft] def baseSigAt(indexPath: String): Option[String] = {
    val f = sigFile(indexPath)
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8))
  }

  private final case class IdxGen(dataPath: String, sig: String, gen: Int)
  private val gens = scala.collection.concurrent.TrieMap[String, IdxGen]()

  /** Spec observability: the corpus files the last refresh aggregated. */
  private[graft] val lastDeltaFiles =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** INCREMENTAL INDEX REFRESH — the postings twin of
    * [[RollupView.refresh]]: when the corpus has only GROWN since the
    * stored generation (pure appends — new files, no file removed or
    * rewritten), tokenize ONLY the delta files and merge their (term,
    * doc_id, tf) cells into the stored index — counts sum, so the merged
    * index is value-identical to a full rebuild — then persist the new
    * listing signature beside the new generation. The reference's
    * append-mode letter files (`helper_reduce.c:255-256`) were always
    * incremental; this recovers that without its duplicate-postings bug
    * (SURVEY.md §7.0): duplicates MERGE (sum) instead of appending twice.
    * A removed or rewritten corpus file invalidates stored cells, so that
    * case falls back to a full rebuild — only growth is incremental,
    * honestly. At 100 TB this is the difference between re-tokenizing the
    * corpus nightly and tokenizing the day's new documents.
    */
  def refresh(spark: SparkSession, sfDir: String): String = {
    import graft.functions.TextFunctions.{explodedTokens, firstLetter}
    import org.apache.spark.sql.functions._
    val base = ensure(spark, sfDir)
    val cur = gens.getOrElseUpdate(base,
      IdxGen(base, baseSigAt(base).getOrElse(
        throw new IllegalStateException(s"index at $base has no signature")), 0))
    val curSig = corpusSig(spark, sfDir)
    if (curSig == cur.sig) return cur.dataPath // already current
    val nextPath = s"${base}_g${cur.gen + 1}"
    graft.util.ListingDiff.deltaFiles(cur.sig, curSig) match {
      case None => // overwrite/compaction: full rebuild
        lastDeltaFiles.set(Nil)
        Indexer.writeIndex(spark, sfDir, nextPath)
      case Some(files) =>
        lastDeltaFiles.set(files)
        val delta = spark.read.parquet(files: _*)
          .select(col("doc_id"), explodedTokens(col("text")).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("first_letter", firstLetter(col("term")))
          .select("first_letter", "term", "doc_id", "tf")
        Indexer.readIndex(spark, cur.dataPath)
          .select("first_letter", "term", "doc_id", "tf")
          .unionByName(delta)
          .groupBy("first_letter", "term", "doc_id")
          .agg(sum("tf").as("tf"))
          .repartition(Indexer.letterShardKeys: _*)
          .sortWithinPartitions("term", "doc_id")
          .write.mode("overwrite").partitionBy("first_letter").parquet(nextPath)
    }
    writeBaseSig(nextPath, curSig)
    gens.put(base, IdxGen(nextPath, curSig, cur.gen + 1))
    nextPath
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
    val letters = terms.map(_.take(1)).distinct
    Indexer.readIndex(spark, ensure(spark, sfDir))
      .filter(col("first_letter").isin(letters: _*) &&
        col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === terms.length)
      .select("doc_id", "total_tf")
      .coalesce(1)
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
      // postings are unique per (term, doc_id) by construction, so the
      // document frequency is a plain count
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
      .coalesce(1)
      .sortWithinPartitions("term")

  private val posBuilt = scala.collection.concurrent.TrieMap[String, String]()

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
  def ensurePositional(spark: SparkSession, sfDir: String): String = {
    val path = graft.util.Scratch.dir(spark,
      "graft_posindex_" + graft.util.Scratch.valueToken(sfDir))
    posBuilt.getOrElseUpdate(path, {
      graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "term")
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"),
          sort_array(collect_list(col("pos"))).as("positions"))
        .withColumn("first_letter",
          graft.functions.TextFunctions.firstLetter(col("term")))
        .repartition(Indexer.letterShardKeys: _*)
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").partitionBy("first_letter").parquet(path)
      path
    })
  }

  /** Phrase search SERVED from the positional index: prune to the
    * phrase's letters, join the n posting lists on doc_id (each list is
    * one pruned partition read), and intersect position sets shifted by
    * word offset — a phrase occurrence is a start position p with
    * p+i ∈ positions(wordᵢ) for every i. Work is proportional to the
    * phrase words' posting lists, never the corpus; equality with the
    * corpus-scan [[IndexQueries.phraseSearch]] is oracle-checked.
    */
  def servePhrase(spark: SparkSession, sfDir: String,
                  phrase: String): DataFrame = {
    val words = phrase.split(" ").toSeq
    val idx = Indexer.readIndex(spark, ensurePositional(spark, sfDir),
      positionalIndexSchema)
    def rel(w: String, i: Int) = idx
      .filter(col("first_letter") === w.take(1) && col("term") === w)
      .select(col("doc_id"),
        (if (i == 0) col("positions")
         else transform(col("positions"), p => p - i)).as(s"p$i"))
    val joined = words.zipWithIndex.tail.foldLeft(rel(words.head, 0)) {
      case (acc, (w, i)) =>
        acc.join(rel(w, i), "doc_id")
          .select(col("doc_id"),
            array_intersect(col("p0"), col(s"p$i")).as("p0"))
    }
    joined
      .select(col("doc_id"), size(col("p0")).cast("long").as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
      .repartition(1)
      .sortWithinPartitions(desc("n_occurrences"), col("doc_id"))
  }
}
