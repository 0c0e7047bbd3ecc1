package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Inverted-index construction + query — the entire capability of the
  * reference engine (`/root/reference/`), re-expressed Spark-first.
  *
  * Reference dataflow (SURVEY.md §3.1): text → word-aligned split →
  * tokenize/normalize (`helper_map.c:166`) → local count (combiner) →
  * alphabetic range shuffle (`helper_map.c:175-188,343-364`) → sum-by-key
  * reduce (`helper_reduce.c:153`) → letter-partitioned append files
  * (`helper_reduce.c:238-257`).
  *
  * Spark mapping: `groupBy(term, doc).count()` IS map-side partial
  * aggregation + hash shuffle + final aggregation (partial/final
  * HashAggregateExec); the 26 letter files become
  * `write.partitionBy("first_letter")` so term lookups prune partitions
  * exactly like opening one `./index/<c>` file. At 100 TB the postings
  * build is one wide shuffle keyed on (term, doc_id) with map-side combine
  * — the same shape the reference hand-codes, but spillable, codegen'd and
  * AQE-balanced.
  *
  * Serving cost: a served lookup ([[lookupInIndex]]) is TWO Spark jobs —
  * the shuffle map stage of the single-partition result exchange (the
  * pruned letter scan, still parallel over its files) and the result
  * stage that sorts the posting list inside that one partition. Every
  * index read declares its layout's schema ([[readIndex]]), so no job
  * samples a parquet footer; and the result is ordered in one partition
  * rather than by a global sort, whose range exchange would add a
  * sampling job for boundaries nobody needs when the caller collects one
  * small list anyway.
  */
object Indexer {

  /** Postings table (term, doc_id, tf) over the documents corpus.
    * A1+A2 of SURVEY.md §2: partial+final count per (term, doc).
    */
  def postings(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    docs
      .select(col("doc_id"), explodedTokens(col("text")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Full index build, ordered like the reference's `| sort` output
    * (`helper_reduce.c:153`) with the letter partition key (P6).
    */
  def indexBuild(spark: SparkSession, sfDir: String): DataFrame =
    postings(spark, sfDir)
      .withColumn("first_letter", firstLetter(col("term")))
      .select("first_letter", "term", "doc_id", "tf")
      .orderBy("term", "doc_id")

  /** Shuffle key for the letter-partitioned writes: (first_letter,
    * hash(term) mod F). Shuffling on first_letter ALONE (the obvious
    * translation of the reference's per-letter reducers,
    * `helper_reduce.c:169-215`) caps the build at ≤26 tasks skewed by
    * English letter frequency — a scale-killer at 100 TB where the write
    * stage is the widest in the job. The composite key gives each letter
    * up to F parallel writer tasks while `partitionBy("first_letter")`
    * keeps the directory layout (and pruning) identical; within a task,
    * sorting by term also sorts by first_letter (its leading character),
    * so the partitioned writer needs no extra sort.
    */
  private[graft] val filesPerLetter = 8

  private[graft] def letterShardKeys: Seq[org.apache.spark.sql.Column] =
    Seq(col("first_letter"), pmod(hash(col("term")), lit(filesPerLetter)))

  /** Materialize the master index as letter-partitioned parquet — the
    * analogue of the 26 `./index/<c>` files (`helper_reduce.c:238-242`),
    * but idempotent overwrite instead of blind append (SURVEY.md §7.0).
    * See [[letterShardKeys]] for why the shuffle key is composite: build
    * parallelism must not be capped at one task per letter.
    */
  def writeIndex(spark: SparkSession, sfDir: String, outPath: String): Unit =
    indexBuild(spark, sfDir)
      .repartition(letterShardKeys: _*)
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite")
      .partitionBy("first_letter")
      .parquet(outPath)

  /** The term index layout as [[writeIndex]] (and every upsert or
    * refresh of it) writes it, in the column order a read returns: the
    * data columns, then the `first_letter` partition column. doc_id is the
    * corpus key (BIGINT in every corpus graft reads), tf a count.
    */
  val termIndexSchema: StructType = new StructType()
    .add("term", StringType).add("doc_id", LongType).add("tf", LongType)
    .add("first_letter", StringType)

  /** Read an index layout with its declared schema. `spark.read.parquet`
    * without one runs a Spark job per read to infer the schema from a
    * parquet footer — on a served lookup that job costs more than the
    * lookup's own scan. The file listing is still taken fresh on every
    * call, so an index that [[upsertIntoIndex]] or the streaming
    * maintainer rewrote is read as it is now.
    */
  def readIndex(spark: SparkSession, path: String,
                schema: StructType = termIndexSchema): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Incrementally re-index a set of documents into a materialized index:
    * replaces the reference's append-only re-index (which duplicates
    * postings — `helper_reduce.c:241` `a+` mode, SURVEY.md §7.0) with a
    * partition-targeted upsert. Only letter partitions containing the
    * updated docs' old or new terms are rewritten (dynamic partition
    * overwrite); untouched letters keep their files byte-for-byte.
    *
    * [[graft.util.Checkpoints.truncate]] materializes the merged result
    * before the write so the plan no longer scans the path it is about
    * to overwrite (Spark refuses read+overwrite of the same location in
    * one lineage) — executor-local blocks by default, RELIABLE
    * checkpoint when `spark.graft.checkpointDir` points at cluster
    * storage.
    */
  def upsertIntoIndex(spark: SparkSession, indexPath: String,
                      updatedDocs: DataFrame): Unit = {
    val newPostings = updatedDocs
      .select(col("doc_id"), explodedTokens(col("text")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("first_letter", firstLetter(col("term")))
      .select("first_letter", "term", "doc_id", "tf")
    val docIds = updatedDocs.select("doc_id").distinct()
    val old = readIndex(spark, indexPath)
      .select("first_letter", "term", "doc_id", "tf")
    val affectedLetters = newPostings.select("first_letter")
      .union(old.join(docIds, "doc_id").select("first_letter"))
      .distinct()
    val kept = old
      .join(affectedLetters, Seq("first_letter"), "left_semi")
      .join(docIds, Seq("doc_id"), "left_anti")
      .select("first_letter", "term", "doc_id", "tf")
    val merged = graft.util.Checkpoints.truncate(spark,
      kept.union(newPostings)
        .repartition(letterShardKeys: _*)
        .sortWithinPartitions("term", "doc_id"))
    // materialize BEFORE the overwrite — both derive from a scan of
    // indexPath, which is about to be rewritten under this lineage
    val affected = affectedLetters.collect().map(_.getString(0)).toSet
    val remaining = merged.select("first_letter").distinct()
      .collect().map(_.getString(0)).toSet
    merged.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("first_letter")
      .parquet(indexPath)
    // dynamic overwrite only rewrites partitions PRESENT in the output: an
    // affected letter whose postings all belonged to the updated docs ends
    // up with zero rows and would keep its stale files — drop those dirs.
    // resolve the filesystem FROM the index path — FileSystem.get(conf)
    // returns fs.defaultFS, which is the wrong FS whenever the index lives
    // elsewhere (e.g. file:/ path with an HDFS default) and would silently
    // leave the stale partitions in place
    val root = new org.apache.hadoop.fs.Path(indexPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (affected -- remaining).foreach { letter =>
      fs.delete(new org.apache.hadoop.fs.Path(root,
        s"first_letter=$letter"), true)
    }
  }

  /** The reference's re-index semantics (SURVEY.md §7.0) as one
    * oracle-checkable query: build a scratch index, re-submit document 0
    * with changed text (the reference's `a+` append would now duplicate its
    * postings — `helper_reduce.c:241`), upsert it, and return the ENTIRE
    * resulting index. The DuckDB oracle computes postings over the
    * already-modified corpus directly, so a hash match proves the
    * partition-targeted upsert is equivalent to a from-scratch rebuild —
    * no duplicates, no stale rows, untouched letters intact.
    */
  private val upsertScratch = new graft.util.ScratchSlot

  def upsertRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    upsertScratch.retire() // previous run's scratch index, consumed by now
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert_ix_")
      .toFile.getAbsolutePath
    upsertScratch.defer(() => graft.util.Scratch.deleteRecursively(dir))
    // private mutable copy of the shared build artifact, cloned by
    // HARDLINK instead of re-running the full index write per execution:
    // the upsert overwrites letter partitions in place (unlinking the
    // clone's links — the shared files are untouched), and what this
    // query proves is the UPSERT, not the build (q_index_build owns that).
    // `_base_sig` stays behind: it describes the shared artifact's corpus
    // state, which the mutated clone no longer reflects.
    graft.util.Scratch.hardlinkTree(
      MaterializedIndex.ensure(spark, sfDir), dir, _.endsWith("_base_sig"))
    val updated = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0)
      .withColumn("text", concat(col("text"), lit(" graftmarker")))
    upsertIntoIndex(spark, dir, updated)
    readIndex(spark, dir)
      .select("first_letter", "term", "doc_id", "tf")
      .orderBy("term", "doc_id")
  }

  /** Term lookup against a MATERIALIZED index written by [[writeIndex]]:
    * the `first_letter` predicate prunes the scan to one partition
    * directory — exactly the reference's "open only `./index/<c>`"
    * (`helper_reduce.c:238-242`), but enforced by Catalyst's partition
    * pruning (asserted in IndexerSpec). Two jobs per call (see the object
    * doc): the scan feeds one partition, which sorts the posting list.
    */
  def lookupInIndex(spark: SparkSession, indexPath: String, term: String): DataFrame =
    readIndex(spark, indexPath)
      .filter(col("first_letter") === term.take(1) && col("term") === term)
      .select("term", "doc_id", "tf")
      .repartition(1)
      .sortWithinPartitions(desc("tf"), col("doc_id"))

  /** Term lookup: postings for one term, highest-tf first — the query the
    * `./index/<letter>` layout exists to serve (SURVEY.md §2.1). On the
    * materialized index this prunes to a single letter partition.
    */
  def termLookup(spark: SparkSession, sfDir: String, term: String): DataFrame =
    postings(spark, sfDir)
      .filter(col("term") === term)
      .orderBy(desc("tf"), col("doc_id"))
      .select("term", "doc_id", "tf")

  /** Multi-term AND: documents containing ALL the given terms.
    * filter + groupBy(doc) + countDistinct(term) == n — one shuffle,
    * no self-join chain (SURVEY.md §2.1).
    */
  def multiTermAnd(spark: SparkSession, sfDir: String, terms: Seq[String]): DataFrame =
    postings(spark, sfDir)
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms"), sum(col("tf")).as("total_tf"))
      .filter(col("n_terms") === terms.length)
      .select("doc_id", "total_tf")
      .orderBy(desc("total_tf"), col("doc_id"))

  /** tf-idf ranking, top-k documents per term (SURVEY.md §2.1).
    * idf = ln(N / df). Postings rows are unique (term, doc_id) by
    * construction, so df is a COUNT WINDOW over the same term partitioning
    * the ranking window needs anyway: one exchange of the postings serves
    * df computation AND ranking (the former groupBy+join-back spent a
    * second full postings shuffle on what the window gets for free).
    * Reads the MATERIALIZED index (one tokenize ever — see
    * [[MaterializedIndex.postings]]). Scores rounded so the DuckDB oracle
    * hash-matches bit-for-bit. The rank window is rank-limit-pushed by
    * Spark 4's WindowGroupLimit (partial top-k before the shuffle).
    */
  def tfIdfTopK(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val p = MaterializedIndex.postings(spark, sfDir)
    // corpus size as a broadcast 1-row aggregate, not a driver-side
    // action — doc_id is the documents PK, so count(*) IS the distinct
    // count without the distinct's extra exchange
    val n = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("term")).orderBy(desc("tf_idf"), col("doc_id"))
    p.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("term", "doc_id", "tf", "tf_idf", "rank")
      .orderBy("term", "rank")
  }

  /** Vocabulary statistics per first letter — the "how big is each of my 26
    * index files" question, plus distinct-term counts (A3).
    */
  def vocabStats(spark: SparkSession, sfDir: String): DataFrame =
    postings(spark, sfDir)
      .groupBy(firstLetter(col("term")).as("first_letter"))
      .agg(
        countDistinct(col("term")).as("n_terms"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("tf")).as("total_tf"))
      .orderBy("first_letter")
}
