package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Additional query-side operators over the inverted index / corpus:
  * phrase search, per-document top terms, term-set algebra (the set
  * operations the reference's query surface implies but never wrote),
  * and cumulative relational windows.
  */
object IndexQueries {

  /** Phrase search via the bigram shingle index: documents containing the
    * exact 2-word phrase, with occurrence counts. The n-gram generalization
    * of the single-term lookup (`./index/<c>` scan analogue).
    */
  def phraseSearch(spark: SparkSession, sfDir: String, phrase: String): DataFrame =
    Tables.documents(spark, sfDir)
      // tokens in their own projection: inlining them into the shingle
      // expression triplicates the tokenize tree (no CSE on HOFs)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(shinglesOfTokens(col("ts"), 2)).as("bigram"))
      .filter(col("bigram") === phrase)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), col("doc_id"))

  /** Top-k most frequent terms per document (window over postings). */
  def topTermsPerDoc(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(desc("tf"), col("term"))
    Indexer.postings(spark, sfDir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "rnk")
      .orderBy("doc_id", "rnk")
  }

  /** Terms two documents share (INTERSECT of their vocabularies) — both
    * sides read the materialized index, not a fresh tokenize per branch.
    */
  def commonTerms(spark: SparkSession, sfDir: String,
                  docA: Long, docB: Long): DataFrame = {
    val p = MaterializedIndex.postings(spark, sfDir)
    p.filter(col("doc_id") === docA).select("term")
      .intersect(p.filter(col("doc_id") === docB).select("term"))
      .orderBy("term")
  }

  /** Terms in document A but not B (EXCEPT of vocabularies) — served from
    * the materialized index like [[commonTerms]].
    */
  def termsOnlyIn(spark: SparkSession, sfDir: String,
                  docA: Long, docB: Long): DataFrame = {
    val p = MaterializedIndex.postings(spark, sfDir)
    p.filter(col("doc_id") === docA).select("term")
      .except(p.filter(col("doc_id") === docB).select("term"))
      .orderBy("term")
  }

  /** Cumulative revenue per customer over order dates — running-total
    * window over the orders fact (epoch-day keyed for engine parity).
    */
  def customerRunningTotals(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey") < 100)
      .withColumn("running_total",
        sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("running_total"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  /** "More like this": cosine similarity between documents in tf-idf
    * space, computed on the postings index itself (sparse-vector dot
    * products as a join on term — no dense vectors anywhere). Returns the
    * top-k most similar docs for each query doc. One shuffle on term for
    * the dot products, one on doc for the norms; both sides are the
    * already-aggregated postings, so this scales with index size, not
    * corpus size.
    *
    * Near-zero-idf terms (df in > 90% of docs — integer cutoff
    * `df·10 > n_docs·9`, mirrored exactly in the oracle) are pruned BEFORE
    * the dot-product term join: a term like "the" joins every query doc
    * against nearly every corpus doc for a weight contribution of ~0,
    * making the hottest term key also the most worthless — unbounded skew
    * at corpus scale for no signal.
    *
    * Postings come from the MATERIALIZED index ([[MaterializedIndex]]):
    * this plan consumes the postings relation from four branches (df,
    * dot-product join, norms, query side), and Catalyst's exchange reuse
    * cannot unify them once column pruning specializes each branch — from
    * the raw corpus that would mean four full tokenize passes, from the
    * index it is four cheap columnar scans of the already-aggregated
    * postings. (Build-once/query-many, the reference's own operating mode.)
    */
  def docSimilarity(spark: SparkSession, sfDir: String,
                    nQueryDocs: Int, k: Int): DataFrame = {
    // weights sit behind a repartition(term) exchange: term is the
    // dot-product join key, so the join needs no further shuffle
    val p = MaterializedIndex.postings(spark, sfDir)
      .repartition(col("term"))
    // doc_id is the documents PK: a plain count(*) IS the distinct count,
    // without the distinct's extra doc_id exchange
    val n = graft.sources.Tables.documents(spark, sfDir)
      .agg(count(lit(1)).as("n_docs"))
    // df as a window over p's existing term partitioning: postings rows
    // are unique (term, doc_id) by construction, so count-per-term is the
    // document frequency — and the window RIDES the repartition(term)
    // exchange instead of re-scanning + re-shuffling the postings into a
    // separate aggregate (that second postings exchange was the single
    // biggest avoidable data movement in this plan)
    val weights = p
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .filter(col("df") * 10 <= col("n_docs") * 9)
      .select(col("term"), col("doc_id"),
        (col("tf") * log(col("n_docs").cast("double") / col("df"))).as("w"))
    val norms = weights.groupBy("doc_id")
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val qw = weights.filter(col("doc_id") < nQueryDocs)
      .select(col("term"), col("doc_id").as("q_doc"), col("w").as("qw"))
    val dots = weights.join(qw, "term")
      .where(col("doc_id") =!= col("q_doc"))
      .groupBy(col("q_doc"), col("doc_id"))
      .agg(sum(col("w") * col("qw")).as("dot"))
    val wTop = Window.partitionBy(col("q_doc"))
      .orderBy(desc("cosine"), col("doc_id"))
    dots
      .join(norms.withColumnRenamed("doc_id", "q_doc")
                 .withColumnRenamed("nrm", "q_nrm"), "q_doc")
      .join(norms, "doc_id")
      .withColumn("cosine", round(col("dot") / (col("q_nrm") * col("nrm")), 4))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("q_doc"), col("doc_id"), col("cosine"), col("rnk"))
      .orderBy("q_doc", "rnk")
  }

  /** Exact vs approximate distinct-term cardinality per language — the
    * sketch-style aggregation (HLL) a 100 TB vocabulary count would use.
    * approx values are Spark-implementation-specific → rows-only check.
    */
  def vocabApprox(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), explodedTokens(col("text")).as("term"))
      .groupBy("lang")
      .agg(
        countDistinct(col("term")).as("exact_vocab"),
        approx_count_distinct(col("term"), 0.01).as("approx_vocab"))
      .orderBy("lang")

  /** The layout of the per-document length memo: (doc_id, dl = Σ tf). */
  private val docLengthSchema: StructType = new StructType()
    .add("doc_id", LongType).add("dl", LongType)

  /** (avgdl, n_docs) per document-length memo path, computed once per
    * generation — the path embeds the index generation's signature, so a
    * rebuilt index lands on a fresh key.
    */
  private val docLengthStats =
    scala.collection.concurrent.TrieMap[String, (Double, Long)]()

  /** Document lengths of the materialized index of `sfDir`, with the two
    * corpus scalars BM25 normalizes by: the memo path of (doc_id, dl),
    * avgdl and n_docs. They are per-corpus constants, so they are
    * aggregated once per index generation (keyed on the index path plus
    * its build-time signature) and reused by every query after it, the
    * incremental reuse across interactive queries of *Incremental Based
    * Framework for Efficient Top-K Similarity Search in Interactive Data
    * Analysis Sessions* (EDBT 2020). The memo lives under the scratch
    * root, not inside the index directory, so the index files stay
    * exactly what the index writer left.
    */
  private[graft] def docLengths(spark: SparkSession,
                                sfDir: String): (String, Double, Long) = {
    val index = MaterializedIndex.generation(spark, sfDir)
    val path = graft.util.Scratch.memoizedDir(spark,
      "graft_doclen_" + graft.util.Scratch.valueToken(index.path), index.sig) { out =>
      Indexer.readIndex(spark, index.path)
        .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        .write.mode("overwrite").parquet(out)
    }
    val (avgdl, nDocs) = docLengthStats.getOrElseUpdate(path, {
      val r = spark.read.schema(docLengthSchema).parquet(path)
        .agg(sum(col("dl")), count(lit(1))).head()
      val n = r.getLong(1)
      (if (n == 0) 0.0 else r.getLong(0).toDouble / n, n)
    })
    (path, avgdl, nDocs)
  }

  /** BM25 ranking (Robertson–Spärck Jones, k1=1.2, b=0.75) served from
    * the materialized index — the standard retrieval scorer a tf-idf-only
    * engine is missing. Document lengths and the corpus scalars (avgdl,
    * n_docs) come from [[docLengths]], computed once per index
    * generation; the scalars enter the plan as literals. Per-term
    * document frequencies are a count window over the query terms'
    * postings (unique per (term, doc_id)). ONE Spark job per call, warm
    * (pinned in JobBudgetSpec), and no exchange: the letter-pruned scan
    * of the query terms' postings feeds one partition, which satisfies
    * the df window, the shuffle-hash join against the document lengths
    * and the per-document score sum; the top-k is a TakeOrdered.
    *
    * The scale trade: one task builds a hash table of the query terms'
    * postings and streams the O(documents) length rows past it, where
    * the per-query aggregation this replaces shuffled O(postings) rows of
    * the whole index on every call. Once a join side's size estimate
    * passes `spark.sql.maxSinglePartitionBytes`, Spark plans exchanges
    * under the join for parallelism: more jobs, the same answer.
    */
  def bm25TopK(spark: SparkSession, sfDir: String, terms: Seq[String],
               k: Int): DataFrame = {
    val ts = terms.distinct
    val letters = ts.map(_.take(1)).distinct
    val (dlPath, avgdl, nDocs) = docLengths(spark, sfDir)
    val qpost = Indexer.readIndex(spark, MaterializedIndex.ensure(spark, sfDir))
      .filter(col("first_letter").isin(letters: _*) && col("term").isin(ts: _*))
      .select("term", "doc_id", "tf")
      .coalesce(1)
      // postings rows are unique (term, doc_id): count(*) IS the document
      // frequency
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("idf",
        log((lit(nDocs) - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    // hinted: unhinted, the planner broadcasts the smaller side, and a
    // broadcast is a job of its own
    qpost.hint("shuffle_hash")
      .join(spark.read.schema(docLengthSchema).parquet(dlPath).coalesce(1),
        "doc_id")
      // constants written exactly as in the oracle SQL (k1=1.2, b=0.75,
      // k1+1 as the literal 2.2) so both engines fold identical doubles
      .withColumn("s",
        col("idf") * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) *
            (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / lit(avgdl))))
      .groupBy("doc_id")
      .agg(round(sum(col("s")), 6).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval: the keyword ranking ([[bm25TopK]]) and the vector
    * ranking ([[Similarity.cosineTopK]], doc_id ≡ vec_id in this corpus)
    * fused with Reciprocal Rank Fusion (Cormack et al., SIGIR 2009):
    * rrf(d) = Σᵢ 1/(60 + rankᵢ(d)) over the lists that contain d — the
    * standard score-free fusion every hybrid (keyword+vector) search
    * stack ships, robust to the two scorers' incomparable scales.
    *
    * Scale posture: each leg is the already-audited top-`perList`
    * pipeline (work ∝ posting lists / corpus scan, exchanges O(k)); the
    * fusion itself touches ≤ 2·perList rows — rank windows and the
    * full-outer join are k-bounded, never corpus-bounded.
    */
  def hybridRRF(spark: SparkSession, sfDir: String, terms: Seq[String],
                queryVec: Int, perList: Int, k: Int): DataFrame = {
    // global window over the ≤ perList BM25 survivors (k-bounded by the
    // limit below it, so the single-partition window is O(k))
    val wBm = Window.orderBy(desc("score"), col("doc_id"))
    val bm = bm25TopK(spark, sfDir, terms, perList)
      .withColumn("r_bm", row_number().over(wBm))
      .select(col("doc_id"), col("r_bm"))
    val cos = Similarity.cosineTopK(spark, sfDir, queryVec + 1, perList)
      .filter(col("query_id") === queryVec)
      .select(col("vec_id").as("doc_id"), col("rnk").as("r_cos"))
    bm.join(cos, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("r_bm"), col("r_cos"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("r_bm")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_cos")), lit(0.0)), 6).as("rrf"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(k)
  }

  /** KMV (k-minimum-values) distinct-count sketch over the corpus shingle
    * set — the mergeable cardinality sketch whose estimate, unlike HLL's,
    * is a pure deterministic function of the data: hash every distinct
    * shingle with the engine-exact polynomial hash, keep the k smallest,
    * estimate D ≈ (k−1)·H/h₍ₖ₎ (Bar-Yossef et al. 2002). At scale the
    * k-smallest pass is a TakeOrdered (per-partition top-k, no global
    * sort), and sketches from shards merge by re-taking k smallest.
    * Reported next to the EXACT count so the estimate is auditable, and
    * — because every step is integer/IEEE-exact — the whole sketch is
    * oracle-checked, not just spec-bounded.
    */
  /** Hash space of [[graft.functions.HashFunctions.polyFold64]]:
    * H = (2^31 − 1) · 2^32 (h1 strictly below 2^31 − 1 rounds to the
    * modulus; uniform enough for a cardinality estimate).
    */
  private def polyFold64(s: Column): Column =
    graft.functions.HashFunctions.polyFold64(s)

  private val KmvHashSpace = 2147483647.0 * 4294967296.0

  def shingleKMV(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    val h = polyFold64(col("sh"))
    val hs = Tables.documents(spark, sfDir)
      .select(tokens(col("text")).as("ts"))
      .select(explode(shinglesOfTokens(col("ts"), 3)).as("sh"))
      .distinct()
      .select(h.as("h"))
    val mins = hs.orderBy("h").limit(k)
    mins.agg(count(lit(1)).as("k"), max(col("h")).as("kth_min"))
      .crossJoin(hs.agg(count(lit(1)).as("n_exact")))
      .select(col("k"), col("kth_min"),
        floor(((col("k") - 1) * lit(KmvHashSpace)) / col("kth_min") + 0.5)
          .cast("long").as("estimate"),
        col("n_exact"))
  }

  /** Per-language vocabulary cardinality via the SAME KMV sketch as
    * [[shingleKMV]], replacing the HLL++ variant in the declared query
    * set: approx_count_distinct's sketch values are
    * Spark-implementation-specific (rows-only check forever), while KMV
    * over the engine-exact polynomial hash is a pure function of the data
    * — estimate AND exact count both oracle-checked. One exchange keyed
    * by language carries both the k-smallest window and the exact count;
    * at 100 TB the same sketch merges across shards by re-taking the k
    * smallest hashes (the HLL++ library operator remains available as
    * [[vocabApprox]], spec-covered).
    */
  def vocabKMV(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy("lang").orderBy("h")
    Tables.documents(spark, sfDir)
      .select(col("lang"), explodedTokens(col("text")).as("term"))
      .distinct()
      .select(col("lang"), polyFold64(col("term")).as("h"))
      .withColumn("rn", row_number().over(byLang))
      .groupBy("lang")
      .agg(sum(when(col("rn") <= k, 1L).otherwise(0L)).as("k"),
        max(when(col("rn") <= k, col("h"))).as("kth_min"),
        count(lit(1)).as("exact_vocab"))
      .select(col("lang"), col("k"), col("kth_min"),
        floor(((col("k") - 1) * lit(KmvHashSpace)) / col("kth_min") + 0.5)
          .cast("long").as("estimate"),
        col("exact_vocab"))
      .orderBy("lang")
  }

  /** [[vocabKMV]] executed by the NATIVE sketch aggregate
    * ([[graft.functions.KmvSketchAgg]], a `TypedImperativeAggregate`
    * with binary mergeable state): where the declarative twin shuffles
    * EVERY distinct hash to its language's partition for the
    * `row_number` window, the native aggregate runs map-side partial
    * sketches and forwards at most k longs per (task, language) into the
    * exchange — the input-vs-k reduction that makes sketch pipelines
    * linear at 100 TB. Same k-smallest-distinct semantics (a pure
    * function of the input set), so it answers to the IDENTICAL oracle.
    */
  def vocabKMVNative(spark: SparkSession, sfDir: String,
                     k: Int = 64): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), explodedTokens(col("text")).as("term"))
      .distinct()
      .select(col("lang"), polyFold64(col("term")).as("h"))
      .groupBy("lang")
      .agg(graft.functions.KmvSketchAgg.kmvSketch(col("h"), k).as("sk"),
        count(lit(1)).as("exact_vocab"))
      .select(col("lang"), col("sk.k").as("k"),
        col("sk.kth_min").as("kth_min"),
        floor(((col("sk.k") - 1) * lit(KmvHashSpace)) / col("sk.kth_min")
          + 0.5).cast("long").as("estimate"),
        col("exact_vocab"))
      .orderBy("lang")

  /** Vocabulary COVERAGE CURVE — the tokenizer-design question "how much
    * of the token stream do the top-N terms cover?": term counts ranked
    * by (count desc, term), cumulative token share at each requested
    * vocabulary cut. Both running quantities (rank and cumulative count)
    * ride [[Scan.prefixSumBy]], the two-phase distributed scan — a
    * global `row_number`/`sum` window would funnel the whole vocabulary
    * through one partition, the exact funnel the scan exists to avoid;
    * the grand total falls out of the same offsets pass. The cut
    * evaluation joins the vocab against a broadcast handful of cut rows.
    */
  def vocabCoverage(spark: SparkSession, sfDir: String,
                    cuts: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, sfDir)
      .select(explodedTokens(col("text")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
    val order = Seq(col("n").desc, col("term"))
    val cum = Scan.prefixSumBy(counts, order, "n", "cum_tokens",
      totalCol = Some("total_tokens"))
    val ranked = Scan.prefixSumBy(cum.withColumn("one", lit(1L)),
      order, "one", "rank").drop("one")
    ranked
      .join(broadcast(cuts.toDF("top_n")), col("rank") <= col("top_n"))
      .groupBy(col("top_n"))
      .agg(max(col("rank")).as("vocab_size"),
        max(col("cum_tokens")).as("covered_tokens"),
        first(col("total_tokens")).as("total_tokens"))
      .select(col("top_n").cast("long").as("top_n"), col("vocab_size"),
        col("covered_tokens"), col("total_tokens"),
        round(col("covered_tokens").cast("double") / col("total_tokens"), 6)
          .as("coverage"))
      .orderBy("top_n")
  }

  /** KMV SET ALGEBRA — estimated vocabulary OVERLAP between language
    * pairs from the sketches alone (Beyer et al., SIGMOD'07): the k-min
    * sketch of A∪B is the k smallest of K(A) ∪ K(B) (mergeability, same
    * argument as [[Incremental.incrementalDistinctSketch]]), and the
    * fraction ρ of K(A∪B) present in BOTH K(A) and K(B) estimates
    * Jaccard(A,B); ρ · |A∪B|-estimate recovers the intersection size.
    * This is what sketches buy at 100 TB: pairwise overlap across n
    * partitions of a corpus from n·k stored rows, no re-scan, no
    * pairwise distinct-count over the data. The exact inter/union/Jaccard
    * columns are the audit leg (computed from the data like
    * [[vocabKMV]]'s exact_vocab; the pair estimates never touch it).
    * Everything is a pure function of the data via the engine-exact
    * polynomial hash, so the DuckDB oracle reproduces estimate AND truth
    * bit-for-bit.
    */
  def vocabOverlapKMV(spark: SparkSession, sfDir: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lt = Tables.documents(spark, sfDir)
      .select(col("lang"), explodedTokens(col("text")).as("term"))
      .distinct()
    val byLang = Window.partitionBy("lang").orderBy("h")
    val kmin = lt.select(col("lang"), polyFold64(col("term")).as("h"))
      .withColumn("rn", row_number().over(byLang))
      .filter(col("rn") <= k).select("lang", "h")
    val langs = kmin.select("lang").distinct()
    val lp = langs.as("x").join(langs.as("y"), col("x.lang") < col("y.lang"))
      .select(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
    // per pair: merged sketch rows with per-side membership flags (the
    // same hash can enter from both sides — one row, both flags)
    val mh = broadcast(lp)
      .join(kmin, col("lang") === col("lang_a") || col("lang") === col("lang_b"))
      .groupBy("lang_a", "lang_b", "h")
      .agg(max(when(col("lang") === col("lang_a"), 1).otherwise(0)).as("in_a"),
        max(when(col("lang") =!= col("lang_a"), 1).otherwise(0)).as("in_b"))
    val byPair = Window.partitionBy("lang_a", "lang_b").orderBy("h")
    val est = mh.withColumn("rn", row_number().over(byPair))
      .filter(col("rn") <= k)
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("k"), max(col("h")).as("kth_min"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_both"))
    val exact = broadcast(lp)
      .join(lt, col("lang") === col("lang_a") || col("lang") === col("lang_b"))
      .groupBy("lang_a", "lang_b", "term")
      .agg(max(when(col("lang") === col("lang_a"), 1).otherwise(0)).as("a"),
        max(when(col("lang") =!= col("lang_a"), 1).otherwise(0)).as("b"))
      .groupBy("lang_a", "lang_b")
      .agg(sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
          .as("inter_exact"),
        count(lit(1)).as("union_exact"))
    est.join(exact, Seq("lang_a", "lang_b"))
      .select(col("lang_a"), col("lang_b"),
        round(col("n_both").cast("double") / col("k"), 6).as("jaccard_est"),
        floor(((col("k") - 1) * lit(KmvHashSpace)) / col("kth_min") + 0.5)
          .cast("long").as("union_est"),
        col("inter_exact"), col("union_exact"),
        round(col("inter_exact").cast("double") / col("union_exact"), 6)
          .as("jaccard_exact"))
      .orderBy("lang_a", "lang_b")
  }

  /** [[vocabOverlapKMV]] executed via the NATIVE sketch-members aggregate
    * ([[graft.functions.KmvHashesAgg]]) — KMV SET ALGEBRA on shipped
    * sketches. The declarative twin re-ranks the merged hash rows with a
    * per-pair `row_number` window, i.e. it needs the raw bottom-k ROWS of
    * every language co-located per pair; this form instead reduces each
    * language to ONE row carrying its ≤ k member hashes (map-side partial
    * sketches, ≤ k longs per task per language reach the exchange) and
    * answers every pairwise overlap question with O(k) array math:
    *
    *  - union sketch K(A∪B) = k smallest of K(A) ∪ K(B)
    *    (concat → distinct → sort → slice: exact sketch union);
    *  - |A∪B|^ = (|K|−1)·H / max(K)  (same estimator as [[vocabKMV]]);
    *  - J^ = |K(A∪B) ∩ K(A) ∩ K(B)| / |K| (coincidence estimator).
    *
    * At 100 TB the sketch relation is #groups rows of k longs — the
    * overlap matrix never touches the data again; only the exact audit
    * legs (inter_exact/union_exact, kept for error inspection) still scan
    * the vocabulary. Identical output to [[vocabOverlapKMV]] by
    * construction, so it answers to the IDENTICAL oracle.
    */
  def vocabOverlapNative(spark: SparkSession, sfDir: String,
                         k: Int = 64): DataFrame = {
    val lt = Tables.documents(spark, sfDir)
      .select(col("lang"), explodedTokens(col("text")).as("term"))
      .distinct()
    // one row per language: the sketch MEMBERS, ascending
    val sk = lt.select(col("lang"), polyFold64(col("term")).as("h"))
      .groupBy("lang")
      .agg(graft.functions.KmvHashesAgg.kmvHashes(col("h"), k).as("ks"))
    val pairs = sk.as("x").join(sk.as("y"), col("x.lang") < col("y.lang"))
      .select(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"),
        col("x.ks").as("ka"), col("y.ks").as("kb"))
    val est = pairs
      .withColumn("ku",
        slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k))
      .select(col("lang_a"), col("lang_b"),
        size(col("ku")).cast("long").as("k"),
        element_at(col("ku"), size(col("ku"))).as("kth_min"),
        size(array_intersect(col("ku"),
          array_intersect(col("ka"), col("kb")))).cast("long").as("n_both"))
    // exact audit legs — same subplan as the declarative twin
    val langs = sk.select("lang")
    val lp = langs.as("x").join(langs.as("y"), col("x.lang") < col("y.lang"))
      .select(col("x.lang").as("lang_a"), col("y.lang").as("lang_b"))
    val exact = broadcast(lp)
      .join(lt, col("lang") === col("lang_a") || col("lang") === col("lang_b"))
      .groupBy("lang_a", "lang_b", "term")
      .agg(max(when(col("lang") === col("lang_a"), 1).otherwise(0)).as("a"),
        max(when(col("lang") =!= col("lang_a"), 1).otherwise(0)).as("b"))
      .groupBy("lang_a", "lang_b")
      .agg(sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L))
          .as("inter_exact"),
        count(lit(1)).as("union_exact"))
    est.join(exact, Seq("lang_a", "lang_b"))
      .select(col("lang_a"), col("lang_b"),
        round(col("n_both").cast("double") / col("k"), 6).as("jaccard_est"),
        floor(((col("k") - 1) * lit(KmvHashSpace)) / col("kth_min") + 0.5)
          .cast("long").as("union_est"),
        col("inter_exact"), col("union_exact"),
        round(col("inter_exact").cast("double") / col("union_exact"), 6)
          .as("jaccard_exact"))
      .orderBy("lang_a", "lang_b")
  }

  /** Posting-list DELTA + VARINT cost model — the classic IR index
    * compression, computed relationally: per term, doc_ids sorted and
    * gap-encoded (first id absolute, then differences via lag over the
    * term exchange), each gap costed at its variable-byte size
    * `ceil(bit_length / 7)`. Bit length is `length(bin(gap))` — the
    * minimal binary string both engines render identically — so the
    * compression report is engine-exact without floating log2. The output
    * quantifies WHY a real index stores gaps: dense terms compress toward
    * one byte per posting vs eight raw.
    */
  def postingsDeltaStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTerm = Window.partitionBy("term").orderBy("doc_id")
    MaterializedIndex.postings(spark, sfDir)
      .select(col("term"), col("doc_id"))
      .withColumn("gap",
        coalesce(col("doc_id") - lag(col("doc_id"), 1).over(byTerm),
          col("doc_id") + 1)) // first id stored absolutely (+1 keeps gap > 0 for doc 0)
      .groupBy("term")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(expr("(length(bin(gap)) + 6) div 7")).as("vbyte_bytes"))
      .withColumn("raw_bytes", col("n_docs") * 8)
      .withColumn("ratio",
        round(col("raw_bytes").cast("double") / col("vbyte_bytes"), 4))
      .orderBy(desc("n_docs"), col("term"))
      .limit(100)
  }

  /** Per-partition integrity checksums of the materialized index — the
    * anti-entropy primitive for replicated serving: two replicas compare
    * one (n_rows, checksum) pair per letter partition instead of shipping
    * postings, and only a partition whose pair diverges is re-synced. The
    * checksum is an order-independent SUM of per-row polynomial hashes in
    * exact integer arithmetic mod 1e9+7, so it is partitioning- and
    * execution-order-invariant and both engines agree bit-for-bit.
    */
  def partitionChecksums(spark: SparkSession, sfDir: String): DataFrame = {
    val P = 1000000007L
    Indexer.readIndex(spark, MaterializedIndex.ensure(spark, sfDir))
      .select("first_letter", "term", "doc_id", "tf")
      .withColumn("termh", graft.functions.PolyHashExpr.polyHash(col("term")))
      .withColumn("rowh",
        (col("termh") * 1000003L + col("doc_id") * 31L + col("tf")) % P)
      .groupBy("first_letter")
      // the sum runs in DECIMAL(38,0): a long accumulator would wrap past
      // ~9e9 rows per letter while DuckDB sums in 128-bit — a silent
      // cross-engine divergence exactly at the scale this operator targets
      .agg(count(lit(1)).as("n_rows"),
        (sum(col("rowh").cast("decimal(38,0)")) % P).cast("long").as("checksum"))
      .orderBy("first_letter")
  }

  /** Importance propagation over the inverted index as a PURE RELATIONAL
    * plan — two doc→term→doc rounds of degree-normalized rank flow over
    * the term↔doc bipartite graph (the centrality-style quality signal
    * web-corpus curation ranks documents with). No driver loop, no graph
    * runtime: the unrolled rounds are one declarative plan over the
    * materialized postings, each round one term-keyed and one doc-keyed
    * aggregation of the edge relation — O(iterations · |postings|), the
    * complexity an iterative graph engine would pay, with every step an
    * ordinary shuffle Catalyst/AQE can plan.
    *
    * All mass is INTEGER micro-units with floor division, so rounding
    * loss is deterministic and both engines agree bit-for-bit. Doubles
    * would diverge here: float mass summed in engine-specific orders
    * stops hash-matching after one round.
    */
  def rankPropagation(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val p = MaterializedIndex.postings(spark, sfDir).select("term", "doc_id")
    val docDeg = p.groupBy("doc_id").agg(count(lit(1)).as("d_deg"))
    val termDeg = p.groupBy("term").agg(count(lit(1)).as("t_deg"))
    // annotate the edge relation with BOTH endpoint degrees ONCE and
    // truncate lineage: the unrolled form consumed the postings scan from
    // SIX subtrees (two degree aggregations plus one edge leg per
    // propagation step), each re-scanning and re-joining degrees —
    // measured 6 postings scans per execution. Off the annotated edges,
    // each step is one broadcast-or-shuffle join of a rank table (term-/
    // doc-count-sized) plus its aggregation; the integer mass arithmetic
    // (floor div per edge, summed per key) is expression-identical, so
    // the ranks are bit-for-bit the old plan's.
    val pAnn = graft.util.Checkpoints.truncate(spark,
      p.join(docDeg, "doc_id").join(termDeg, "term")
        .select(col("term"), col("doc_id"), col("d_deg"), col("t_deg")))
    val tRank1 = pAnn
      .groupBy("term")
      .agg(sum(expr("1000000 div d_deg")).as("t_rank"))
    val dRank1 = pAnn.join(tRank1, "term")
      .groupBy("doc_id")
      .agg(sum(expr("t_rank div t_deg")).as("d_rank"))
    val tRank2 = pAnn.join(dRank1, "doc_id")
      .groupBy("term")
      .agg(sum(expr("d_rank div d_deg")).as("t_rank2"))
    pAnn.join(tRank2, "term")
      .groupBy("doc_id")
      .agg(sum(expr("t_rank2 div t_deg")).as("rank_uu"))
      .orderBy(desc("rank_uu"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("rank_uu"))
  }
}
