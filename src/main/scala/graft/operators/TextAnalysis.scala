package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Corpus/text analytics — the LLM-training-data-pipeline extension ops
  * (SURVEY.md §2.2): per-document statistics, language breakdown, quality
  * scoring, token counting, fingerprinting, and a marker-word language-ID
  * heuristic. All built-ins (one scan, one aggregation each) so they run
  * as single WholeStageCodegen passes over the corpus at any scale.
  *
  * Every operator computes the token array (and other expensive derived
  * values) in a dedicated projection and only references the resulting
  * attribute afterwards: Catalyst does not common-subexpression-eliminate
  * higher-order-function trees, so an inline `tokens(text)` used k times
  * is k full tokenize passes per row.
  */
object TextAnalysis {

  /** Letters-only length — shared by stats + quality. */
  private def nLetters(text: org.apache.spark.sql.Column) =
    length(regexp_replace(lower(text), "[^a-z]", ""))

  /** Per-document statistics: token/char/distinct counts, average token
    * length. Narrow (no shuffle): everything is per-row array math.
    */
  def docStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        tokens(col("text")).as("ts"), nLetters(col("text")).as("nlet"))
      .select(
        col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(col("ts")).as("n_tokens"),
        size(array_distinct(col("ts"))).as("n_distinct"),
        // try_divide: NULL (not an ANSI error / DuckDB inf) for
        // zero-token docs — oracle mirrors with nullif(len(ts), 0)
        round(try_divide(col("nlet").cast("double"), size(col("ts"))), 4)
          .as("avg_token_len"))
      .orderBy("doc_id")

  /** Corpus breakdown by language: doc/char/token totals. */
  def langBreakdown(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Quality scoring: stopword ratio + length heuristics → keep/drop flag.
    * The filter-before-training step of a data pipeline; pure map-side.
    */
  def qualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ts"),
        nLetters(col("text")).as("nlet"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        size(filter(col("ts"), t => t.isin(stop.map(lit): _*))).as("n_stopwords"),
        col("nlet"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_stopwords"),
        // try_divide → NULL on zero-token docs, both engines (oracle: nullif)
        round(try_divide(col("n_stopwords").cast("double"), col("n_tokens")), 4)
          .as("stopword_ratio"),
        round(try_divide(col("nlet").cast("double"), col("n_tokens")), 4)
          .as("avg_token_len"),
        (col("n_tokens") >= 10 &&
          try_divide(col("n_stopwords").cast("double"), col("n_tokens")) < lit(0.5))
          .as("keep"))
      .orderBy("doc_id")
  }

  /** Token counting with a BPE-ish regex segmentation (letters / digits /
    * single punctuation marks), plus bytes-per-token — the "how many LLM
    * tokens is this corpus" estimator.
    */
  def tokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars"),
        size(tokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"))
      .select(
        col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        // try_divide → NULL for empty docs, both engines (oracle: nullif)
        round(try_divide(col("n_chars").cast("double"), col("bpe_tokens")), 4)
          .as("chars_per_token"))
      .orderBy("doc_id")

  /** Chunk documents into overlapping token windows (size `chunkSize`,
    * overlap `overlap`) — the context-window preparation step of an LLM
    * training pipeline. Pure map-side: one tokenize projection, one
    * arithmetic window count, one posexplode; no shuffle, so it streams
    * at corpus scale.
    */
  def chunkDocuments(spark: SparkSession, sfDir: String,
                     chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val stride = chunkSize - overlap
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .withColumn("n", size(col("ts")))
      .filter(col("n") > 0)
      // windows = 1 + max(0, ceil((n - chunkSize) / stride)); the cast
      // truncates toward zero but greatest(0, _) makes that equal floor
      .withColumn("nwin", greatest(lit(0),
        ((col("n") - chunkSize + (stride - 1)) / stride).cast("int")) + 1)
      .select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0), col("nwin") - 1),
          k => array_join(slice(col("ts"), k * stride + 1, lit(chunkSize)), " "))))
      .toDF("doc_id", "n", "chunk_idx", "chunk_text")
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"),
        least(lit(chunkSize), col("n") - col("chunk_idx") * stride)
          .cast("int").as("n_chunk_tokens"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Deterministic train/val/test split assignment — the
    * reproducible-split step of a training-data pipeline. Bucket =
    * multiplicative hash of doc_id (Knuth's 2654435761 mod 2^32), pure
    * integer arithmetic so the oracle reproduces it exactly; 98/1/1 by
    * bucket range. Map-side only.
    */
  def trainValTestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = graft.functions.HashFunctions.knuthMod(col("doc_id"), 4294967296L) % 100
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"),
        when(bucket < 98, "train").when(bucket < 99, "val").otherwise("test")
          .as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("split")
  }

  /** Greedy sequence packing: concatenate documents in doc_id order and
    * cut packs every `budget` tokens (a doc belongs to the pack its first
    * token lands in) — the sample-packing step that turns variable-length
    * docs into fixed context windows. The cumulative token count uses
    * [[Scan.prefixSum]], the two-phase distributed scan, NOT a global
    * cumsum window (which would funnel the corpus through one partition).
    */
  def packSequences(spark: SparkSession, sfDir: String, budget: Int): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    Scan.prefixSum(toks, "doc_id", "n_tokens", "cum_tokens")
      .withColumn("pack_id",
        ((col("cum_tokens") - col("n_tokens")) / budget).cast("long"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("pack_id")
  }

  /** Content fingerprinting via md5 (portable, exact): every doc with its
    * fingerprint and how many docs share it — the duplicate-cluster map.
    */
  def fingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val sizes = d.groupBy("fp").agg(count(lit(1)).as("n_same_fp"))
    d.join(sizes, "fp").select("doc_id", "fp", "n_same_fp").orderBy("doc_id")
  }

  /** Polynomial rolling-hash fingerprint over the TOKEN stream (Rabin-Karp
    * style): h = fold(h·31 + t mod p) with t = 256·len(w) + ascii(w[0]) —
    * the order-sensitive fingerprint a chunk-level dedup uses (md5 above is
    * content-exact; this one is recomputable incrementally over a sliding
    * window). Pure integer arithmetic (products ≤ 31·p + t < 2^35), so the
    * DuckDB oracle folds the identical recurrence with list_reduce. One
    * codegen'd `aggregate` HOF per row — map-side only.
    */
  def rollingFingerprints(spark: SparkSession, sfDir: String): DataFrame = {
    val p = 1000000007L
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        aggregate(col("ts"), lit(0L),
          (acc, w) => (acc * 31 + length(w).cast("long") * 256 + ascii(w)) % p)
          .as("rolling_fp"))
      .orderBy("doc_id")
  }

  /** Marker-word language-ID heuristic: score = |distinct tokens ∩ marker
    * set| per language, prediction = argmax (deterministic tie-break by
    * language order). With the synthetic corpus every doc scores 'en';
    * the operator shape (per-row set intersection, no shuffle) is the
    * point.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val markers = Seq(
      "en" -> Seq("the", "a", "and", "of", "is"),
      "de" -> Seq("der", "die", "das", "und"),
      "fr" -> Seq("le", "la", "et", "les"),
      "es" -> Seq("el", "la", "los", "que"))
    val scoreCols = markers.map { case (l, ws) =>
      size(array_intersect(col("td"), array(ws.map(lit): _*))).as(s"score_$l")
    }
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        array_distinct(tokens(col("text"))).as("td"))
      .select(col("doc_id") +: col("labeled_lang") +: scoreCols: _*)
      .withColumn("predicted_lang", {
        // argmax over the materialized score attributes (cheap refs)
        val init = (col("score_en"), lit("en"))
        val folded = markers.tail.foldLeft(init) { case ((bs, bl), (l, _)) =>
          (greatest(bs, col(s"score_$l")),
            when(col(s"score_$l") > bs, lit(l)).otherwise(bl))
        }
        folded._2
      })
      .orderBy("doc_id")
  }

  /** Corpus n-gram counts, top-k by frequency (ties broken by gram) — the
    * language-model co-occurrence statistic over the whole corpus. One
    * wordcount-shaped shuffle (map-side partial counts on the exploded
    * grams), then TakeOrdered for the global top-k — no full sort, no
    * single-reducer funnel.
    */
  def ngramCounts(spark: SparkSession, sfDir: String, n: Int,
                  topK: Int): DataFrame =
    Tables.documents(spark, sfDir)
      .select(tokens(col("text")).as("ts"))
      .select(explode(shinglesOfTokens(col("ts"), n)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("gram"))
      .limit(topK)

  /** Vocabulary spelling-variant pairs within edit distance `maxDist`
    * (≤ 2), via the FastSS / symmetric-deletion candidate rule:
    * ed(a,b) ≤ k  ⟺  the ≤k-deletion neighborhoods of a and b intersect.
    * Candidates come from an equality join on deletion variants —
    * |vocab| · O(len²) rows, NOT the |vocab|² cross join — then exact
    * `levenshtein` verification removes false positives. All candidate
    * generation is built-in array/lambda expressions (codegen'd); the
    * oracle cross-checks with a naive all-pairs levenshtein.
    */
  /** Hashing-trick feature vectors (Weinberger et al., ICML'09): each
    * document becomes a k-dim count vector by hashing every token into a
    * bucket — the text→vector leg of the pipeline when no learned
    * embedding is available (the pre-built `embeddings` table stands in
    * for that). One tokenize + one posexplode + one (doc, bucket) count;
    * entirely integer arithmetic on the engine-exact polynomial hash, so
    * the whole featurization is oracle-checked. Output is the sparse
    * form (doc_id, bucket, n) — the layout the sparse dot-product join
    * ([[IndexQueries.docSimilarity]]-style) consumes directly.
    */
  def hashingTrickFeatures(spark: SparkSession, sfDir: String,
                           k: Int): DataFrame = {
    val t = col("term")
    val h = aggregate(
      transform(sequence(lit(1), length(t)),
        i => ascii(t.substr(i, lit(1))).cast("long")),
      lit(0L), (acc, c) => (acc * 131 + c) % 2147483647L)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explodedTokens(col("text")).as("term"))
      .select(col("doc_id"), (h % k).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "bucket")
  }

  /** Heavy hitters over the token stream via the [[graft.functions.MisraGries]]
    * sketch: bounded memory (≤ k counters per partition), one partial-
    * aggregated pass, O(k) result. On this corpus k=64 exceeds the
    * vocabulary, so the sketch is provably exact and the oracle is the
    * plain wordcount; at 100 TB the same plan holds with the documented
    * (N/(k+1))-underestimate bound instead (spec-asserted at small k).
    * The ≤k-entry sketch is finalized on the driver — that collect is the
    * POINT of a sketch (constant-size summary), not a scale hazard.
    */
  def heavyHitters(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val terms = Tables.documents(spark, sfDir)
      .select(explodedTokens(col("text")).as("term")).as[String]
    val sketch = terms.select(new graft.functions.MisraGries(k).toColumn).head()
    sketch.toSeq.toDF("term", "est_count")
      .orderBy(desc("est_count"), col("term"))
  }

  def typoPairs(spark: SparkSession, sfDir: String,
                maxDist: Int = 2): DataFrame = {
    require(maxDist == 1 || maxDist == 2, "supported distances: 1, 2")
    val t = col("term")
    val L = length(t)
    // delete char at 0-based i (1-based substr arithmetic)
    val del1 = transform(sequence(lit(0), L - 1),
      i => concat(t.substr(lit(1), i), t.substr(i + 2, L - i - 1)))
    // delete chars at 0-based i < j
    val del2 = flatten(transform(sequence(lit(0), L - 2),
      i => transform(sequence(i + 1, L - 1),
        j => concat(t.substr(lit(1), i),
          t.substr(i + 2, j - i - 1),
          t.substr(j + 2, L - j - 1)))))
    val vars0 = array_union(array(t), del1)
    val vars =
      if (maxDist == 1) vars0
      else array_union(vars0,
        when(L >= 2, del2).otherwise(array().cast("array<string>")))
    val dels = Tables.documents(spark, sfDir)
      .select(explodedTokens(col("text")).as("term")).distinct()
      .select(t, explode(vars).as("variant"))
    val cand = dels.as("a").join(dels.as("b"), "variant")
      .where(col("a.term") < col("b.term"))
      .select(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .distinct()
    cand
      .withColumn("dist", levenshtein(col("term_a"), col("term_b")))
      .filter(col("dist").between(1, maxDist))
      .orderBy("term_a", "term_b")
  }

  /** Benchmark-contamination check — THE decontamination step of a
    * training-data pipeline: for every candidate document, the fraction of
    * its word-3-gram shingles that also appear in a held-out benchmark set
    * (here docs 0..nBench-1). Reuses the materialized shingle relation
    * (one tokenize ever, shared with the dedup family); the benchmark
    * shingle set is bounded by the benchmark suite's size, so it
    * broadcasts — the corpus side is one scan + one groupBy(doc_id), no
    * shuffle of shingle strings against each other. Flagging threshold is
    * the caller's policy; this reports the evidence.
    */
  def contamination(spark: SparkSession, sfDir: String, nBench: Int): DataFrame = {
    val sh = Dedup.shingleIndex(spark, sfDir)
    val bench = sh.filter(col("doc_id") < nBench).select("sh").distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= nBench)
      .join(broadcast(bench), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** Repetition statistics per document — the Gopher-style repetition
    * filter signals: the fraction of duplicated word-bigrams and the
    * distinct-token ratio. Heavily templated/boilerplate text shows a high
    * duplicate-bigram fraction long before exact dedup would catch it.
    * Entirely row-local higher-order-function math (bigrams built by
    * index-zipping the token array) — no shuffle, streams at any scale.
    */
  def repetitionStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .withColumn("n_tokens", size(col("ts")))
      .filter(col("n_tokens") >= 2)
      .withColumn("bigrams", transform(sequence(lit(1), col("n_tokens") - 1),
        i => concat_ws(" ", element_at(col("ts"), i), element_at(col("ts"), i + 1))))
      .select(
        col("doc_id"), col("n_tokens"),
        size(array_distinct(col("ts"))).as("n_distinct_tokens"),
        round(lit(1.0) - size(array_distinct(col("bigrams"))).cast("double")
          / size(col("bigrams")), 6).as("dup_bigram_ratio"),
        round(size(array_distinct(col("ts"))).cast("double")
          / col("n_tokens"), 6).as("distinct_token_ratio"))
      .orderBy("doc_id")

  /** Unigram surprisal per document — the perplexity-style quality signal
    * (documents whose tokens are uniformly common score low; gibberish and
    * boilerplate-free rare text scores high). The language model is the
    * corpus's own unigram distribution: one term-count aggregation, joined
    * back to the token stream on term (the vocabulary is corpus-scale, so
    * this is a plain shuffle join, not a broadcast), with the corpus total
    * riding along as a broadcast 1-row aggregate. avg is rounded to 4 dp —
    * the established cross-engine FP-margin for double averages.
    */
  def unigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explodedTokens(col("text")).as("term"))
    val freq = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).cast("double").as("n_total"))
    toks.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cnt").cast("double") / col("n_total"))), 4)
          .as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** Bigram conditional language model: P(w2|w1) = c(w1 w2) / Σ_w c(w1 w)
    * for the corpus's `topK` most frequent adjacent-token pairs — the
    * 2-gram step up from [[unigramSurprisal]]'s unigram LM, and the table
    * an n-gram quality scorer reads. One tokenize pass emits the pair
    * relation; the (w1, w2) counts shuffle once, and the w1 marginal is a
    * window over that compact count table (re-partitions counts by w1,
    * never re-scans the corpus). Final top-k is a TakeOrdered, no extra
    * exchange; ties break on (w1, w2) so the cut is deterministic.
    */
  def bigramLm(spark: SparkSession, sfDir: String, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, sfDir)
      .select(tokens(col("text")).as("ts"))
      .select(explode(shinglesOfTokens(col("ts"), 2)).as("gram"))
      // tokens are [a-z]-only, so the single space is an unambiguous split
      .select(substring_index(col("gram"), " ", 1).as("w1"),
        substring_index(col("gram"), " ", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy("w1")).cast("double"))
      .orderBy(desc("n"), col("w1"), col("w2"))
      .limit(topK)
  }

  /** COLLOCATION MINING — adjacent-token pairs with high pointwise
    * mutual information, PMI = ln(n12·N / (n1·n2)): the multi-word-
    * expression detector ("new york", "et al") a tokenizer-vocabulary or
    * phrase-index builder runs over the corpus. n1/n2 are positional
    * marginals (w as first / as second element) over ALL bigrams; the
    * report lists pairs with n12 ≥ minCount.
    *
    * Scale shape: one tokenize pass → ONE (w1, w2) count shuffle; the
    * marginals are window sums OVER THE COMPACT COUNT TABLE (repartition
    * counts by w1 / by w2 — never re-scan the corpus), the grand total is
    * a 1-row broadcast whose branch the runtime ReuseExchange collapses
    * onto the same count-table exchange. The min-count gate cuts on an
    * INTEGER, and the output orders by (w1, w2) — no float-ordered top-k
    * cut, so the row set is bit-deterministic on any engine.
    */
  def pmiCollocations(spark: SparkSession, sfDir: String,
                      minCount: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c2 = Tables.documents(spark, sfDir)
      .select(tokens(col("text")).as("ts"))
      .select(explode(shinglesOfTokens(col("ts"), 2)).as("gram"))
      .select(substring_index(col("gram"), " ", 1).as("w1"),
        substring_index(col("gram"), " ", -1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val tot = c2.agg(sum(col("n12")).as("nn"))
    c2
      // marginals BEFORE the min-count gate: rare pairs still count
      // toward their words' totals
      .withColumn("n1", sum(col("n12")).over(Window.partitionBy("w1")))
      .withColumn("n2", sum(col("n12")).over(Window.partitionBy("w2")))
      .filter(col("n12") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
        round(log(col("n12").cast("double") * col("nn").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double"))), 6)
          .as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Data-mixture report: per-source corpus composition — document and
    * token counts, each source's share of corpus tokens, and the share of
    * its documents that are exact duplicates of something else (anywhere
    * in the corpus). The table a training-data pipeline publishes when
    * deciding mixture weights; one tokenize pass + one fingerprint
    * aggregation, the corpus total rides as a 1-row broadcast.
    */
  def sourceMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        sha2(col("text"), 256).as("fp"))
    val fpSizes = docs.groupBy("fp").agg(count(lit(1)).as("fp_n"))
    val total = docs.agg(sum(col("n_tokens")).as("corpus_tokens"))
    docs.join(fpSizes, "fp")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("fp_n") > 1, 1L).otherwise(0L)).as("dup_docs"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") /
          col("corpus_tokens").cast("double"), 6).as("token_share"),
        col("dup_docs"),
        round(col("dup_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** CUBE over (source, lang) — the multi-level OLAP rollup
    * (GROUPING SETS / Expand-based aggregation, an operator class nothing
    * else in the surface exercises): per-cell, per-source, per-lang, and
    * grand totals in ONE pass over the corpus, disambiguated by
    * grouping_id. The Expand multiplies rows by the 4 grouping sets
    * BEFORE the exchange, but partial aggregation collapses them
    * map-side, so the shuffle still carries only distinct group cells.
    */
  def mixtureCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .cube(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        grouping_id().cast("long").as("gid"))
      .orderBy("gid", "source", "lang")

  /** Sequence-length histogram: document token counts bucketed by
    * `bucketWidth` — the distribution a packing planner reads to pick its
    * context budget (how much padding/truncation each budget would cost).
    * One tokenize pass, one tiny aggregation keyed by bucket.
    */
  def lengthHistogram(spark: SparkSession, sfDir: String,
                      bucketWidth: Int = 16): DataFrame =
    Tables.documents(spark, sfDir)
      .select(size(tokens(col("text"))).as("n_tokens"))
      .groupBy((floor(col("n_tokens") / bucketWidth.toDouble) *
        bucketWidth).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .orderBy("bucket_lo")

  /** Decile profile of the surprisal quality signal — the cut-point table
    * a curation pipeline uses to drop the worst band / sample by quality
    * tier. Global ranking via [[Scan.prefixSumBy]] (the two-phase
    * distributed scan over (avg_surprisal, doc_id)), NOT `ntile` over an
    * empty-partition window — the textbook global-rank window funnels the
    * whole corpus through one task at scale. Bucket rule is the explicit
    * floor((rank−1)·10/n) (mirrored verbatim in the oracle; `ntile`'s
    * remainder distribution differs between engines' conventions), and
    * per-decile bounds are order statistics (min/max — exact doubles, no
    * order-dependent averaging).
    */
  def qualityDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val s = unigramSurprisal(spark, sfDir)
    // rank AND total from ONE pass over the surprisal relation — the
    // totalCol rides the scan's tiny offsets aggregation, so the
    // expensive upstream (tokenize + frequency join) is never re-run
    // for a separate count
    Scan.prefixSumBy(s.withColumn("one", lit(1L)),
        Seq(col("avg_surprisal"), col("doc_id")), "one", "rnk",
        totalCol = Some("n_docs"))
      .withColumn("decile",
        (floor((col("rnk") - 1) * 10.0 / col("n_docs")) + 1).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        min(col("avg_surprisal")).as("lo"),
        max(col("avg_surprisal")).as("hi"))
      .orderBy("decile")
  }

  /** First iteration of BPE tokenizer training (Sennrich et al. 2016):
    * adjacent character-pair frequencies over the corpus vocabulary,
    * weighted by term occurrence counts — the statistic whose argmax IS
    * the first merge rule. Computed on the AGGREGATED vocabulary (one row
    * per distinct term with its corpus count), so the per-character
    * explode touches |vocab| short strings, not the corpus: exactly how a
    * production tokenizer trainer runs its count phase at 100 TB (count
    * words once, then iterate merges over the weighted vocabulary).
    * Top-`topK` pairs, deterministic tie order.
    */
  def bpePairCounts(spark: SparkSession, sfDir: String, topK: Int): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explodedTokens(col("text")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .where(length(col("term")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("term")) - 1),
        i => col("term").substr(i, lit(2)))).as("pair"), col("cnt"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(topK)

  /** Boilerplate signal (the header/footer/navigation detector of a web
    * corpus pipeline): share of each document's distinct 3-gram shingles
    * that are corpus-common. A shingle is "common" when its document
    * frequency reaches max(3, floor(n_docs/200)) — relative to corpus
    * size, so the cut means the same thing at any SF. Reads the
    * materialized shingle relation ([[Dedup.ensureShingles]] — built once,
    * shared with the dedup family), so no re-tokenize: every step is a
    * two-column shuffle over (doc_id, shingle).
    */
  /** Out-of-vocabulary rate per language against a corpus-derived vocab
    * (terms reaching `minDf` distinct documents — a document-frequency
    * floor, not a top-K, so the vocabulary is tie-proof and engine-exact).
    * The token stream is aggregated to (term, lang) occurrence counts
    * BEFORE meeting the df relation, so the join is term-keyed
    * vocabulary-scale, never token-stream-scale; the final rollup is 5
    * rows. The signal a tokenizer-training pipeline reads to size its
    * vocab per language.
    */
  def oovRate(spark: SparkSession, sfDir: String, minDf: Int = 3): DataFrame = {
    val flat = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("term"))
    val byTermLang = flat.groupBy("term", "lang").agg(count(lit(1)).as("occ"))
    val docFreq = flat.select("term", "doc_id").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    byTermLang.join(docFreq, "term")
      .groupBy("lang")
      .agg(sum(col("occ")).as("n_tokens"),
        sum(when(col("df") < minDf, col("occ")).otherwise(0L)).as("n_oov"))
      .select(col("lang"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy("lang")
  }

  /** Duplicated-span coverage per source — the suffix-array-dedup signal
    * at shingle granularity: of each source's word-3-gram shingles, how
    * many also occur in at least one OTHER document (anywhere in the
    * corpus), and how many of its documents are majority-duplicated.
    * Rides the materialized shingle relation; all ratios derive from
    * integer sums (the per-source double division happens once at the
    * edge), so the report is engine-exact.
    */
  def dupNgramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = spark.read.parquet(Dedup.ensureShingles(spark, sfDir))
    val shDf = sh.groupBy("sh").agg(count(lit(1)).as("n_docs_with"))
    val perDoc = sh.join(shDf, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L)).as("n_shared"))
    perDoc
      .join(Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_sh")).as("total_sh"),
        sum(col("n_shared")).as("shared_sh"),
        sum(when(col("n_shared") * 2 >= col("n_sh"), 1L).otherwise(0L))
          .as("n_heavy"))
      .select(col("source"), col("n_docs"), col("total_sh"), col("shared_sh"),
        round(col("shared_sh").cast("double") / col("total_sh").cast("double"), 6)
          .as("dup_coverage"),
        col("n_heavy"))
      .orderBy("source")
  }

  def boilerplateRatio(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = spark.read.parquet(Dedup.ensureShingles(spark, sfDir))
    // corpus-relative df threshold as a 1-row broadcast, not a collect:
    // floor() on both engines (a bare long/int division is double in both,
    // and DuckDB's double→int cast rounds while Spark's truncates)
    val thr = Tables.documents(spark, sfDir)
      .agg(greatest(lit(3L),
        floor(count(lit(1)) / 200).cast("long")).as("min_df"))
    val common = sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(thr))
      .where(col("df") >= col("min_df"))
      .select("sh")
    val perDoc = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val boiler = sh.join(common, "sh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    perDoc.join(boiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(coalesce(col("n_boiler"), lit(0L)).cast("double") /
          col("n_sh").cast("double"), 6).as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Robust winnowing (the MOSS fingerprint-selection algorithm): hash
    * every token k-gram, slide a w-gram window, keep the RIGHTMOST minimal
    * hash of each window, and report the distinct selections per doc.
    * Guarantees every ≥(w+k−1)-token match between docs shares a selected
    * fingerprint, at ~2/(w+1) of the grams stored — the density/recall
    * tradeoff exact shingle sets can't make at 100 TB.
    *
    * Everything is exact integer arithmetic so both engines agree
    * bit-for-bit: gram hash = base-31 fold of the rolling-fingerprint
    * token codes (≤ 2^31 before the mod, no overflow), and the
    * rightmost-min rule is ONE windowed min over the packed key
    * `h·2^32 + (2^32−1−pos)` — lexicographic (hash asc, pos desc) without
    * a struct ordering, so the whole selection rides a single doc_id
    * exchange that the distinct and the final per-doc rollup reuse.
    */
  /** First-seen novelty score — the marginal-contribution curation signal:
    * what fraction of a document's shingles had never appeared in any
    * earlier document (by doc_id order)? A near-copy of an earlier doc
    * scores ~0, genuinely new content ~1, and ranking by the score orders
    * the corpus by information added. One shingle-keyed aggregation (min
    * doc_id = first teller) joined back to the materialized shingle
    * relation, then a per-doc rollup — both rides are plain shuffles,
    * linear in the shingle relation.
    */
  def noveltyScore(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Dedup.shingleIndex(spark, sfDir)
    val firstSeen = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(firstSeen, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_ratio",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** BPE merge TRAINING, the iterative-algorithm companion to the IVF
    * k-means: `rounds` driver-coordinated merge steps over the weighted
    * WORD-TYPE relation (pair statistics need only the vocabulary with
    * occurrence counts — never the token stream, which is what makes BPE
    * training tractable at 100 TB). Each round is one aggregation (pair
    * counts weighted by word frequency, deterministic argmax by
    * (count desc, pair asc)) plus a map-side literal merge; only the
    * 1-row winner ever reaches the driver.
    *
    * Merges are applied as literal string replacement on the
    * space-separated symbol sequence with DOUBLED separators: every space
    * is doubled first, the pair is matched with single outer spaces
    * (` a  b ` → ` ab `), and doubles are collapsed after. With doubled
    * separators no two matches share a character, so both engines'
    * left-to-right non-overlapping `replace` implements exactly
    * canonical BPE's leftmost-greedy merge — including runs of a repeated
    * symbol (`a a a a` → `aa aa`), where naive single-space replacement
    * would consume the shared separator and skip every other merge. The
    * DuckDB oracle replays the identical rounds bit-for-bit.
    */
  /** The training loop shared by [[bpeTrain]] (reports the learned
    * merges) and [[bpeEncode]] (applies them): returns the final merged
    * symbol sequence per word TYPE and the per-round (pair, count) log.
    * NOTE [[bpeTrain]] reports `rounds` learned pairs but its published
    * contract applies only the first `rounds − 1` merges before counting
    * the last round's pairs; the ENCODE path applies all `rounds`.
    */
  /** Learned merges memoized per (corpus fingerprint, rounds): training
    * drives one driver action per round, but the RESULT is a tiny pure
    * value, and the merged sequence can be rebuilt LAZILY from it — so a
    * repeat call (bench second pass; bpeEncode after bpeTrain) replays
    * the merges with zero training actions. The key includes the newest
    * mtime under documents.parquet (not the path alone) so a regenerated
    * corpus at the same path can never serve stale merges; the bench
    * discloses the warm-pass hit via [[lastBpeWasCacheHit]].
    */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Int), Seq[(Int, String, Long)]]

  /** True when the last [[bpeMergedSeq]] call replayed cached merges
    * instead of training — lets the bench report the q_bpe_train warm
    * pass honestly (like cache_hits.clustered_layout).
    */
  @volatile var lastBpeWasCacheHit: Boolean = false

  /** Newest lastModified anywhere under documents.parquet — a rewritten
    * multi-file parquet dir need not bump its own mtime.
    */
  private def corpusFingerprint(sfDir: String): Long = {
    def newest(f: java.io.File): Long = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      (f.lastModified() +: kids.map(newest)).max
    }
    newest(new java.io.File(sfDir, "documents.parquet"))
  }

  private def charSeq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explodedTokens(col("text")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("word"), "(.)", "$1 ")).as("s"), col("freq"))

  /** Apply one learned merge as the doubled-separator canonical
    * replacement (pair is [a-z ] only — tokens are lowercase letters —
    * so the literal embedding is safe).
    */
  private def applyMerge(seq: DataFrame, pair: String): DataFrame = {
    val pairD = pair.replace(" ", "  ")
    val merged = pair.replace(" ", "")
    seq.select(trim(expr(
      s"replace(replace(replace(concat(' ', s, ' '), ' ', '  '), " +
        s"' $pairD ', ' $merged '), '  ', ' ')"))
      .as("s"), col("freq"))
  }

  private[graft] def bpeMergedSeq(spark: SparkSession, sfDir: String,
                                  rounds: Int): (DataFrame, Seq[(Int, String, Long)]) = {
    val key = (sfDir, corpusFingerprint(sfDir), rounds)
    bpeMergeCache.get(key) match {
      case Some(learned) =>
        lastBpeWasCacheHit = true
        (learned.foldLeft(charSeq(spark, sfDir)) {
          case (seq, (_, pair, _)) => applyMerge(seq, pair) }, learned)
      case None =>
        lastBpeWasCacheHit = false
        var seq = charSeq(spark, sfDir)
        val learned = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
        for (r <- 1 to rounds) {
          val top = seq
            .filter(size(split(col("s"), " ")) >= 2)
            .select(col("freq"), explode(expr(
              "transform(sequence(1, size(split(s, ' ')) - 1), " +
                "i -> concat(element_at(split(s, ' '), i), ' ', " +
                "element_at(split(s, ' '), i + 1)))")).as("pair"))
            .groupBy("pair").agg(sum(col("freq")).as("n"))
            .orderBy(desc("n"), col("pair")).limit(1).head()
          val (pair, n) = (top.getString(0), top.getLong(1))
          learned += ((r, pair, n))
          seq = applyMerge(seq, pair)
        }
        bpeMergeCache.putIfAbsent(key, learned.toSeq)
        (seq, learned.toSeq)
    }
  }

  def bpeTrain(spark: SparkSession, sfDir: String, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    bpeMergedSeq(spark, sfDir, rounds)._2
      .toDF("round", "merged_pair", "pair_count").orderBy("round")
  }

  /** TOKENIZER APPLICATION — encode the corpus with the merges [[bpeTrain]]
    * learned and report per-language compression: whitespace-token count,
    * character count (the char-level starting symbols), BPE-token count
    * after `rounds` merges, and chars-per-BPE-token. Encoding happens at
    * WORD-TYPE granularity (the merged form of each distinct word is
    * computed once) and re-weights by per-language occurrence counts on
    * the join back — the token stream itself is never re-tokenized, which
    * is what makes applying a tokenizer tractable inside the engine at
    * 100 TB (the real byte-level encode runs in the loader; this is the
    * pipeline's compression accounting of it).
    */
  def bpeEncode(spark: SparkSession, sfDir: String, rounds: Int = 3): DataFrame = {
    val (seq, _) = bpeMergedSeq(spark, sfDir, rounds)
    val encoded = seq.select(
      regexp_replace(col("s"), " ", "").as("word"),
      size(split(col("s"), " ")).cast("long").as("n_bpe"))
    Tables.documents(spark, sfDir)
      .select(col("lang"), explodedTokens(col("text")).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("freq"))
      .join(encoded, "word")
      .groupBy("lang")
      .agg(sum(col("freq")).as("n_ws_tokens"),
        sum(col("freq") * length(col("word"))).as("n_chars"),
        sum(col("freq") * col("n_bpe")).as("n_bpe_tokens"))
      .withColumn("chars_per_bpe_token",
        round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
      .orderBy("lang")
  }

  /** Materialize the winnowing selection once per (corpus state, k, w):
    * both consumers ([[winnowing]] stats and [[winnowPairs]] candidates)
    * read the selection-sized parquet instead of re-running the
    * tokenize + rolling-hash + window plan — the scrub-counts/token-gram
    * artifact economics applied to the fingerprint family.
    */
  private[graft] def ensureWinnowSelection(spark: SparkSession, sfDir: String,
                                           k: Int = 4, w: Int = 5): String =
    graft.util.Scratch.memoizedDir(spark,
      s"graft_winnowsel_${k}_${w}_" + graft.util.Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(Tables.documents(spark, sfDir))) { path =>
      winnowSelectedImpl(spark, sfDir, k, w)
        .write.mode("overwrite").parquet(path)
    }

  /** The winnowing SELECTION (doc_id, n_grams, minkey), served from the
    * materialized artifact.
    */
  private def winnowSelected(spark: SparkSession, sfDir: String,
                             k: Int, w: Int): DataFrame =
    spark.read.parquet(ensureWinnowSelection(spark, sfDir, k, w))

  private def winnowSelectedImpl(spark: SparkSession, sfDir: String,
                                 k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val P = 1000000007L
    val pow = Array.iterate(1L, k)(_ * 31).reverse // 31^(k-1) … 31^0
    // one row per TOKEN, hashed k-grams via lead() — not per-doc arrays:
    // an array-of-gram-hashes formulation looks natural but Catalyst's
    // generator-filter inference inlines the whole tokenize+hash
    // expression into a pushed-down Filter and evaluates it several times
    // per document (measured 34 s at sf0.1 vs ~1 s for this plan)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos"),
        (length(col("word")).cast("long") * 256 + ascii(col("word"))).as("t"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val grams = toks
      .withColumn("n_tokens",
        count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("h",
        (0 until k).map(j =>
          (if (j == 0) col("t") else lead(col("t"), j).over(byPos)) * pow(j))
          .reduce(_ + _) % P)
      .filter(col("h").isNotNull) // gram starts: pos 0 … n_tokens − k
    grams
      .withColumn("minkey",
        min(col("h") * 4294967296L + (lit(4294967295L) - col("pos")))
          .over(byPos.rowsBetween(0, w - 1)))
      .filter(col("pos") <= col("n_tokens") - (k - 1) - w) // full windows only
      .select(col("doc_id"),
        (col("n_tokens") - (k - 1)).cast("int").as("n_grams"), col("minkey"))
      .distinct()
  }

  def winnowing(spark: SparkSession, sfDir: String, k: Int = 4, w: Int = 5): DataFrame =
    winnowSelected(spark, sfDir, k, w)
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_fingerprints"),
        // decimal sum: exact past the ~9e9-selection point a long wraps at
        (sum(expr("CAST(minkey div 4294967296 AS DECIMAL(38,0))"))
          % 1000000007L).cast("long").as("fp_checksum"))
      .orderBy("doc_id")

  /** What the fingerprints are FOR — candidate near-dup pairs à la MOSS:
    * two docs are candidates when they share ≥ `minShared` distinct
    * selected fingerprints, after dropping fingerprints appearing in more
    * than `maxDf` docs (shared boilerplate would otherwise quadratically
    * join everything — the same df-cutoff discipline as the PPJoin and
    * tf-idf paths). Work is Σ df² over RARE fingerprints only, at
    * ~2/(w+1) of the shingle volume the exact-Jaccard candidate join
    * pays.
    */
  def winnowPairs(spark: SparkSession, sfDir: String,
                  k: Int = 4, w: Int = 5,
                  maxDf: Int = 10, minShared: Int = 2): DataFrame = {
    val sel = winnowSelected(spark, sfDir, k, w)
      .select(col("doc_id"), expr("minkey div 4294967296").as("fp"))
      .distinct()
    val rare = sel.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select("fp")
    val sr = sel.join(rare, "fp")
    sr.as("a")
      .join(sr.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(desc("n_shared"), col("doc_a"), col("doc_b"))
  }

  /** C4-STYLE DUPLICATED-SPAN SCRUB — the rewrite the coverage report
    * ([[dupNgramCoverage]]) only measures: every token covered by a word
    * 3-gram that occurs in ≥2 distinct documents is REMOVED, and the
    * surviving tokens are reassembled into the scrubbed text (the
    * "discard duplicated spans, keep the rest of the page" curation step,
    * in contrast to doc-level dedup which drops whole documents).
    *
    * Shape: the gram-document-frequency table comes from the one
    * materialized shingle relation every span op shares; the (pos, tok,
    * gram-starting-here) triples are built ROW-LOCALLY from the token
    * array (no lead() window — the gram is sliced out of the array
    * itself), so the plan is: one shuffle of the token stream on the gram
    * string to mark shared-gram starts, one per-doc exchange for the
    * 2-PRECEDING covered window (a token at j is covered iff a shared
    * gram starts in [j-2, j]), and the reassembly groupBy rides that same
    * doc partitioning. Linear in the token stream at any corpus size —
    * the n-gram approximation of suffix-array span dedup (Lee et al.
    * 2022) that actually distributes.
    */
  def spanScrub(spark: SparkSession, sfDir: String): DataFrame =
    scrubWithShared(spark, sfDir,
      spark.read.parquet(Dedup.ensureShingles(spark, sfDir))
        .groupBy("sh").agg(count(lit(1)).as("n_docs_with"))
        .filter(col("n_docs_with") >= 2)
        .select(col("sh").as("g")))

  /** The scrub with a CORPUS-RELATIVE boilerplate threshold (df ≥
    * max(3, n_docs/perDocs), the same broadcast-threshold rule as
    * [[boilerplateRatio]]) instead of the absolute df ≥ 2. On a corpus
    * dense enough that most n-grams repeat somewhere (small domains,
    * template-heavy crawls — and the synthetic testdata at sf0.1), the
    * absolute rule degenerates to scrubbing everything; the relative
    * rule keeps "duplicated" meaning "disproportionately common".
    */
  private[graft] def spanScrubRelative(spark: SparkSession, sfDir: String,
                                       perDocs: Int = 200): DataFrame = {
    val thr = Tables.documents(spark, sfDir)
      .agg(greatest(lit(3L),
        floor(count(lit(1)) / perDocs).cast("long")).as("min_df"))
    scrubWithShared(spark, sfDir,
      spark.read.parquet(Dedup.ensureShingles(spark, sfDir))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(thr))
        .where(col("df") >= col("min_df"))
        .select(col("sh").as("g")))
  }

  /** MATERIALIZED per-doc scrub COUNTS of [[spanScrubRelative]] —
    * (doc_id, n_tokens, n_kept) without the text reassembly (column
    * pruning drops the collect_list when only counts are selected) —
    * built once per corpus state: the downstream export composition
    * ([[Curate.curatedShards]]) only consumes the counts, and paying the
    * full token-gram scan per execution was the second-biggest tail
    * entry. Keyed on the corpus listing signature like every memoized
    * artifact; q_span_scrub / q_self_scrub keep computing their scrubs
    * inline — the scrub itself is what THOSE queries test.
    */
  private[graft] def ensureScrubCounts(spark: SparkSession,
                                       sfDir: String): String =
    graft.util.Scratch.memoizedDir(spark,
      "graft_scrubcounts_" + graft.util.Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(Tables.documents(spark, sfDir))) { p =>
      spanScrubRelative(spark, sfDir)
        .select("doc_id", "n_tokens", "n_kept")
        .write.mode("overwrite").parquet(p)
    }

  /** The (doc_id, pos, tok, g) token-gram stream MATERIALIZED once per
    * corpus state — the relation every span-scrub consumer (the two
    * declared scrub queries AND the scrub-counts artifact build) starts
    * from: each previously re-ran the full tokenize + gram-slice scan,
    * so the corpus was tokenized three times per bench pass for the same
    * rows. From parquet each consumer is a four-column scan. Storage is
    * the token stream (~gram-string × corpus) — offline-artifact-priced,
    * the same trade the shingle relation already makes.
    */
  private[graft] def ensureTokenGrams(spark: SparkSession, sfDir: String): String =
    graft.util.Scratch.memoizedDir(spark,
      "graft_tokengrams_" + graft.util.Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(Tables.documents(spark, sfDir))) { p =>
      tokenGrams(spark, sfDir).write.mode("overwrite").parquet(p)
    }

  /** q_scrub_report: the per-source span-scrub audit — how much of each
    * source's token stream the corpus-relative scrub would remove. The
    * second consumer of the materialized scrub COUNTS ([[ensureScrubCounts]]
    * — [[Curate.curatedShards]] being the first): the report is a
    * metadata-sized join + rollup over the artifact, so the gram-scan
    * cost is paid once at build and amortized across both consumers.
    * kept_share is ONE double division rounded 6dp (NULL on a zero-token
    * source, identically on both engines).
    */
  def scrubReport(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = spark.read.parquet(ensureScrubCounts(spark, sfDir))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(counts, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(sum("n_kept"), lit(0L)).as("n_kept"))
      .withColumn("kept_share",
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(round(
            col("n_kept").cast("double") / col("n_tokens").cast("double"), 6)))
      .orderBy("source")
  }

  /** q_span_corruption: T5-style SPAN-CORRUPTION accounting — the
    * masked-span preparation step of denoising pretraining (Raffel et
    * al. 2020): span SEEDS are chosen deterministically (a position
    * seeds a span iff knuth_hash(doc_id·2²⁰ + pos) ≡ 0 mod 20 — ~5% of
    * positions), each seed masks itself plus the next two tokens, and
    * overlapping spans merge — exactly the 2-PRECEDING covered-window
    * rule the scrub family already rides, so a token is masked iff a
    * seed sits in [pos−2, pos]. The report per document: tokens, seeds,
    * masked tokens, and the achieved mask share (ONE rounded division) —
    * what a pipeline logs to confirm the corruption rate landed near the
    * target. Deterministic (hash seeds, not rand()), so retries, reruns
    * and the oracle mask the identical positions; served from the
    * materialized token-gram relation, one doc-keyed exchange.
    */
  def spanCorruption(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-2, Window.currentRow)
    // doc_id·2²⁰ + pos is injective for every real document length
    // (pos < 2²⁰) — the same multiplicative-hash seeding as the split
    val seed = (graft.functions.HashFunctions.knuthMod(
      col("doc_id") * lit(1048576L) + col("pos"), 4294967296L) % 20 === 0)
      .cast("int")
    spark.read.parquet(ensureTokenGrams(spark, sfDir))
      .select(col("doc_id"), col("pos"), seed.as("s"))
      .withColumn("masked", max(col("s")).over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s")).cast("long").as("n_seeds"),
        sum(col("masked")).cast("long").as("n_masked"))
      .withColumn("mask_share",
        round(col("n_masked").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Row-local (doc_id, pos, tok, gram-starting-here) quadruples — the
    * gram is sliced out of the token array, no lead() window.
    */
  private def tokenGrams(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        inline(transform(sequence(lit(0), size(col("ts")) - 1), i =>
          struct(i.as("pos"), element_at(col("ts"), i + 1).as("tok"),
            when(i + lit(3) <= size(col("ts")),
              concat_ws(" ", element_at(col("ts"), i + 1),
                element_at(col("ts"), i + 2), element_at(col("ts"), i + 3)))
              .as("g")))))

  /** Covered-window removal + in-order reassembly over (doc_id, pos,
    * tok, h) rows where h marks gram starts selected for removal.
    */
  private def scrubFlagged(hit: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(-2, Window.currentRow)
    hit.withColumn("covered", max(col("h")).over(byDoc))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(lit(1) - col("covered")).cast("long").as("n_kept"),
        // collect_list skips the NULLs the `when` leaves for covered
        // tokens; the struct sorts by its leading pos field, restoring
        // document order without a second window
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("covered") === 0, struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("scrubbed_text"))
      .orderBy("doc_id")
  }

  private def scrubWithShared(spark: SparkSession, sfDir: String,
                              shared: DataFrame): DataFrame = {
    // serve the gram stream from the materialized relation: three
    // consumers (both declared scrubs + the scrub-counts build) share
    // ONE tokenize pass instead of re-running it each
    val tg = spark.read.parquet(ensureTokenGrams(spark, sfDir))
    scrubFlagged(tg.join(shared, tg("g") === shared("g"), "left")
      .select(col("doc_id"), col("pos"), col("tok"),
        when(shared("g").isNotNull, 1).otherwise(0).as("h")))
  }

  /** INTRA-document repetition scrub — the self-dedup rewrite (loops,
    * stutter, copy-paste blocks WITHIN one page) that cross-doc span
    * dedup cannot touch: every token covered by a 3-gram whose SAME-DOC
    * first occurrence is earlier is removed, keeping the first telling.
    *
    * The whole computation is per-document, so the plan pays exactly ONE
    * exchange (hash on doc_id) for any corpus size: "is this gram a
    * repeat?" does NOT need its own (doc_id, g) shuffle — within one
    * doc's partition, sorting the token rows by (g, pos) makes a repeat
    * precisely the row whose PREDECESSOR carries the same gram
    * (lag(g) = g ⟺ row_number over (doc_id, g) > 1), and the covered
    * window + reassembly then re-sort the same partition by pos. Two
    * in-partition sorts ride one exchange; the old formulation shuffled
    * the full token stream twice.
    */
  def selfScrub(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDocGramOrder = Window.partitionBy("doc_id").orderBy("g", "pos")
    scrubFlagged(spark.read.parquet(ensureTokenGrams(spark, sfDir))
      .withColumn("h",
        when(col("g").isNotNull &&
          lag("g", 1).over(byDocGramOrder) === col("g"), 1).otherwise(0)))
  }
}
