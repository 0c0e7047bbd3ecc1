package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline (SURVEY.md §2.2):
  * exact (content-hash), exact n-gram Jaccard (all-pairs via shingle
  * inverted index), MinHash+LSH (the 100 TB-scale path), and SimHash.
  *
  * Scale notes:
  *  - Exact dedup is one hash-shuffle on a 64-hex key — same shape as the
  *    reference's sum-by-key reduce (`/root/reference/helper_reduce.c:153`).
  *  - All-pairs Jaccard only joins docs that SHARE a shingle (an inverted
  *    index on shingles — the reference's own data structure, repurposed),
  *    never a blind cross join.
  *  - MinHash/LSH replaces the quadratic candidate step with banding:
  *    cost is linear in corpus size + output pairs; this is the variant
  *    that survives 1000 executors × 100 TB.
  */
object Dedup {

  /** Exact dedup via sha256 content fingerprint: one survivor (min doc_id)
    * per distinct text; group_size counts the duplicates it absorbs.
    *
    * Physical shape: ONE partial-aggregated groupBy on the fingerprint —
    * min(doc_id) IS the first row ordered by doc_id, so the former
    * row_number window (exchange + sort + two WindowExec passes, no
    * map-side combine) reduces to a hash aggregate whose partial phase
    * collapses duplicate fingerprints before the exchange (guide §2.3,
    * "aggregate before you shuffle"). Output is row-identical.
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select("doc_id", "fp", "group_size")
      .orderBy("doc_id")

  /** Keeper ids only (min doc_id per distinct text) — the reduced form
    * [[Curate.curateCorpus]] consumes: a plain partial-aggregated groupBy,
    * no window sort over the corpus.
    */
  private[graft] def exactKeeperIds(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sha2(col("text"), 256).as("fp"))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Distinct word-3-gram shingles per doc: (doc_id, shingle), MATERIALIZED
    * once per corpus per JVM (like [[MaterializedIndex]]) — the
    * shingle-once design every real dedup pipeline uses at scale.
    *
    * The dedup plans consume this relation from many branches (global
    * shingle frequencies, both sides of the candidate self-join, the
    * exact-verify step, per-doc sizes, MinHash signatures); exchange reuse
    * cannot unify them once column pruning specializes each branch, so an
    * un-materialized shingle pipeline re-tokenizes the corpus per branch.
    * From parquet, each branch is a cheap two-column scan.
    */
  private[graft] def shingleIndex(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(ensureShingles(spark, sfDir))


  private[graft] def ensureShingles(spark: SparkSession, sfDir: String): String =
    // memoizedDir resolves under the CURRENT scratch root (a
    // spark.graft.scratchDir change mid-JVM builds under the new root)
    // and keys on the corpus listing signature: every downstream span op
    // — including the sig-keyed scrub-counts artifact — must see shingles
    // of the corpus as it is NOW, never a stale relation
    graft.util.Scratch.memoizedDir(spark,
      "graft_shingles_" + graft.util.Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(Tables.documents(spark, sfDir))) { path =>
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .select(col("doc_id"),
          explode(array_distinct(shinglesOfTokens(col("ts"), 3))).as("sh"))
        .write.mode("overwrite").parquet(path)
    }

  /** One corpus as a dedup build sees it: its dir, ONE documents scan
    * and that scan's listing signature. A top-level build takes it once
    * and hands it to every artifact it builds or reads: each fresh
    * [[Tables.documents]] call infers the parquet schema in a Spark job,
    * and every artifact keys on the same signature.
    */
  private[graft] final case class Corpus(dir: String, docs: DataFrame, sig: String)

  private[graft] def corpus(spark: SparkSession, sfDir: String): Corpus = {
    val docs = Tables.documents(spark, sfDir)
    Corpus(sfDir, docs, Tables.listingSig(docs))
  }

  /** Read a dedup scratch artifact with its schema DECLARED, as
    * [[Indexer.readIndex]] does: an inferring read runs a one-task footer
    * job per call. `ids` are doc-id columns (bigint), `rest` the others.
    */
  private def readArtifact(spark: SparkSession, path: String, ids: Seq[String],
                           rest: StructField*): DataFrame =
    spark.read.schema(StructType(ids.map(StructField(_, LongType)) ++ rest))
      .parquet(path)

  /** Write `df` to `path` and return `metric`, aggregated over the
    * written rows by the write job itself (no second scan).
    */
  private def writeObserved(df: DataFrame, path: String, metric: Column): Long = {
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, metric.as("m")).write.mode("overwrite").parquet(path)
    obs.get.get("m") match { case Some(n: Number) => n.longValue(); case _ => 0L }
  }

  /** Each doc's distinct word-3-gram shingle set PACKED as one row,
    * (doc_id, hs: sorted array<bigint>, n_sh), MATERIALIZED once per
    * corpus state: the one artifact every near-dup plan of the curate
    * pass derives from (the identical-set group map, the PPJoin
    * candidates, every exact verify). Built ROW-LOCALLY from the
    * documents scan; the only exchange merges repeated doc_ids, on
    * document-sized rows, never the shingle rows. Docs with no shingle
    * get no row, as in [[shingleIndex]], and the rows equal a groupBy
    * packing of [[shingleIndex]] (spec-pinned). Array size scales with
    * the DOC, not the corpus (10³–10⁴ shingles → 8–80 KB for web-scale
    * documents).
    *
    * Shingles ride as their xxhash64 (guide §2.3, narrower types): 8
    * bytes carry what the ~15–25-byte string did. Everything downstream
    * needs only equality and a total order: df counts are
    * per-shingle-identity, the PPJoin rarity order (df, sh) stays a
    * consistent global total order under hashing (ties among equal-df
    * shingles break differently, which can only perturb WHICH
    * candidates the prefix filter emits — the exact verify keeps the
    * verified output identical), and the verify counts hash identity
    * (the collision bound is at [[verifyPairs]]). The arrays are SORTED:
    * the verify's two-pointer merge count
    * ([[graft.functions.SortedIntersectExpr]]) needs sorted operands, and
    * one row-local sort here buys an allocation- and hash-free walk per
    * CANDIDATE.
    */
  private[graft] def ensureShingleSets(spark: SparkSession, c: Corpus): String =
    graft.util.Scratch.memoizedDir(spark,
      "graft_shinglesets_" + graft.util.Scratch.valueToken(c.dir), c.sig) { path =>
      // the empty sets are dropped AFTER the merge: a filter on the
      // per-row sets would be pushed below their projection and re-run
      // the tokenizer or the shingling in the filter
      c.docs
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .select(col("doc_id"), transform(
          array_distinct(shinglesOfTokens(col("ts"), 3)), s => xxhash64(s)).as("hs"))
        .groupBy("doc_id").agg(sort_array(flatten(collect_list(col("hs")))).as("hs"))
        .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n_sh"))
        .where(col("n_sh") > 0)
        .write.mode("overwrite").parquet(path)
    }

  private[graft] def shingleSets(spark: SparkSession, c: Corpus): DataFrame =
    readArtifact(spark, ensureShingleSets(spark, c), Seq("doc_id"),
        StructField("hs", ArrayType(LongType)), StructField("n_sh", LongType))
      .withColumn("hs", graft.functions.SortedIntersectExpr.nullFreeElements(col("hs")))

  /** Exact-verify candidate pairs against packed shingle sets
    * ([[ensureShingleSets]] rows): |A∩B| per pair, Jaccard from
    * |A|+|B|−|A∩B|, keep ≥ threshold. Shared by the exact
    * (prefix-filtered) and MinHash-LSH paths — both are therefore
    * false-positive-free. Requires threshold > 0 (a 0-overlap pair is
    * dropped by the inner joins, which a zero threshold would keep).
    *
    * PHYSICAL SHAPE — packed-set intersection, not an inverted-index
    * join: the older implementation joined the shingle relation onto
    * both endpoints of every candidate (sa.doc_id = doc_a, then
    * sb.doc_id = doc_b ∧ sa.sh = sb.sh), which explodes each candidate
    * into |A| shuffled rows before the match even happens — measured
    * 50 s for 2M candidates at the 20× smoke, 17.7× the base cost,
    * because Σ_cand |A| rows (~120M) ride two exchanges and a
    * re-aggregation. With each doc's set packed ONCE into an int64-hash
    * array, verification is two compact hash joins (candidate rows
    * against a |docs|-sized relation) plus a ROW-LOCAL intersect count —
    * same 2M candidates in 10.8 s, and per-candidate cost is independent
    * of how many OTHER candidates share the endpoint. This is how every
    * production set-similarity join implements its verify step (the
    * record layout of PPJoin's verification, Xiao et al. WWW'08 §5).
    *
    * Exactness: intersect counts run over xxhash64 of the shingle, so a
    * 64-bit collision could in principle perturb a count. The bound is
    * |A|·|B|/2⁶⁴ per pair (~10⁻¹⁵ for 10⁴-shingle docs) and n²/2⁶⁴
    * within a doc (~10⁻⁵⁷) — far below the corpus-scale flip
    * probability of a cosmic-ray bit error; the declared-query oracles
    * compare against string-exact Jaccard and stay green.
    */
  private[graft] def verifyPairs(packed: DataFrame, cand: DataFrame,
                                 threshold: Double, sorted: Boolean = true): DataFrame = {
    val verified = withOverlap(packed, cand)
      .withColumn("jaccard", round(
        col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    // consumers that only need the pair SET (the cluster build) skip the
    // presentation sort — a wasted exchange before an order-free write
    if (sorted) verified.orderBy("doc_a", "doc_b") else verified
  }

  /** `cand` with both endpoints' packed sets (ha, na, hb, nb) and their
    * overlap |A∩B| as `n_inter`: two candidate-sized joins against the
    * |docs|-sized packed relation and a row-local merge count.
    */
  private def withOverlap(packed: DataFrame, cand: DataFrame): DataFrame =
    cand.join(packed.toDF("doc_a", "ha", "na"), "doc_a")
      .join(packed.toDF("doc_b", "hb", "nb"), "doc_b")
      .withColumn("n_inter", graft.functions.SortedIntersectExpr
        .sortedIntersectCount(col("ha"), col("hb")))

  /** Exact all-pairs n-gram Jaccard ≥ threshold via PPJoin-style prefix
    * filtering (Bayardo et al. WWW'07, Xiao et al. WWW'08):
    *
    * order each doc's shingles by ascending global frequency and keep only
    * the first |d| − ⌈t·|d|⌉ + 1 (any pair with J ≥ t MUST share a prefix
    * shingle); join prefixes instead of full sets, apply the length filter
    * t·max(|A|,|B|) ≤ min(|A|,|B|), then exact-verify. Against a naive
    * inverted-index self-join this removes the quadratic blowup on
    * frequent shingles — the difference between O(candidates) and
    * O(Σ df²) work at corpus scale.
    */
  def ngramJaccardPairs(spark: SparkSession, sfDir: String,
                        threshold: Double): DataFrame =
    readArtifact(spark, ensureJaccardPairs(spark, sfDir, threshold),
        Seq("doc_a", "doc_b"), StructField("jaccard", DoubleType))
      .orderBy("doc_a", "doc_b")

  private def jaccardMemoKey(c: Corpus, threshold: Double, kind: String): String =
    s"graft_${kind}_" + graft.util.Scratch.valueToken(c.dir) +
      "_" + graft.util.Scratch.valueToken(threshold.toString)

  /** Materialize the verified pair relation once per (corpus state,
    * threshold) — the declared all-pairs query's artifact. Routed like
    * [[minhashLshPairs]]: on a dup-heavy corpus (measured off the
    * [[ensureDupGroups]] map) the PPJoin candidates and the exact verify
    * run over shingle-set REPRESENTATIVES only, and member pairs are
    * expanded back at the end — identical output (spec-pinned), minus
    * the per-clique quadratic verify work.
    */
  private[graft] def ensureJaccardPairs(spark: SparkSession, sfDir: String,
                                        threshold: Double): String =
    ensureJaccardPairs(spark, corpus(spark, sfDir), threshold)

  private def ensureJaccardPairs(spark: SparkSession, c: Corpus,
                                 threshold: Double): String =
    graft.util.Scratch.memoizedDir(spark,
        jaccardMemoKey(c, threshold, "jacpairs"), c.sig) { path =>
      jaccardPairsPlan(spark, c, threshold,
          collapse = dupPairsCount(spark, c) >= CollapseMinPairs, sorted = false)
        .write.mode("overwrite").parquet(path)
    }

  /** (doc_id, n_sh, sh) rows of packed shingle sets: one per shingle hash. */
  private def exploded(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), col("n_sh"), explode(col("hs")).as("sh"))

  /** Each doc's rarity PREFIX (doc_id, sh, n_sh, rn): its first
    * n_sh − ⌈t·n_sh⌉ + 1 shingles in ascending global (df, sh) order. A
    * doc's set size `n_sh` rides its packed row, so the prefix takes ONE
    * window, a row_number over the doc's shingles.
    */
  private def rarityPrefix(sh: DataFrame, threshold: Double): DataFrame = {
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(freq, "sh")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("rn") <= col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1)
      .select("doc_id", "sh", "n_sh", "rn")
  }

  /** PPJoin prefix+positional candidate pairs (doc_a < doc_b) over packed
    * shingle sets — the shared candidate generator under the pair build
    * and the incremental label build.
    */
  private def ppjoinCandidates(sets: DataFrame, threshold: Double): DataFrame = {
    val prefix = rarityPrefix(exploded(sets), threshold)
    // PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2) on top of the
    // prefix join: J ≥ t needs overlap ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉, and a
    // match at rarity positions (rnA, rnB) bounds the achievable overlap
    // by 1 + min(|A|−rnA, |B|−rnB) (shared shingles appear in the same
    // global (df, sh) order on both sides, so everything before the
    // match positions is disjoint). Keeping a pair only when its BEST
    // match position clears α cuts candidates ~3.4× on this corpus —
    // and the expensive exact-verify join shrinks with them. The verify
    // step keeps raw j ≥ t − 5e-7 (its Jaccard rounds to 6dp before the
    // compare), so the bound must be derived from the RELAXED threshold
    // — a constant slack would be outgrown by (|A|+|B|) on multi-
    // million-shingle documents; the 1e-9 absorbs double noise in the
    // product itself.
    val tEff = threshold - 5e-7
    val alpha = ceil(lit(tEff / (1 + tEff)) *
      (col("na") + col("nb")) - lit(1e-9))
    prefix.as("x").join(prefix.as("y"), "sh")
      .where(col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n_sh"), col("y.n_sh")) >=
          lit(threshold) * greatest(col("x.n_sh"), col("y.n_sh")))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .agg(max(lit(1) +
        least(col("x.n_sh") - col("x.rn"), col("y.n_sh") - col("y.rn")))
        .as("ub"))
      .where(col("ub") >= alpha)
      .select("doc_a", "doc_b")
  }

  // candidate rows per candidate-artifact generation, counted by the
  // artifact's own write
  private val candidateCounts = scala.collection.concurrent.TrieMap[String, Long]()

  /** Materialize the PPJoin candidate relation once per (corpus state,
    * threshold, route): the pair build consumes it once (verify), but
    * the incremental label build re-reads it every round (active-set
    * filtering), and when BOTH artifacts are built in one process the
    * second build reuses the first's candidates instead of re-running
    * the prefix self-join. Route is part of the key: the collapsed
    * route's candidates range over shingle-set representatives only.
    */
  private[graft] def ensureJaccardCandidates(spark: SparkSession, c: Corpus,
                                             threshold: Double, overReps: Boolean): String =
    graft.util.Scratch.memoizedDir(spark, jaccardMemoKey(c, threshold,
        if (overReps) "jaccand_reps" else "jaccand_all"), c.sig) { path =>
      candidateCounts(path) = writeObserved(
        ppjoinCandidates(jaccardShingleSide(spark, c, overReps), threshold),
        path, count(lit(1)))
    }

  /** The packed shingle sets a route verifies against: the full corpus,
    * or (collapsed route) shingle-set representatives only.
    */
  private[graft] def jaccardShingleSide(spark: SparkSession, c: Corpus,
                                        overReps: Boolean): DataFrame = {
    val sets = shingleSets(spark, c)
    if (!overReps) sets
    else sets.join(dupGroups(spark, c)
      .where(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
  }

  /** The full verified pair plan for one route. Both routes are exact
    * and output-identical (spec-pinned): signatures of the collapse
    * argument are in [[minhashLshPairs]]'s header — Jaccard is a
    * function of the shingle SET, so every member pair of an
    * identical-set group has J = 1 and every cross-group member pair's
    * J equals its representatives' J.
    */
  private[graft] def jaccardPairsPlan(spark: SparkSession, sfDir: String,
                                      threshold: Double, collapse: Boolean,
                                      sorted: Boolean = true): DataFrame =
    jaccardPairsPlan(spark, corpus(spark, sfDir), threshold, collapse, sorted)

  private def jaccardPairsPlan(spark: SparkSession, c: Corpus, threshold: Double,
                               collapse: Boolean, sorted: Boolean): DataFrame = {
    val sets = jaccardShingleSide(spark, c, collapse)
    val cand = readArtifact(spark,
      ensureJaccardCandidates(spark, c, threshold, collapse), Seq("doc_a", "doc_b"))
    if (!collapse) return verifyPairs(sets, cand, threshold, sorted)
    val all = memberPairs(dupGroups(spark, c),
      verifyPairs(sets, cand, threshold, sorted = false), 256)
    if (sorted) all.orderBy("doc_a", "doc_b") else all
  }

  /** Member pairs of verified representative pairs, by the identical-set
    * group map: Θ(output). The member-map joins re-derive pair
    * orientation (members of distinct groups interleave in id order),
    * and within-group pairs are emitted at J = 1.0 via the capped
    * group-pair primitive ([[groupedPairs]]) — never an unguarded
    * self-join.
    */
  private def memberPairs(members: DataFrame, repPairs: DataFrame,
                          cap: Int): DataFrame = {
    val ma = members.select(col("rep").as("doc_a"), col("doc_id").as("a"))
    val mb = members.select(col("rep").as("doc_b"), col("doc_id").as("b"))
    val cross = repPairs.join(ma, "doc_a").join(mb, "doc_b")
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("jaccard"))
    cross.unionAll(groupedPairs(members, Seq("rep"), "doc_id", cap)
      .withColumn("jaccard", lit(1.0)))
  }

  /** CONTAINMENT pairs — the asymmetric complement of [[ngramJaccardPairs]]:
    * C(A,B) = |A∩B| / |A| ≥ t finds docs whose content is SUBSUMED by
    * another (quotes, excerpts, copies with added boilerplate), which
    * symmetric Jaccard misses whenever |B| ≫ |A|. Same prefix-filter
    * discipline, adapted to the asymmetric measure: if C(A,B) ≥ t then B
    * misses at most ⌊(1−t)·|A|⌋ of A's shingles, so among the first
    * |A| − ⌈t·|A|⌉ + 1 rarity-ordered shingles of A at least one is in B —
    * A's PREFIX joins against the FULL shingle index (the contained side
    * prunes, the containing side can be any size; a candidate also needs
    * |B| ≥ t·|A|). Rarity ordering keeps candidate fan-out at
    * Σ_prefix df over RARE shingles; exact verify keeps precision 1.0.
    * Output is directed: (doc_a contained-in doc_b); mutual near-identity
    * yields both orientations.
    */
  def containmentPairs(spark: SparkSession, sfDir: String,
                       threshold: Double): DataFrame = {
    val packed = shingleSets(spark, corpus(spark, sfDir))
    val sh = exploded(packed)
    val cand = rarityPrefix(sh, threshold).as("x")
      .join(sh.as("y"), col("x.sh") === col("y.sh") &&
        col("x.doc_id") =!= col("y.doc_id") &&
        col("y.n_sh") >= lit(threshold) * col("x.n_sh"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // VERIFY via packed-set intersection — the same physical upgrade the
    // Jaccard path took ([[verifyPairs]]'s header has the full argument,
    // including the 64-bit-collision exactness bound): the old
    // inverted-index verify joined the shingle relation onto BOTH
    // endpoints of every candidate, exploding each candidate into |A|
    // shuffled rows and re-aggregating — Σ_cand |A| rows across two
    // exchanges. Against the packed sets ([[ensureShingleSets]]) it is
    // [[withOverlap]]'s two candidate-sized hash joins plus a ROW-LOCAL
    // intersect count; |A∩B|/|A| is computed from the same counts.
    withOverlap(packed, cand)
      .withColumn("containment", round(col("n_inter").cast("double") / col("na"), 6))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** q_decontaminate: EVAL-SET DECONTAMINATION — the n-gram overlap
    * check every LLM pipeline runs before training (the GPT-3 appendix-C
    * / Llama procedure): a training document is CONTAMINATED when it
    * covers at least `tau` of some benchmark document's distinct
    * n-grams, because a near-copy of an eval item inside the training
    * set silently inflates the benchmark. The "benchmark" here is the
    * deterministic ~1% slice doc_id ≡ 3 (mod 97) (a stand-in both
    * engines can name in SQL); training side = everything else.
    *
    * Shape: directed containment ([[containmentPairs]]' measure) with
    * the BENCHMARK as the contained side — the decisive scale asymmetry:
    * a production eval set is fixed-size (KBs–MBs however big the
    * corpus), so its shingle relation broadcasts and the check is ONE
    * pass over the training shingles, never a corpus self-join. The
    * test slice here is a corpus FRACTION though, so the broadcast is
    * MEASURED ([[JoinPlanner.measuredSide]]), not forced: a bench side
    * that outgrows the threshold takes a shuffle join on sh instead of
    * OOMing executors — the same guard as the model-grid scoring joins.
    * Output is one row per contaminated (train, bench) pair with the
    * overlap share — what a pipeline quarantines or reports before the
    * tokenizer runs.
    */
  def decontaminate(spark: SparkSession, sfDir: String,
                    tau: Double = 0.5): DataFrame = {
    val sh = shingleIndex(spark, sfDir)
    val isBench = col("doc_id") % 97 === 3
    val bench = sh.where(isBench)
      .select(col("doc_id").as("bench_id"), col("sh"))
    val benchSizes = bench.groupBy("bench_id")
      .agg(count(lit(1)).as("n_bench_sh"))
    sh.where(!isBench)
      .join(JoinPlanner.measuredSide(bench), "sh")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(JoinPlanner.measuredSide(benchSizes), "bench_id")
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("n_bench_sh"), 6))
      .filter(col("containment") >= tau)
      .select("doc_id", "bench_id", "n_shared", "n_bench_sh", "containment")
      .orderBy("doc_id", "bench_id")
  }

  // MinHash parameters: k independent permutations h_j(x) = (a_j·x + b_j) mod p
  // over murmur3 shingle hashes; seeded so signatures are reproducible.
  private val MinhashP = 2147483647L // 2^31 − 1 (Mersenne prime)
  private val NumHashes = 64
  private val NumBands = 16 // 16 bands × 4 rows: P(candidate | J=0.8) ≈ 0.9998
  private val RowsPerBand = NumHashes / NumBands
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumHashes)(1L + rnd.nextInt(Int.MaxValue - 1)),
     Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Signatures of an arbitrary (doc_id, sh) relation — a doc's signature
    * depends only on its OWN shingles, so signatures of a filtered slice
    * equal the full-corpus signatures of those docs (what makes the
    * incremental path below exact).
    */
  private def signaturesOf(sh: DataFrame): DataFrame = {
    val h = sh.withColumn("h", (hash(col("sh")).cast("long") + lit(1L << 31)))
    val mins = (0 until NumHashes).map { j =>
      min((lit(hashA(j)) * col("h") + lit(hashB(j))) % MinhashP).as(s"m$j")
    }
    h.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Band-hash relation (doc_id, band_idx, band_hash) of a signature frame. */
  private def bandedOf(sig: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { bi =>
      hash(lit(bi) +: (bi * RowsPerBand until (bi + 1) * RowsPerBand)
        .map(j => col(s"m$j")): _*).as(s"b$bi")
    }
    sig.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"),
        posexplode(array((0 until NumBands).map(bi => col(s"b$bi")): _*)))
      .toDF("doc_id", "band_idx", "band_hash")
  }

  /** All within-group ordered (doc_a < doc_b) pairs of `idCol`, grouped by
    * `keyCols` — the guarded pair-emission primitive behind the LSH bucket
    * join and the identical-set group expansion. Two regimes:
    *
    *  - groups ≤ `cap`: ROW-LOCAL emission from the group's sorted member
    *    array (the [[Graph.triangleCounts]] adjacency trick) — one shuffle
    *    to group, no join, `a < b` built in by the sort.
    *  - groups > `cap`: the pairs are still genuine output (B members must
    *    produce B·(B−1)/2 candidates), but neither a giant collected array
    *    (one task emits the whole B² and the collect risks task OOM) nor a
    *    naive bucket self-join (one SMJ partition owns the hot key) is
    *    acceptable — oversized groups go through a SALTED self-join (the
    *    [[Skew.saltedJoin]] shape): probe rows hash-salted into 16
    *    sub-keys, build side replicated 16×, so the quadratic work of a
    *    heavy group spreads over 16 partitions instead of one.
    *
    * Output is identical across regimes (spec-pinned with a forced tiny
    * cap); only the physical routing differs.
    */
  private[graft] def groupedPairs(df: DataFrame, keyCols: Seq[String],
                                  idCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    val annotated = df.select(keyCols.map(col) :+ col(idCol).as("__id"): _*)
      .withColumn("__gsz", count(lit(1)).over(w))
      .where(col("__gsz") >= 2) // singleton groups pair nothing
    val small = annotated.where(col("__gsz") <= cap)
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("__id"))).as("__ms"))
      .select(col("__ms"), posexplode(col("__ms")))
      .select(col("col").as("doc_a"),
        // element at 0-based pos pairs with every LATER element of the
        // sorted member array: slice is 1-based, start pos+2, length
        // n−pos−1 (0 at the last element → empty array → explode drops)
        explode(slice(col("__ms"), col("pos") + lit(2),
          size(col("__ms")) - col("pos") - lit(1))).as("doc_b"))
    val salts = 16
    val big = annotated.where(col("__gsz") > cap)
    val probe = big.withColumn("__salt", pmod(xxhash64(col("__id")), lit(salts)))
    val build = big.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    val bigPairs = probe.as("p").join(build.as("b"),
        keyCols.map(k => col(s"p.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("p.__salt") === col("b.__salt") && col("p.__id") < col("b.__id"))
      .select(col("p.__id").as("doc_a"), col("b.__id").as("doc_b"))
    small.unionAll(bigPairs)
  }

  // Σ gsz·(gsz−1)/2 over the identical-set groups per dup-groups
  // artifact GENERATION, summed by the artifact's own write (the path
  // embeds the corpus listing signature, so a mutated corpus lands on a
  // fresh key)
  private val dupPairsByPath = scala.collection.concurrent.TrieMap[String, Long]()

  /** The identical-set GROUP MAP (doc_id, rep, gsz) MATERIALIZED once per
    * corpus state — the collapse artifact behind [[minhashLshPairs]]'
    * dup-heavy guard. Docs group by a sha-256 digest of their packed
    * shingle-hash set ([[ensureShingleSets]]): equal digests mean equal
    * shingle sets, hence identical MinHash signatures, pairwise Jaccard
    * exactly 1, and identical Jaccard against every third document.
    * `rep` is the group's min doc_id and `gsz` its size; only docs with
    * shingles get a row (a shingle-less doc can never pair — same as the
    * un-collapsed path). The map is threshold-independent, so one build
    * serves every LSH threshold, every bench pass, and an incremental
    * batch run; its write also sums the same-set pairs the collapse
    * removes ([[dupPairsCount]]).
    */
  private[graft] def ensureDupGroups(spark: SparkSession, c: Corpus): String =
    graft.util.Scratch.memoizedDir(spark,
      "graft_dupgroups_" + graft.util.Scratch.valueToken(c.dir), c.sig) { path =>
      val byFp = Window.partitionBy(col("fp"))
      // Σ over rows of (gsz − 1) = Σ over groups of gsz·(gsz − 1)
      dupPairsByPath(path) = writeObserved(
        shingleSets(spark, c)
          .select(col("doc_id"), sha2(col("hs").cast("string"), 256).as("fp"))
          .select(col("doc_id"), min(col("doc_id")).over(byFp).as("rep"),
            count(lit(1)).over(byFp).as("gsz")),
        path, coalesce(sum(col("gsz") - 1), lit(0L))) / 2
    }

  private def dupGroups(spark: SparkSession, c: Corpus): DataFrame =
    readArtifact(spark, ensureDupGroups(spark, c), Seq("doc_id", "rep"),
      StructField("gsz", LongType))

  /** Default routing threshold for the identical-set collapse — shared
    * by [[minhashLshPairs]], the Jaccard pair build, and the incremental
    * label build.
    */
  private[graft] val CollapseMinPairs = 10000L

  /** How many same-shingle-set pairs the identical-set collapse would
    * remove from candidate generation + exact verification — the
    * MEASURED quantity every collapse-routing decision (the Jaccard pair
    * build, the incremental label build, [[minhashLshPairs]]) branches
    * on. What the collapse saves is these Σ gsz·(gsz−1)/2 pairs, and
    * what it costs is a fixed handful of serve-side stages (the rep
    * restriction and the member-expansion joins). The sum rides the
    * group map's own write, so a routing decision costs no Spark job.
    */
  private[graft] def dupPairsCount(spark: SparkSession, c: Corpus): Long =
    dupPairsByPath(ensureDupGroups(spark, c))

  /** MinHash + LSH near-dup pairs: band the signatures, bucket-join, then
    * verify candidates with EXACT Jaccard (so no false positives; false
    * negatives bounded by the banding probability). Same output schema as
    * [[ngramJaccardPairs]].
    *
    * GUARDED against duplication-heavy corpora — the NORMAL case for a
    * crawl, where naive banding is quadratic in the duplicate-group size
    * (B copies of one page share every band bucket → B²/2 candidate rows
    * per band, then B²/2 exact verifications):
    *
    *  1. IDENTICAL-SET COLLAPSE: docs are grouped by their shingle-set
    *     digest (materialized once per corpus state as the
    *     [[ensureDupGroups]] map); only one REPRESENTATIVE
    *     per group (min doc_id) is signed, banded, bucket-joined, and
    *     exact-verified. Signatures and Jaccard are functions of the
    *     shingle set alone, so this changes NOTHING semantically: a
    *     member pair collides in a band iff its rep pair does, within-
    *     group pairs always collide (equal signatures) and have J = 1
    *     exactly, and a cross-group member pair's Jaccard equals its rep
    *     pair's. Verification cost drops from O(member pairs) to O(rep
    *     pairs) — the whole quadratic factor.
    *  2. BUCKET-SIZE-CAPPED PAIR EMISSION ([[groupedPairs]]): band
    *     buckets of near-identical-but-not-identical docs emit their
    *     pairs row-locally from a sorted member array when small, and
    *     through a salted self-join when oversized — never through an
    *     unguarded hot-key bucket join.
    *
    * Verified rep pairs are expanded back to member pairs (Θ(output))
    * and within-group pairs are emitted at J = 1.0 directly — output is
    * IDENTICAL to the unguarded plan (spec-pinned), including against
    * the exact all-pairs oracle.
    */
  def minhashLshPairs(spark: SparkSession, sfDir: String,
                      threshold: Double, bucketCap: Int = 256,
                      collapseMinPairs: Long = 10000L): DataFrame = {
    val sh = shingleIndex(spark, sfDir)
    val c = corpus(spark, sfDir)
    val members = dupGroups(spark, c)
    // MEASURED routing (the [[JoinPlanner.measuredSide]] discipline):
    // what the collapse saves is the Σ gsz·(gsz−1)/2 same-set pairs it
    // removes from banding + exact verify, and what it costs is a fixed
    // handful of serve-side stages (the rep restriction and the two
    // member-expansion joins — ~2 s at bench scale). A handful of
    // duplicate pages (the sf0.1 corpus has 8) saves nothing, while a
    // dup-heavy crawl saves quadratically — so branch on the memoized
    // group-size sum ([[dupPairsCount]]) and take the DIRECT plan below
    // `collapseMinPairs`. Both branches keep the capped bucket emission;
    // output is branch-invariant (spec-pinned: the dup-heavy fixture
    // runs both routes against brute force).
    val collapse = dupPairsCount(spark, c) >= collapseMinPairs
    val signed = if (!collapse) sh else sh.join(
      members.where(col("doc_id") === col("rep")).select("doc_id"), "doc_id")
    val cand = groupedPairs(bandedOf(signaturesOf(signed)),
        Seq("band_idx", "band_hash"), "doc_id", bucketCap)
      .distinct().select(col("doc_a"), col("doc_b"))
    val pairs = verifyPairs(jaccardShingleSide(spark, c, collapse), cand,
      threshold, sorted = false)
    (if (collapse) memberPairs(members, pairs, bucketCap) else pairs)
      .orderBy("doc_a", "doc_b")
  }

  /** INCREMENTAL near-dup: dedup an arriving batch against the existing
    * corpus — the operation a production pipeline actually runs per crawl
    * snapshot. Re-pairing the whole corpus per batch (what
    * [[minhashLshPairs]] would do) is O(corpus) every day; this path is
    * O(batch + matches): the existing corpus contributes only its
    * band-hash relation (in production a stored table maintained
    * append-only — signatures never change once written, see
    * [[signaturesOf]]'s slice-equals-full argument), the new batch's bands
    * are batch-sized, and the bucket join touches only colliding buckets.
    * Candidates are verified with EXACT Jaccard against the packed sets,
    * so output precision is 1.0 and the only approximation is banding
    * recall (16×4 bands: P[miss | J=0.8] ≈ 2·10⁻⁴; the spec asserts
    * equality with the exact batch×corpus join at test scale).
    *
    * The batch is the deterministic 10% slice doc_id ≡ 7 (mod 10) — a
    * stand-in for "today's crawl" that both engines can name in SQL.
    * Output: one row per new doc that near-duplicates an existing doc —
    * its best match (highest Jaccard, ties to the smallest doc_id) and how
    * many existing docs it collided with; downstream curation drops these
    * doc_ids before appending the batch.
    */
  def incrementalNeardup(spark: SparkSession, sfDir: String,
                         threshold: Double): DataFrame = {
    val sh = shingleIndex(spark, sfDir)
    val isNew = col("doc_id") % 10 === 7
    val bandsOld = bandedOf(signaturesOf(sh.where(!isNew)))
    val bandsNew = bandedOf(signaturesOf(sh.where(isNew)))
    // Bucket-join guard review (the [[minhashLshPairs]] dup-heavy
    // concern): this join is BIPARTITE — batch bands × corpus bands — so
    // a hot bucket costs |batch∩bucket|·|corpus∩bucket|, bounded by the
    // batch's presence in the bucket, not the corpus'; and the output is
    // consumed as a per-new-doc BEST MATCH, so candidate fan-out is
    // capped by the batch size on the reduce side too. The symmetric-
    // self-join blowup the identical-set collapse guards against cannot
    // arise here. AQE's skew split covers a hot corpus bucket; if a
    // production batch were itself dup-heavy, collapse the BATCH side by
    // shingle-set fingerprint first (same argument as the main path).
    val cand = bandsNew.as("x").join(bandsOld.as("y"), Seq("band_idx", "band_hash"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val matches = verifyPairs(shingleSets(spark, corpus(spark, sfDir)), cand, threshold)
    val byNewDoc = Window.partitionBy(col("doc_a"))
    matches
      .withColumn("n_matches", count(lit(1)).over(byNewDoc))
      .withColumn("rn", row_number().over(
        byNewDoc.orderBy(col("jaccard").desc, col("doc_b"))))
      .filter(col("rn") === 1)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"),
        col("jaccard"), col("n_matches"))
      .orderBy("doc_id")
  }

  /** 64-bit SimHash signatures over tf-weighted token hashes.
    * bit_i(sig) = sign of Σ_tokens tf · (±1 per hash bit) — one shuffle.
    * The token hash is the shared two-modulus polynomial fold
    * ([[graft.functions.HashFunctions.polyFold64]], native codegen'd
    * expression), exact Int64 both engines reproduce — unlike xxhash64,
    * which only Spark implements.
    */
  def simhashSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Indexer.postings(spark, sfDir)
      .withColumn("h", graft.functions.HashFunctions.polyFold64(col("term")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"s$i")
    }
    val agg = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), sig.as("simhash")).orderBy("doc_id")
  }

  /** SimHash near-dup pairs with GUARANTEED recall: split the 64 bits into
    * maxDist+1 chunks (Manku et al., WWW'07) — any pair within Hamming
    * distance maxDist must agree on ≥1 chunk by pigeonhole — then verify
    * candidates by exact Hamming distance via bit_count(xor).
    */
  def simhashPairs(spark: SparkSession, sfDir: String, maxDist: Int): DataFrame = {
    val nChunks = maxDist + 1
    val bounds = (0 to nChunks).map(i => i * 64 / nChunks)
    val sig = simhashSignatures(spark, sfDir)
    val chunks = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until nChunks).map { c =>
          val width = bounds(c + 1) - bounds(c)
          val mask = if (width == 64) -1L else (1L << width) - 1
          shiftright(col("simhash"), bounds(c)).bitwiseAND(mask)
        }: _*)))
      .toDF("doc_id", "simhash", "chunk_idx", "chunk")
    chunks.as("x").join(chunks.as("y"), Seq("chunk_idx", "chunk"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .orderBy("doc_a", "doc_b")
  }

  /** Duplicate CLUSTERS: connected components over the exact near-dup pair
    * graph, labeling every clustered doc with the min doc_id of its
    * component — the canonical post-LSH step of a real dedup pipeline
    * (pairs alone can't pick keepers once duplicates chain A~B~C).
    *
    * Spark-first iterative min-label propagation: labels(v) starts at v;
    * each round takes the min over v's neighborhood; a fixpoint is a valid
    * component labeling. The loop is a DRIVER loop over DataFrame ops —
    * the same shape GraphX/GraphFrames use — with a per-round checkpoint
    * to truncate lineage: `localCheckpoint` by default, or RELIABLE
    * `checkpoint` into `spark.graft.checkpointDir` when set (a cluster
    * deployment points it at shared storage so an executor loss mid-loop
    * costs one round, not the whole propagation). Scale posture: the graph is the DEDUP OUTPUT (pairs ≪
    * corpus), every round is one shuffle of that small edge set, and
    * rounds ≤ component diameter (near-dup clusters are shallow; the cap
    * of 50 covers a 2^50-vertex path in the small-star worst case).
    */
  def dupClusters(spark: SparkSession, sfDir: String,
                  threshold: Double): DataFrame =
    clusterLabels(spark, corpus(spark, sfDir), threshold).orderBy("doc_id")

  /** The materialized (doc_id, cluster_id, cluster_size) labels of one
    * corpus scan ([[ensureClusters]]), read with their schema declared.
    */
  private[graft] def clusterLabels(spark: SparkSession, c: Corpus,
                                   threshold: Double): DataFrame =
    readArtifact(spark, ensureClusters(spark, c, threshold),
      Seq("doc_id", "cluster_id"), StructField("cluster_size", LongType))

  /** Route taken by the last [[ensureClusters]] build (spec
    * observability): "pairs" (derived from an already-materialized pair
    * relation), "incremental" or "incremental-collapsed" (the
    * union-find build).
    */
  private[graft] val lastLabelRoute =
    new java.util.concurrent.atomic.AtomicReference[String]("")

  /** Work accounting of the last [[jaccardLabelsPlan]] run: candidate
    * pairs in, pairs exact-verified by the sparse rounds, pairs left
    * for the bulk pass, sparse rounds run, and the route: "bail" when a
    * round's selection covered more than half of the active candidates
    * and the build went straight to the bulk verify, else "sparse".
    * `candidates − sparse − bulk` = verifications SKIPPED because both
    * endpoints were already in one component — the per-clique quadratic
    * the incremental build removes.
    */
  private[graft] final case class LabelBuildStats(rounds: Int,
      candidates: Long, verifiedSparse: Long, verifiedBulk: Long,
      route: String) {
    def skipped: Long = candidates - verifiedSparse - verifiedBulk
  }
  private[graft] val lastLabelStats =
    new java.util.concurrent.atomic.AtomicReference[LabelBuildStats](
      LabelBuildStats(0, 0L, 0L, 0L, ""))

  /** Cluster labels MATERIALIZED once per (corpus state, threshold) —
    * like [[shingleIndex]]: the labeling is consumed by dup-cluster
    * reporting AND by corpus curation ([[Curate.curateCorpus]]), and the
    * PPJoin + propagation that produces it is the most expensive plan in
    * the suite; every consumer after the first reads a 3-column parquet.
    * Keyed on the corpus listing signature so a mutated corpus relabels
    * instead of serving stale clusters.
    */
  private[graft] def ensureClusters(spark: SparkSession, sfDir: String,
                                    threshold: Double): String =
    ensureClusters(spark, corpus(spark, sfDir), threshold)

  private[graft] def ensureClusters(spark: SparkSession, c: Corpus,
                                    threshold: Double): String =
    graft.util.Scratch.memoizedDir(spark,
        jaccardMemoKey(c, threshold, "dupclusters"), c.sig) { path =>
      // Derive-from-the-cheaper-source routing: when the verified pair
      // relation for this exact (corpus state, threshold) is ALREADY
      // materialized (the declared pair query ran first — the bench's
      // build order), labels are one CC pass over that pair-table-sized
      // relation, free of any re-verification. When it is not — the
      // label-only consumer a dup-heavy curation pipeline actually runs,
      // where the pair build's per-clique quadratic verify is exactly
      // what must NOT run — the incremental union-find build below
      // produces identical labels from banded candidates, verifying
      // only pairs whose endpoints are not yet in one component.
      val pairsName = jaccardMemoKey(c, threshold, "jacpairs")
      val labels =
        if (graft.util.Scratch.isMemoized(spark, pairsName, c.sig)) {
          lastLabelRoute.set("pairs")
          dupClustersFromPairs(spark,
            readArtifact(spark, ensureJaccardPairs(spark, c, threshold),
              Seq("doc_a", "doc_b")),
            // same measured small-graph bound as the image/audio cluster
            // paths: a J≥0.8 near-dup graph is the dedup OUTPUT (pairs ≪
            // corpus) — under 100k symmetric edges the driver union-find
            // replaces O(log d) checkpointed Spark rounds of pure
            // job-setup and checkpoint IO (DedupSpec pins label identity
            // across both paths and the over-threshold negative)
            localEdgeThreshold = 100000L)
        } else {
          val collapse = dupPairsCount(spark, c) >= CollapseMinPairs
          lastLabelRoute.set(
            if (collapse) "incremental-collapsed" else "incremental")
          jaccardLabelsPlan(spark, c, threshold, collapse)
        }
      labels.write.mode("overwrite").parquet(path)
    }

  /** INCREMENTAL UNION-FIND label build — duplicate-cluster labels
    * WITHOUT materializing the quadratic pair relation (the r17 verdict
    * item): a clique of B near-identical documents (boilerplate +
    * noise, the dominant dup mass of a real crawl) has ~B²/2 genuine
    * J ≥ t pairs, but its cluster labeling needs only a spanning
    * subset. The build verifies candidates in ROUNDS:
    *
    *  1. SPARSE round: of the surviving candidates, select only each
    *     doc's minimum partner per orientation (≤ 2 pairs per doc —
    *     the path∪star spanning selection: a true-dense candidate
    *     subgraph merges into one component in a single round).
    *  2. Verify the selection, union verified pairs into component
    *     labels ([[dupClustersFromPairs]] over the true edges so far)
    *     and DROP every remaining candidate whose endpoints now share a
    *     component — skipping a within-component edge can never change
    *     connected components, so the final labels are EXACTLY the
    *     labels of the full verified pair graph (spec-pinned against
    *     the pair-path labels on a dup-heavy fixture).
    *  3. Repeat while a round keeps collapsing the active set (< 50%
    *     survivors, ≤ 3 rounds), then BULK-verify whatever remains —
    *     cross-component candidates and verification failures. A round
    *     whose selection is already more than half of the active set
    *     has no clique mass to skip: it BAILS before step 2 (no
    *     selection verify, CC or anti-join re-scan) straight to the bulk
    *     verify. A corpus of near-dup pairs and triples bails in its
    *     first round; on a clique-heavy corpus the selection is ~2 pairs
    *     per doc against a quadratic candidate set, and the rounds run.
    *
    * On the collapsed route everything above runs over shingle-set
    * representatives; member expansion (including groups whose rep has
    * no cross-group pair — their members still cluster at J = 1) and
    * member-counted sizes restore the full labeling. Labels stay
    * min-doc_id per component under expansion because each group's
    * representative IS its minimum member.
    */
  private[graft] def jaccardLabelsPlan(spark: SparkSession, sfDir: String,
                                       threshold: Double,
                                       collapse: Boolean): DataFrame =
    jaccardLabelsPlan(spark, corpus(spark, sfDir), threshold, collapse)

  private def jaccardLabelsPlan(spark: SparkSession, c: Corpus, threshold: Double,
                                collapse: Boolean): DataFrame = {
    import spark.implicits._
    // a parquet artifact: every round's verify re-reads it
    val packed = jaccardShingleSide(spark, c, collapse)
    val candPath = ensureJaccardCandidates(spark, c, threshold, collapse)
    def counted(df: DataFrame): (DataFrame, Long) = {
      val obs = new org.apache.spark.sql.Observation()
      val out = roundCheckpoint(spark, df.observe(obs, count(lit(1)).as("n")))
      (out, obs.get.get("n") match {
        case Some(n: Number) => n.longValue(); case _ => 0L })
    }
    var active = readArtifact(spark, candPath, Seq("doc_a", "doc_b"))
    var activeCount = candidateCounts(candPath)
    val candTotal = activeCount
    var trueEdges: DataFrame =
      spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    var verifiedSparse = 0L
    var rounds = 0
    var route = "sparse"
    var keepSparse = activeCount > 0
    while (keepSparse) {
      rounds += 1
      val byA = active.groupBy("doc_a").agg(min("doc_b").as("doc_b"))
      val byB = active.groupBy("doc_b").agg(min("doc_a").as("doc_a"))
      val (selected, nSel) = counted(
        byA.select("doc_a", "doc_b")
          .unionAll(byB.select("doc_a", "doc_b")).distinct())
      if (2 * nSel > activeCount) {
        route = "bail"
        keepSparse = false
      } else {
        verifiedSparse += nSel
        trueEdges = roundCheckpoint(spark, trueEdges.unionAll(
          verifyPairs(packed, selected, threshold, sorted = false)
            .select("doc_a", "doc_b")))
        val labels = dupClustersFromPairs(spark, trueEdges,
            localEdgeThreshold = 100000L)
          .select(col("doc_id"), col("cluster_id"))
        val la = labels.toDF("doc_a", "ca")
        val lb = labels.toDF("doc_b", "cb")
        val (nextActive, nextCount) = counted(
          active.join(selected, Seq("doc_a", "doc_b"), "left_anti")
            .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
            .where(coalesce(col("ca"), col("doc_a")) =!=
              coalesce(col("cb"), col("doc_b")))
            .select("doc_a", "doc_b"))
        keepSparse = nextCount > 0 && nextCount < activeCount / 2 && rounds < 3
        active = nextActive
        activeCount = nextCount
      }
    }
    val verifiedBulk = activeCount
    lastLabelStats.set(
      LabelBuildStats(rounds, candTotal, verifiedSparse, verifiedBulk, route))
    val allEdges =
      if (verifiedBulk == 0) trueEdges
      else trueEdges.unionAll(
        verifyPairs(packed, active, threshold, sorted = false)
          .select("doc_a", "doc_b"))
    val cc = dupClustersFromPairs(spark, allEdges,
      localEdgeThreshold = 100000L)
    if (!collapse) cc
    else {
      val members = dupGroups(spark, c)
      val repCC = cc.select(col("doc_id").as("rep"), col("cluster_id"))
      // identical-set groups whose rep pairs with nothing else still
      // cluster among themselves (every member pair has J = 1)
      val lone = members.where(col("doc_id") === col("rep") && col("gsz") > 1)
        .join(repCC, Seq("rep"), "left_anti")
        .select(col("rep"), col("rep").as("cluster_id"))
      val memberLabels = repCC.unionByName(lone)
        .join(members.select("doc_id", "rep"), "rep")
        .select(col("doc_id"), col("cluster_id"))
      val sizes = memberLabels.groupBy("cluster_id")
        .agg(count(lit(1)).as("cluster_size"))
      memberLabels.join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
    }
  }

  /** Per-round lineage truncation for the CC loop — the shared
    * local-or-reliable policy ([[graft.util.Checkpoints.truncate]],
    * keyed on `spark.graft.checkpointDir`).
    */
  private def roundCheckpoint(spark: SparkSession, df: DataFrame): DataFrame =
    graft.util.Checkpoints.truncate(spark, df)

  /** Spec observability: rounds the last CC run took to converge. */
  private[graft] val lastCcRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Spec observability: whether the last CC run took the driver-local
    * small-graph path instead of the distributed loop.
    */
  private[graft] val lastCcLocal =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** `localEdgeThreshold`: when the MEASURED symmetric edge count is at
    * or below it, the components are solved by a driver-side union-find
    * on the collected (tiny) graph instead of L propagation rounds —
    * each round is a full Spark job whose cost on a few-hundred-edge
    * graph is pure job setup (the GraphFrames small-graph shortcut).
    * Labels are identical by construction: min member id per component
    * (spec-pinned against the distributed path). Default 0 = always
    * distributed; call sites opt in with the bound they can afford to
    * collect — the decision is made from the MEASURED count, so a
    * production-scale graph at the same call site still takes the loop.
    */
  private[graft] def dupClustersFromPairs(spark: SparkSession,
                                          pairs: DataFrame,
                                          localEdgeThreshold: Long = 0L): DataFrame = {
    val edgesPlan = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // The measured routing decision is a limit(threshold+1) PROBE that
    // doubles as the local path's input: ONE execution of the edge plan
    // both decides the route and, when the graph is within bound, hands
    // the local union-find its edges — the un-materialized banded-join
    // call sites (image/audio dup clusters) no longer run their candidate
    // join twice per invocation (count for routing + collect for solving).
    // When the probe overflows, its rows are discarded and only the
    // distributed loop re-executes the plan. Only the opted-in call sites
    // pay the probe at all; the default threshold 0 skips straight to the
    // distributed loop.
    // Branch on a LOCAL value; lastCcLocal only RECORDS it — two
    // concurrent calls interleaving set/get on the shared flag could
    // otherwise route an over-threshold graph to the driver collect.
    val probed: Option[Array[(Long, Long)]] =
      if (localEdgeThreshold <= 0) None
      else {
        import spark.implicits._
        val cap = math.min(localEdgeThreshold, (Int.MaxValue - 1).toLong).toInt
        val rows = edgesPlan.as[(Long, Long)].limit(cap + 1).collect()
        // an EMPTY graph is trivially within bound: the local branch
        // returns a typed empty labeling instead of spinning up the
        // distributed loop's checkpoint jobs for zero edges (the
        // incremental label build hits this when a sparse round
        // verifies nothing)
        if (rows.length <= cap) Some(rows) else None
      }
    lastCcLocal.set(probed.isDefined)
    if (probed.isDefined) {
      import spark.implicits._
      val es = probed.get
      val parent = scala.collection.mutable.Map[Long, Long]()
      // ITERATIVE find + full path compression: adversarial edge order
      // (a descending-id chain) can grow a parent chain to ~component
      // size, and a recursive walk would overflow the thread stack well
      // inside the 100k-edge opt-in bound
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root)
          root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val byRoot = parent.keys.toSeq.groupBy(find)
      val rows = byRoot.toSeq.flatMap { case (_, vs) =>
        val label = vs.min
        vs.map(v => (v, label, vs.size.toLong))
      }
      lastCcRounds.set(0)
      return rows.toDF("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    }
    // Distributed path: the symmetric edge list is checkpointed once —
    // reused every round — with the edge count riding the checkpoint job
    // as an observe metric (no separate count action on this path when
    // the threshold was 0).
    val obsEdges = new org.apache.spark.sql.Observation("graft_cc_edges")
    val edges0 = roundCheckpoint(spark,
      edgesPlan.observe(obsEdges, count(lit(1)).as("n")))
    val nEdges = obsEdges.get.get("n") match {
      case Some(n: Number) => n.longValue()
      case _ => 0L
    }
    // size the LOOP's partitioning to the pair graph, not the session
    // default: the graph is the dedup OUTPUT (pairs ≪ corpus), and every
    // round re-exchanges only it — at drain/test sizes the session's 32
    // partitions are per-round task-setup overhead, while a cluster-scale
    // graph scales the count back up (~500k edges per partition). The
    // explicit repartition on the key also pre-satisfies the join and
    // aggregation distributions below, so each round is ONE narrow
    // exchange (one extra setup checkpoint pays for itself by round two).
    val nParts = math.max(4, math.min(
      spark.sessionState.conf.numShufflePartitions,
      (nEdges / 500000L).toInt + 1))
    val edges = roundCheckpoint(spark,
      edges0.repartition(nParts, col("src")))
    var labels = roundCheckpoint(spark,
      edges.select(col("src").as("v")).distinct()
        .select(col("v"), col("v").as("l"))
        .repartition(nParts, col("v")))
    var converged = false
    var iter = 0
    // fixpoint detection rides INSIDE the propagation job: the min-label
    // aggregation also carries each vertex's previous label (the `own`
    // marker picks it out of the union), and a declarative `observe`
    // metric — max(new_l < old_l) — is collected while the eager
    // checkpoint materializes the round. ONE Spark job per round, no
    // separate convergence action, no per-row UDF: the metric is a plain
    // aggregate Catalyst evaluates alongside the checkpoint write, and
    // max() is retry-idempotent so speculative tasks can't corrupt it.
    //
    // Each round takes min over THREE legs: the vertex's own label, its
    // neighbors' labels (one-hop propagation — this leg alone already
    // reaches the correct fixpoint: labels only decrease toward the
    // component minimum, and at a fixpoint no neighbor offers a smaller
    // label, so every component is uniformly labeled), and POINTER
    // DOUBLING — the label of the vertex's current label (l(l(v))), a
    // self-join of the vertex-sized label table that squares the hop
    // distance per round. Long chains then converge in O(log diameter)
    // rounds instead of O(diameter); at drain sizes each round is
    // job-setup dominated, so halving rounds is the lever. The shortcut
    // leg cannot change the fixpoint: it only ever offers labels already
    // reachable by propagation (monotone, bounded below by the
    // component min).
    while (!converged && iter < 50) {
      val obs = new org.apache.spark.sql.Observation(s"graft_cc_$iter")
      val viaEdges = edges.join(labels, col("src") === col("v"))
        .select(col("dst").as("v"), col("l"), lit(false).as("own"))
      // round 0's labels are the identity mapping, so l(l(v)) = l(v):
      // the shortcut leg can't offer anything yet — skip its join
      val withParent =
        if (iter == 0) labels.select(col("v"), col("l"), lit(true).as("own"))
        else labels.select(col("v"), col("l"), lit(true).as("own"))
          .unionAll(labels.as("c")
            .join(labels.as("p"), col("c.l") === col("p.v"))
            .select(col("c.v").as("v"), col("p.l").as("l"),
              lit(false).as("own")))
      val next = roundCheckpoint(spark,
        withParent
          .unionAll(viaEdges)
          .repartition(nParts, col("v"))
          .groupBy("v")
          .agg(min("l").as("new_l"), max(when(col("own"), col("l"))).as("old_l"))
          .observe(obs,
            max(when(col("new_l") < col("old_l"), 1).otherwise(0)).as("changed"))
          .select(col("v"), col("new_l").as("l")))
      labels = next
      // empty vertex set → metric is NULL → nothing left to converge
      converged = obs.get.get("changed").forall {
        case n: Number => n.intValue() == 0
        case _ => true
      }
      iter += 1
    }
    lastCcRounds.set(iter)
    val sizes = labels.groupBy(col("l").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("v").as("doc_id"), col("l").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
      .orderBy("doc_id")
  }

  /** RETENTION POLICY over the duplicate clusters: keep the LONGEST
    * document of every near-dup cluster (ties to the lowest doc_id)
    * instead of the min-id keeper the dedup reports default to — the
    * policy real curation pipelines run, because the longest variant of a
    * mirrored page is usually the least-truncated one. Singletons (docs
    * in no cluster) keep themselves via `coalesce(cluster_id, doc_id)`.
    *
    * Shape: the cluster labeling is the one materialized 3-column
    * relation ([[ensureClusters]]); the keeper pick is a row_number over
    * (n_chars DESC, doc_id) riding ONE exchange of doc METADATA (id,
    * source, n_chars — never text), then a per-source rollup. Output is
    * source-count-sized.
    */
  def clusterKeepLongest(spark: SparkSession, sfDir: String,
                         threshold: Double = 0.8): DataFrame = {
    val c = corpus(spark, sfDir)
    val cl = clusterLabels(spark, c, threshold).select("doc_id", "cluster_id")
    val docs = c.docs.select("doc_id", "source", "n_chars")
    val labeled = docs.join(cl, Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
    val keeperRank = Window.partitionBy(col("cid"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    labeled.withColumn("rk", row_number().over(keeperRank))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rk") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") === 1, col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy("source")
  }
}
