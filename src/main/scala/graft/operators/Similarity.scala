package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarityExpr.cosineNative
import graft.functions.TopKByScore
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** Similarity search over the embeddings table (SURVEY.md §2.2).
  *
  * Two paths:
  *  - [[cosineTopK]]: brute-force exact top-k — the small-query-set
  *    baseline. The query side is broadcast, so the corpus is scanned once
  *    with no shuffle of the big side; per (query, corpus) pair one
  *    codegen'd double-precision cosine.
  *  - [[annTopK]]: random-hyperplane LSH buckets — the 100 TB path. Each
  *    vector hashes to a small bucket id; candidates are only same-bucket
  *    pairs, so cost is ~linear in corpus size. Recall is probabilistic
  *    (tested against the brute-force baseline in SimilaritySpec).
  *
  * Top-k everywhere is PARTIAL top-k via [[TopKByScore]] (map-side combine
  * to k rows per partition), not `row_number().over(partitionBy(query))`:
  * a per-query window funnels every scored candidate of a query through
  * one partition — at 100× scale that is millions of rows through a
  * handful of partitions while the rest of the cluster idles.
  */
object Similarity {

  /** Shared top-k: `scored(query_id, vec_id, cosine)` → k best per query
    * by (cosine desc, vec_id asc), with rnk — byte-identical to the
    * window row_number form (the q_cosine_topk oracle hash proves it).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKByScore(k))
    scored
      .groupBy(col("query_id"))
      .agg(topk(col("cosine"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** q_knn_classify: k-NN label prediction — the similarity stack applied
    * to supervision. A FIXED query budget (`vec_id < nQueries`, the same
    * rule as [[cosineTopK]]) is classified; each query's label is
    * predicted by majority vote over the k nearest corpus vectors (exact
    * cosine, the [[TopKByScore]] map-side partial top-k, so the corpus
    * never shuffles and the only exchange is O(k)/query). The fixed
    * budget is the scale contract: the broadcast side is O(nQueries·d)
    * regardless of corpus size and scoring is O(n·nQueries) — a
    * corpus-proportional sample (the earlier `vec_id % 20` rule) made
    * both grow with n, degenerating to O(n²/20) cosines and an
    * unbroadcastable query set at 100× scale. The vote itself runs on
    * the OUTPUT-sized top-k table: neighbor labels arrive by joining the
    * tiny top-k ids back to the embeddings relation (broadcast — corpus
    * side unmoved), majority with deterministic (votes DESC, label ASC)
    * ties, the same convention as the NB argmax.
    */
  def knnClassify(spark: SparkSession, sfDir: String, k: Int = 10,
                  nQueries: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val isQuery = col("vec_id") < nQueries
    val q = emb.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("actual"))
    val scored = emb.filter(!isQuery)
      .crossJoin(broadcast(q.select("query_id", "q_emb")))
      .withColumn("cosine",
        coalesce(round(cosineNative(col("q_emb"), col("embedding")), 6), lit(-2.0)))
      .select("query_id", "vec_id", "cosine")
    val votes = topKPerQuery(scored, k)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val byVotes = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("votes").desc, col("label").asc)
    votes.withColumn("rn", row_number().over(byVotes)).where(col("rn") === 1)
      .join(broadcast(q.select(col("query_id"), col("actual"))), "query_id")
      .select(col("query_id"), col("label").as("predicted"), col("votes"),
        col("actual"))
      .orderBy("query_id")
  }

  /** The ONE brute-force scoring scaffold every exact/ablated tier rides:
    * fixed query budget (`vec_id < nQueries`) broadcast against a single
    * scan of `rel(vec_id, <vcol>)`, the native codegen'd cosine
    * (bit-identical to VectorFunctions.cosine but a zero-allocation
    * primitive loop), the shared conventions in ONE place — 6dp rounding,
    * −2.0 zero-norm floor (NULL here vs NaN in the oracle), ties by
    * vec_id via [[topKPerQuery]]. A convention fix lands here once, not
    * once per tier.
    */
  private def bruteTopK(rel: DataFrame, vcol: String,
                        nQueries: Int, k: Int): DataFrame = {
    val q = rel.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col(vcol).as("q_emb"))
    val scored = rel.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        coalesce(round(cosineNative(col("q_emb"), col(vcol)), 6), lit(-2.0)))
      .select("query_id", "vec_id", "cosine")
    topKPerQuery(scored, k)
  }

  /** Exact cosine top-k neighbors for each query vector (vec_id < nQueries),
    * excluding self-matches.
    */
  def cosineTopK(spark: SparkSession, sfDir: String,
                 nQueries: Int, k: Int): DataFrame =
    bruteTopK(Tables.embeddings(spark, sfDir).select("vec_id", "embedding"),
      "embedding", nQueries, k)

  // Deterministic random hyperplanes (seeded) for multi-table LSH:
  // NumTables independent tables of BitsPerTable sign bits each. Recall
  // comes from the union of candidates across tables; precision from the
  // exact cosine re-rank. Tune BitsPerTable ~ log2(corpusSize / desired
  // bucket size) at real scale.
  private val NumTables = 4
  private val BitsPerTable = 4

  /** The testdata's embedding width — the default the STATIC oracle SQL is
    * generated against ([[lshPlaneRows]]/[[ivfCentroidRows]] with no
    * argument). The engine itself never assumes it: every query path reads
    * the width off the table via [[embeddingDim]].
    */
  private val DefaultDim = 64

  /** Embedding dimensionality READ FROM THE TABLE (first row's array
    * length), memoized per corpus dir: the same code must run unchanged on
    * 768-dim production embeddings, so nothing downstream may bake in the
    * testdata's 64. One limit-1 row fetch per corpus per JVM.
    */
  private val dimCache = scala.collection.concurrent.TrieMap[String, Int]()
  private[graft] def embeddingDim(spark: SparkSession, sfDir: String): Int =
    dimCache.getOrElseUpdate(sfDir,
      Tables.embeddings(spark, sfDir)
        .select(size(col("embedding"))).limit(1)
        .collect().headOption.map(_.getInt(0)).getOrElse(DefaultDim))

  // Plane/centroid tables are generated PER DIM (memoized): same seed, so
  // dim=64 reproduces the exact constants the static oracle SQL embeds,
  // while any other width gets its own consistent table.
  private val planesCache =
    scala.collection.concurrent.TrieMap[Int, Array[Array[Double]]]()
  private[operators] def planesFor(dim: Int): Array[Array[Double]] =
    planesCache.getOrElseUpdate(dim, {
      val rnd = new scala.util.Random(7)
      Array.fill(NumTables * BitsPerTable)(Array.fill(dim)(rnd.nextGaussian()))
    })

  /** The seeded hyperplanes, exposed so the DuckDB oracle can embed them
    * as literals: the planes are data-independent constants, the dot
    * products are bit-identical across engines (double casts + sequential
    * sums), so the ENTIRE LSH bucketing — and therefore [[annTopK]]'s
    * exact output — is reproducible in portable SQL.
    * Returns (tableIdx, 2^bit weight, plane weights) per plane.
    */
  def lshPlaneRows: Seq[(Int, Long, Seq[Double])] =
    planesFor(DefaultDim).toSeq.zipWithIndex.map { case (w, i) =>
      (i / BitsPerTable, 1L << (i % BitsPerTable), w.toSeq)
    }

  // all hyperplanes as ONE typed literal (array<array<double>>): inlining
  // 16×dim scalar literals per reference bloats the plan and codegen —
  // a single literal + element_at keeps the expression tree tiny
  private val planesLitCache = scala.collection.concurrent.TrieMap[Int, Column]()
  private def planesLit(dim: Int): Column =
    planesLitCache.getOrElseUpdate(dim, typedlit(planesFor(dim).map(_.toSeq).toSeq))

  /** Bucket id within table `t` = sign bits of the vector against that
    * table's hyperplanes (pure map-side; one shared literal plane array).
    * Bits accumulate as acc·2+bit — a deterministic bucket numbering.
    * The projections are the native codegen'd dot (sign of an identical
    * sequential double sum — bit-equal to the HOF form) because this
    * runs NumTables×BitsPerTable times per corpus row: the interpreted
    * zip_with∘aggregate was the bucketing stage's whole cost.
    */
  private[operators] def bucketOf(v: Column, t: Int, dim: Int): Column =
    (0 until BitsPerTable).map { b =>
      val plane = element_at(planesLit(dim), t * BitsPerTable + b + 1)
      when(graft.functions.CosineSimilarityExpr.dotNative(v, plane) >= 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** One row per (vector, table) with its bucket id. */
  private def bucketed(df: DataFrame, dim: Int): DataFrame =
    df.select(col("*"),
        posexplode(array((0 until NumTables).map(t =>
          bucketOf(col("embedding"), t, dim)): _*)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")

  /** Approximate top-k: candidates = union over LSH tables of same-bucket
    * vectors, re-ranked by exact cosine. Same output schema as
    * [[cosineTopK]]; recall vs the exact baseline is asserted in
    * SimilaritySpec.
    *
    * Scale shape: the bucket join is a broadcast hash join (query side is
    * tiny), so scoring is map-side over one corpus scan; cross-table
    * duplicates (the same pair surfacing from several LSH tables, with
    * identical deterministic cosines) are absorbed by [[TopKByScore]]'s
    * in-aggregate dedup — the ONLY exchange in the whole query is the
    * O(k)-per-query partial-aggregate shuffle. Embedding arrays never
    * shuffle at all.
    */
  def annTopK(spark: SparkSession, sfDir: String,
              nQueries: Int, k: Int): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val emb = bucketed(Tables.embeddings(spark, sfDir), dim)
    val q = bucketed(Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < nQueries), dim)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("tbl"), col("bucket"))
    val scored = emb.join(broadcast(q), Seq("tbl", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      // -2.0 zero-norm floor, mirrored in the oracle (NULL here vs NaN there)
      .withColumn("cosine",
        coalesce(round(cosineNative(col("q_emb"), col("embedding")), 6), lit(-2.0)))
      .select("query_id", "vec_id", "cosine")
    topKPerQuery(scored, k)
  }

  /** Nearest-centroid id as a PURE PROJECTION: the (tiny, fixed-k)
    * centroid table rides along as one typed literal and an argmax fold
    * over it picks the best cell per row — zero shuffle, zero join, the
    * corpus never moves. (The earlier crossJoin + max_by aggregation shape
    * re-shuffled all N rows to group them back; a fold over a literal
    * doesn't.) Each centroid's cosine is computed once in a `transform`
    * projection — Catalyst does not CSE higher-order-function trees, so
    * folding over raw cosine expressions would evaluate each twice. Ties
    * break to the first (= lowest) cent_id: strictly-greater replaces.
    */
  /** The ONE strictly-greater argmax fold every cell/prototype argmax in
    * this module shares: cells are (score, id) structs in id-ascending
    * order, the seed's score sits strictly below every reachable score
    * (so even an all-floor array picks the FIRST cell), and
    * strictly-greater replacement keeps the lowest id on ties. Field
    * names/types stay the caller's — the invariant lives here once.
    */
  private def argmaxFold(cells: Column, seed: Column,
                         scoreField: String, outField: String): Column =
    aggregate(cells, seed,
      (acc, x) => when(x.getField(scoreField) > acc.getField(scoreField), x)
        .otherwise(acc),
      acc => acc.getField(outField))

  private def assignExpr(cents: Seq[(Long, Seq[Float])], v: Column): Column = {
    val scoredCells = transform(typedlit(cents.sortBy(_._1)), c => struct(
      cosineNative(v, c.getField("_2")).as("best"),
      c.getField("_1").as("id")))
    argmaxFold(scoredCells,
      struct(lit(-2.0).as("best"), lit(-1L).as("id")), "best", "id")
  }

  private def assignCells(emb: DataFrame,
                          cents: Seq[(Long, Seq[Float])]): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      assignExpr(cents, col("embedding")).as("cent_id"))

  /** Fixed-k seeded k-means (Lloyd) over the corpus, entirely in DataFrame
    * ops: init = first k vectors in xxhash64(vec_id) order (deterministic
    * pseudo-random sample), then `iters` rounds of broadcast-assign +
    * per-dimension mean. Means are computed in exact DECIMAL arithmetic so
    * centroids — and therefore cell assignments — are bit-deterministic
    * run-to-run (double summation order would not be). Only the k×dim
    * centroid table ever reaches the driver (between iterations, to keep
    * the lineage flat) — the corpus itself never moves: each iteration is
    * one broadcast join + two partial aggregations, O(N·k) map-side work.
    * Fixed k means assignment cost stays O(N·k) however large the corpus —
    * unlike a corpus-proportional centroid sample, which degenerates to
    * O(N²/c).
    */
  private[operators] def kmeansCentroids(spark: SparkSession, emb: DataFrame,
                                         k: Int, iters: Int): Seq[(Long, Seq[Float])] = {
    import spark.implicits._
    var cents: Seq[(Long, Seq[Float])] = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    for (_ <- 1 to iters) {
      cents = assignCells(emb, cents)
        .select(col("cent_id"), posexplode(col("embedding")))
        .groupBy(col("cent_id"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")) / count(lit(1)))
          .cast("float").as("v"))
        .groupBy(col("cent_id"))
        .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
        .select(col("cent_id"), expr("transform(pv, s -> s.v)").as("cent"))
        .as[(Long, Seq[Float])].collect().toSeq
    }
    cents
  }

  /** IVF ANN: k-means-quantize the corpus into `kCells` cells, then each
    * query scans only its `nprobe` nearest cells, re-ranked by exact
    * cosine. Cost ≈ nprobe/kCells of a full scan per query, and the
    * centroid table is fixed-size-broadcastable at any corpus size.
    *
    * Defaults are tuned for THIS corpus's embeddings, which are isotropic
    * random (no cluster structure — measured intra-label cosine ==
    * inter-label ≈ 0): on such data recall ≈ 1.7× the scanned fraction, so
    * hitting ≥0.8 recall needs nprobe/kCells ≈ 1/2 (measured 0.86–0.90
    * here). On a real clustered embedding corpus the same code runs with
    * nprobe ≈ kCells/16 for the classic 10–50× speedup.
    */
  def ivfTopK(spark: SparkSession, sfDir: String,
              nQueries: Int, k: Int, nprobe: Int = 32,
              kCells: Int = 64, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val cents = kmeansCentroids(spark, emb, kCells, iters)
    val assigned = assignCells(emb, cents)
    val centsDF = cents.toDF("cent_id", "cent")
    val probeTopK = udaf(new TopKByScore(nprobe))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(centsDF))
      .withColumn("sim", cosineNative(col("q_emb"), col("cent")))
      .groupBy(col("q_id"))
      .agg(probeTopK(col("sim"), col("cent_id")).as("cells"),
        first(col("q_emb")).as("q_emb"))
      .select(col("q_id"), col("q_emb"), explode(col("cells.id")).as("cent_id"))
    // assigned is a pure projection of the corpus scan and probes are
    // broadcast: scoring is map-side; the only exchange in the whole
    // query (beyond the k-means rounds) is the O(k)-per-query top-k
    val scored = assigned.join(broadcast(probes), "cent_id")
      .where(col("vec_id") =!= col("q_id"))
      // same -2.0 zero-norm floor as the serve path, for rank consistency
      .withColumn("cosine",
        coalesce(round(cosineNative(col("q_emb"), col("embedding")), 6), lit(-2.0)))
      .select(col("q_id").as("query_id"), col("vec_id"), col("cosine"))
    topKPerQuery(scored, k)
  }

  // ——— IVF serve path (oracle-checkable) ———
  //
  // ivfTopK above TRAINS its centroids with k-means, so its output depends
  // on data-derived constants that static oracle SQL cannot reproduce —
  // that query stays rows-only with a recall spec. The serve path below is
  // the complementary, fully checkable half: centroids arrive as fixed
  // constants (exactly how a production ANN serving tier works — cells are
  // trained offline and shipped to the query layer as a small artifact),
  // so probe selection, cell assignment, and re-rank are all deterministic
  // double arithmetic that DuckDB reproduces bit-for-bit from embedded
  // literals, the same trick lshPlaneRows plays for q_ann_topk.
  private val ServeCells = 8
  private val serveCentsCache =
    scala.collection.concurrent.TrieMap[Int, Array[Array[Double]]]()
  private[operators] def serveCentroidsFor(dim: Int): Array[Array[Double]] =
    serveCentsCache.getOrElseUpdate(dim, {
      val rnd = new scala.util.Random(23)
      Array.fill(ServeCells)(Array.fill(dim)(rnd.nextGaussian()))
    })

  /** The fixed serve centroids, exposed so the DuckDB oracle can embed
    * them as literals (Double.toString is shortest-round-trip).
    */
  def ivfCentroidRows: Seq[(Int, Seq[Double])] =
    serveCentroidsFor(DefaultDim).toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }

  private val serveCentsLitCache =
    scala.collection.concurrent.TrieMap[Int, Column]()
  private def serveCentsLit(dim: Int): Column =
    serveCentsLitCache.getOrElseUpdate(dim,
      typedlit(serveCentroidsFor(dim).map(_.toSeq).toSeq))

  /** Cosine of `v` against every serve centroid, as one array<double> —
    * computed in its own projection (Catalyst does not CSE higher-order
    * functions; both the argmax and the probe ranking read this array).
    * A zero-norm embedding's cosine is NULL on Spark but NaN in DuckDB's
    * double arithmetic, which would assign divergent cells; pinning both
    * to −2.0 (below any real cosine) keeps assignment deterministic and
    * engine-agreed — such vectors land in cell 0 instead of silently
    * dropping out of the index. (The re-rank's output cosine for a
    * zero-norm QUERY is still NULL-vs-NaN; serving assumes unit-normish
    * query embeddings, as every upstream embedder produces.)
    */
  private def serveCellScores(v: Column, dim: Int): Column =
    // native cosine per cell (float corpus side × double centroid side —
    // bit-equal to the HOF form): the transform lambda now does one fast
    // eval per cell instead of three nested interpreted HOFs
    transform(serveCentsLit(dim), c => coalesce(cosineNative(v, c), lit(-2.0)))

  /** Argmax over the score array, ties to the lowest cell id
    * (strictly-greater replaces — mirrored by `ORDER BY s DESC, cent_id`
    * in the oracle).
    */
  private def argmaxCell(scores: Column): Column =
    argmaxFold(
      zip_with(scores, sequence(lit(0), lit(ServeCells - 1)),
        (s, i) => struct(s.as("s"), i.as("i"))),
      // seed strictly below the −2.0 zero-norm floor so even an all-floor
      // score array assigns cell 0 (ties keep the first/lowest id)
      struct(lit(-3.0).as("s"), lit(-1).as("i")), "s", "i")

  /** IVF serving against the fixed centroid table: assign every corpus
    * vector to its nearest cell (a pure projection — the corpus never
    * shuffles), pick each query's `nprobe` best cells (row-local sort of
    * an 8-element array), and exact-cosine re-rank only the probed cells.
    * Scan fraction ≈ nprobe/ServeCells; the only exchange is the
    * O(k)-per-query partial top-k, exactly like [[annTopK]].
    */
  /** Per-query probe list against the fixed serve centroids: each query
    * row explodes to its `nprobe` best cells — sort (−score, id)
    * ascending = score desc with lowest-id tie-break, all inside one
    * projection over the (tiny) query slice. Shared by [[ivfServeTopK]]
    * and [[ivfPqTopK]]; always broadcast by the caller.
    */
  private def serveProbes(emb: DataFrame, dim: Int,
                          nQueries: Int, nprobe: Int): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        serveCellScores(col("embedding"), dim).as("cs"))
      .select(col("q_id"), col("q_emb"),
        explode(slice(transform(
          array_sort(zip_with(col("cs"), sequence(lit(0), lit(ServeCells - 1)),
            (s, i) => struct((-s).as("ns"), i.as("i")))),
          x => x.getField("i")), 1, nprobe)).as("cent_id"))

  def ivfServeTopK(spark: SparkSession, sfDir: String,
                   nQueries: Int, k: Int, nprobe: Int = 3): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      argmaxCell(serveCellScores(col("embedding"), dim)).as("cent_id"))
    val probes = serveProbes(emb, dim, nQueries, nprobe)
    val scored = assigned.join(broadcast(probes), "cent_id")
      .where(col("vec_id") =!= col("q_id"))
      // same zero-norm floor as the assignment phase: the guard above
      // keeps zero-norm corpus vectors IN the index (cell 0), so the
      // re-rank must pin their cosine too — Spark's NULL would drop them
      // from top-k while DuckDB's NaN sorts FIRST under ORDER BY DESC
      .withColumn("cosine",
        coalesce(round(cosineNative(col("q_emb"), col("embedding")), 6), lit(-2.0)))
      .select(col("q_id").as("query_id"), col("vec_id"), col("cosine"))
    topKPerQuery(scored, k)
  }

  /** Embedding-cosine near-duplicate detection at ingest: every pair
    * (a, b) with `a < nNew` (the incoming batch), `b > a`, and
    * cosine ≥ threshold — the semantic-dedup step of a training-data
    * pipeline (drop new documents whose embedding nearly coincides with
    * anything already kept). Shape = one corpus scan against the broadcast
    * batch: linear in corpus size, no shuffle of the big side — the same
    * scale posture as [[cosineTopK]]. (A full corpus×corpus exact
    * threshold join is inherently quadratic; at scale you either dedup
    * incrementally like this, batch by batch, or accept approximate recall
    * via the [[annTopK]] LSH buckets.)
    */
  def embedNearDupPairs(spark: SparkSession, sfDir: String,
                        nNew: Int, threshold: Double): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < nNew)
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    emb.crossJoin(broadcast(q))
      .where(col("vec_id") > col("vec_a"))
      .withColumn("cosine", round(cosineNative(col("emb_a"), col("embedding")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_id").as("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): confine the quadratic near-dup search to
    * embedding-space clusters. Every vector is assigned to its nearest
    * fixed centroid (the serve-table pattern of [[ivfServeTopK]] — a pure
    * projection against broadcast literals, the corpus never shuffles for
    * assignment); inside each cell, a vector is dropped when its cosine
    * to ANY lower-id cell-mate reaches `tau` (the same deterministic
    * min-id-keeper rule as exact dedup). Survivors are returned; by
    * construction no two survivors in a cell are ≥ tau similar — if they
    * were, the higher id would have been dominated.
    *
    * Scale posture: the pairwise step is per-cell — that is SemDeDup's
    * entire point. Production sizes the centroid table with the corpus
    * (k ≈ N / target-cell-size, trained offline like the serve
    * centroids), so self-join key cardinality grows with data and no
    * cell outgrows an executor; the 8-cell fixed table here mirrors the
    * q_ivf_serve artifact and keeps the oracle bit-exact.
    */
  def semDedup(spark: SparkSession, sfDir: String, tau: Double): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val assigned = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        argmaxCell(serveCellScores(col("embedding"), dim)).as("cent_id"))
    val lower = assigned
      .select(col("cent_id"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
    val dominated = assigned.join(lower, "cent_id")
      .where(col("a_id") < col("vec_id") &&
        // zero-norm floor, as in the serve path: engine-agreed -2.0
        coalesce(round(cosineNative(col("a_emb"), col("embedding")), 6),
          lit(-2.0)) >= tau)
      .select("vec_id").distinct()
    assigned.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cent_id"))
      .orderBy("vec_id")
  }

  /** q_label_centroids: per-class mean embedding — the class PROTOTYPES
    * that seed nearest-centroid classification, SemDeDup cells, and drift
    * baselines. Exactness follows the covariance recipe: quantize each
    * component to micro-units (⌊x·1e6+0.5⌋, engine-exact), sum per
    * (label, dim) in decimal(38,0) — mergeable, so the exchange carries
    * label×dim cells after map-side combine, never vectors — and derive
    * each mean with ONE double division rounded 6dp (+0.0 canonicalizes
    * the zero sign). The final per-label array assembles from the
    * The result is the label×d CELL TABLE itself — scalar rows
    * `(label, dim, n_vecs, c)` ordered by (label, dim), metadata-sized at
    * any corpus scale. Downstream consumers that want a per-label vector
    * (nearest-centroid classify, SemDeDup seeding) assemble it from the
    * cells; the declared query keeps the scalar shape so every engine —
    * and every result-frame tool — can sort and hash it.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT))"))
        .as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v").cast("decimal(38,0)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        // n is the label's vector count (identical on every dim cell)
        col("n").as("n_vecs"),
        (round(col("s").cast("double") / (col("n").cast("double") * lit(1e6)), 6)
          + lit(0.0)).as("c"))
      .orderBy("label", "dim")

  /** Per-label embedding statistics: count + mean L2 norm. */
  def embedStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), l2Norm(col("embedding")).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg(col("nrm")), 4).as("avg_norm"))
      .orderBy("label")

  // ——— Product quantization (PQ) + ADC serving ———
  //
  // The compression that makes billion-vector ANN tiers fit in RAM
  // (Jégou et al., TPAMI'11): split each D-dim vector into M subvectors,
  // quantize each against its own C-entry codebook, store M small code
  // ids (M bytes at C=16 ≤ 256) instead of 4·D bytes — 32× here. Serving
  // uses ASYMMETRIC distance (ADC): the query stays full-precision and
  // its distance to a corpus vector is the sum of per-subspace distances
  // to the CODES, so ranking never touches the original corpus floats.
  // Like the IVF serve path, codebooks arrive as fixed literals (trained
  // offline, shipped as a small artifact — production's shape), which
  // makes encode, ADC, and top-k fully deterministic double arithmetic
  // the DuckDB oracle replays bit-for-bit from embedded VALUES.
  private val PqM = 8 // subspaces
  private val PqCodes = 16 // codes per subspace → 4-bit codes

  private val pqCache =
    scala.collection.concurrent.TrieMap[Int, Array[Array[Array[Double]]]]()
  private[operators] def pqCodebooksFor(dim: Int): Array[Array[Array[Double]]] =
    pqCache.getOrElseUpdate(dim, {
      require(dim % PqM == 0, s"dim $dim not divisible by $PqM subspaces")
      val rnd = new scala.util.Random(47)
      Array.fill(PqM)(Array.fill(PqCodes)(Array.fill(dim / PqM)(rnd.nextGaussian())))
    })

  /** The fixed codebooks as (m, c, weights) rows for the oracle's VALUES
    * literal — same shortest-round-trip trick as [[lshPlaneRows]].
    */
  def pqCodebookRows: Seq[(Int, Int, Seq[Double])] =
    for {
      (codes, m) <- pqCodebooksFor(DefaultDim).toSeq.zipWithIndex
      (w, c) <- codes.toSeq.zipWithIndex
    } yield (m, c, w.toSeq)

  private val pqLitCache = scala.collection.concurrent.TrieMap[Int, Column]()
  private def pqLit(dim: Int): Column =
    pqLitCache.getOrElseUpdate(dim,
      typedlit(pqCodebooksFor(dim).map(_.map(_.toSeq).toSeq).toSeq))

  /** Squared L2 between subspace `m` (0-based Column) of float vector `v`
    * and a code (array<double>): products exact (float→double cast before
    * the subtract), sum sequential — the determinism contract of
    * [[graft.functions.VectorFunctions]].
    */
  private def pqSubDist(v: Column, m: Column, code: Column, subDim: Int): Column =
    aggregate(
      zip_with(slice(v, m * subDim + 1, lit(subDim)), code,
        (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
      lit(0.0), (acc, x) => acc + x)

  /** PQ codes of a vector: per subspace, the argmin-distance code id
    * (strictly-less fold → ties to the lowest id, mirrored by
    * `ORDER BY d, c` in the oracle). Pure projection — encoding the
    * corpus never shuffles it.
    */
  private[operators] def pqEncode(v: Column, dim: Int): Column = {
    val sub = dim / PqM
    transform(sequence(lit(0), lit(PqM - 1)), m => {
      val dists = transform(element_at(pqLit(dim), m + 1),
        code => pqSubDist(v, m, code, sub))
      aggregate(
        zip_with(dists, sequence(lit(0), lit(PqCodes - 1)),
          (d, i) => struct(d.as("d"), i.as("i"))),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("i")),
        (acc, x) => when(x.getField("d") < acc.getField("d"), x).otherwise(acc),
        acc => acc.getField("i"))
    })
  }

  /** ADC distance: Σ_m ‖q_sub(m) − codebook[m][codes(m)]‖², folded in
    * subspace order (sequential — the oracle mirrors with
    * `list_sum(list(pd ORDER BY m))`).
    */
  /** HOF reference form of the ADC distance — retained as the pinned twin
    * of the native [[graft.functions.PqAdcDistance]] kernel the serve
    * path actually runs (PqAdcExprSpec asserts bitwise equality; the
    * two-level accumulation — inner per-subspace sum, then subspace-order
    * outer sum — is the rounding contract both share with the oracle).
    */
  private[graft] def pqAdcDistHof(q: Column, codes: Column, dim: Int): Column = {
    val sub = dim / PqM
    aggregate(
      zip_with(codes, sequence(lit(0), lit(PqM - 1)),
        (c, m) => struct(c.as("c"), m.as("m"))),
      lit(0.0),
      (acc, x) => acc + pqSubDist(q, x.getField("m"),
        element_at(element_at(pqLit(dim), x.getField("m") + 1),
          x.getField("c") + 1), sub))
  }

  /** The codebooks literal, exposed for the native ADC kernel's spec. */
  private[graft] def pqBooksLit(dim: Int): Column = pqLit(dim)

  /** MATERIALIZED PQ codes — built per corpus STATE, exactly like
    * [[MaterializedIndex.ensure]]: in production the codes ARE the index
    * artifact (encode once offline, serve forever from the M-byte
    * codes), so re-encoding the corpus on every query — a full float
    * read plus the per-row subspace argmin math — was paying the build
    * cost at serve time. Codes are a deterministic pure function of the
    * fixed codebooks, so serving from the parquet is value-identical to
    * inline encoding (the q_pq_topk oracle hash proves it).
    *
    * The artifact carries the IVF cell id and the label alongside the
    * codes — one corpus pass builds the ENTIRE filtered-IVF-PQ index
    * (cell + metadata + M-byte codes per vector), which is exactly the
    * on-disk layout a production billion-vector tier ships: [[pqTopK]]
    * prunes cent_id away, [[ivfPqTopK]] joins its probes against it,
    * [[filteredAnnTopK]] pushes its metadata predicate to this scan.
    *
    * INCREMENTAL: every call compares the corpus listing with the current
    * generation's through [[graft.util.Generations.refresh]], the one
    * lifecycle the postings index and the hourly rollup share. Codes are
    * ROW-LOCAL (each vector's cell + codes is a pure function of that
    * vector and the fixed literals), so when the corpus only grew, ONLY
    * the appended files' rows are encoded and appended to the current
    * codes parquet — at 100 TB a daily batch never re-encodes the other
    * 99.9% (the stored files stay byte-identical, PqRefreshSpec). A
    * removed or rewritten file re-encodes the corpus into a fresh
    * generation, since stored codes might describe vanished rows.
    */
  private[graft] def ensurePqCodes(spark: SparkSession,
                                   sfDir: String): graft.util.Generations.Gen = {
    val emb = Tables.embeddings(spark, sfDir)
    graft.util.Generations.refresh(spark,
      "graft_pqcodes_" + graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(emb))(
      encodePq(emb, embeddingDim(spark, sfDir)).write.mode("overwrite").parquet(_)) {
      (cur, files, _) =>
        encodePq(spark.read.schema(emb.schema).parquet(files: _*),
          embeddingDim(spark, sfDir)).write.mode("append").parquet(cur.path)
        cur.path
    }
  }

  private[graft] def encodePq(df: DataFrame, dim: Int): DataFrame =
    df.select(col("vec_id"), col("label"),
      argmaxCell(serveCellScores(col("embedding"), dim)).as("cent_id"),
      pqEncode(col("embedding"), dim).as("codes"))

  /** Per-cell fingerprint of a codes artifact — (cent_id, n_vecs,
    * sum_ids, code_cks): scalar rows any engine can sort and hash, with
    * the checksum an order-free integer fold over every (subspace, code)
    * pair, so ANY divergent code in any vector changes it.
    */
  private[graft] def pqArtifactFingerprint(art: DataFrame): DataFrame =
    art.groupBy(col("cent_id"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("vec_id")).as("sum_ids"),
        sum(aggregate(
          zip_with(col("codes"), sequence(lit(1), lit(PqM)),
            (c, m) => (c + 1) * m),
          lit(0), (acc, x) => acc + x).cast("long")).as("code_cks"))
      .orderBy("cent_id")

  /** q_ivfpq_refresh: the ANN-index maintenance lifecycle under one
    * driver-checked oracle — stage a private copy of the embeddings,
    * full-build the codes artifact, APPEND a deterministic batch (the
    * 100 lowest vec_ids re-inserted under vec_id+10000), incrementally
    * refresh (encodes the delta file only — spec-asserted: the base
    * codes files stay byte-identical), and serve the per-cell
    * fingerprint from the refreshed artifact. The oracle recomputes
    * cells + codes over base ∪ the same batch from the embedded
    * literals, so the hash match proves append-detection, delta-only
    * encoding, AND delta ≡ rebuild in one row — the ANN twin of
    * q_index_refresh.
    */
  def ivfPqRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.util.Generations.staged(spark, "graft_pqrefresh_base_",
      sfDir, "embeddings")(ensurePqCodes(spark, _))(
      _.filter(col("vec_id") < 100).withColumn("vec_id", col("vec_id") + 10000))
    pqArtifactFingerprint(spark.read.parquet(ensurePqCodes(spark, dir).path))
  }

  /** PQ-compressed top-k serving: read the MATERIALIZED codes (32×
    * smaller than the floats — see [[ensurePqCodes]]), broadcast the
    * full-precision queries, rank every corpus vector by ADC distance
    * (asc, ties to lowest vec_id) with the same O(k)-per-query partial
    * top-k as [[cosineTopK]] — the corpus never shuffles and its floats
    * are touched ONLY for the k winners' exact-cosine audit column
    * (k·queries rows). At 100 TB the scan reads M-byte codes instead of
    * 4·D-byte vectors; that bandwidth cut is the whole point of PQ.
    */
  def pqTopK(spark: SparkSession, sfDir: String,
             nQueries: Int, k: Int): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = spark.read.parquet(ensurePqCodes(spark, sfDir).path)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = corpus.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        // native codegen'd ADC kernel — bit-equal to the HOF twin
        // (PqAdcExprSpec); this runs once per (query, corpus) pair
        (-round(graft.functions.PqAdcExpr.pqAdcNative(
          col("q_emb"), col("codes"), pqLit(dim)), 6)).as("s"))
    val topk = udaf(new TopKByScore(k))
    val winners = scored
      .groupBy(col("query_id"))
      .agg(topk(col("s"), col("vec_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("vec_id"),
        (-col("col.score")).as("adc_dist"),
        (col("pos") + 1).cast("int").as("rnk"))
    winners
      .join(emb.select(col("vec_id"), col("embedding").as("v_emb")), "vec_id")
      .join(emb.select(col("vec_id").as("query_id"),
        col("embedding").as("qq")), "query_id")
      .select(col("query_id"), col("vec_id"), col("adc_dist"),
        coalesce(round(cosineNative(col("qq"), col("v_emb")), 6), lit(-2.0))
          .as("cosine"),
        col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** q_ivfpq_topk: the full production billion-vector serving shape —
    * IVF cells bound the candidate set, ADC over the materialized PQ
    * codes ranks the candidates without touching a single corpus float,
    * and an exact-cosine pass re-ranks only the `rerank` ADC winners.
    * Composition of the two oracle-exact halves ([[ivfServeTopK]]'s
    * fixed-centroid probe/assign and [[pqTopK]]'s native ADC), so the
    * whole pipeline stays deterministic double arithmetic the oracle
    * replays from embedded literals.
    *
    * Scale posture: the index artifact ([[ensurePqCodes]] — (vec_id,
    * cent_id, M-byte codes), built in one corpus pass) is the ONLY
    * corpus-sized input, it is scanned once and never shuffles; probes
    * broadcast, so only vectors in probed cells are ADC-scored
    * (≈ nprobe/ServeCells of the corpus), the per-query exchange is the
    * O(rerank) partial top-k, and the floats are read for exactly
    * rerank·nQueries candidate rows. At 100 TB that is the difference
    * between scanning 100 TB of floats and ~3 TB of codes.
    */
  def ivfPqTopK(spark: SparkSession, sfDir: String, nQueries: Int, k: Int,
                nprobe: Int = 3, rerank: Int = 30): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val index = spark.read.parquet(ensurePqCodes(spark, sfDir).path)
    val probes = serveProbes(emb, dim, nQueries, nprobe)
    // each corpus vector lives in exactly ONE cell, so the probe join
    // yields each (query, vec) pair at most once — no dedup needed
    val scored = index.join(broadcast(probes), "cent_id")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id"),
        // same 6dp-rounded native ADC ranking key as [[pqTopK]]
        (-round(graft.functions.PqAdcExpr.pqAdcNative(
          col("q_emb"), col("codes"), pqLit(dim)), 6)).as("s"))
    val topn = udaf(new TopKByScore(rerank))
    val cand = scored
      .groupBy(col("query_id"))
      .agg(topn(col("s"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding").as("v_emb")), "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qq"))),
        "query_id")
      .select(col("query_id"), col("vec_id"),
        coalesce(round(cosineNative(col("qq"), col("v_emb")), 6), lit(-2.0))
          .as("cosine"))
    topKPerQuery(rescored, k)
  }

  /** q_ivf_cell_stats: the ANN-index DIAGNOSTICS report — per-cell
    * population and assignment quality (min/mean/max cosine of each
    * vector to its OWN centroid). Production tiers watch exactly this
    * table: skewed cell populations mean unbalanced probe latency, and a
    * falling mean assignment cosine means the centroids have drifted off
    * the corpus and the index wants re-training. One shuffle-free
    * projection over the corpus (centroids ride as literals) + one
    * cell-count-sized aggregation.
    *
    * Exactness: per-vector best cosine is 6dp-quantized to integer
    * MICRO-units before summing (exact BIGINT, order-free), and the mean
    * is ONE double division rounded 6dp — the covariance recipe, so the
    * oracle replays it bit-for-bit from the embedded centroid literals.
    */
  def ivfCellStats(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    Tables.embeddings(spark, sfDir)
      // the score array in its OWN projection (no HOF CSE in Catalyst —
      // both the argmax and the max fold read it)
      .select(serveCellScores(col("embedding"), dim).as("cs"))
      // best = the assigned cell's score = array max (argmax ties pick
      // the lowest id but the SCORE is identical); micro-quantized
      // row-locally so the per-cell sum is an exact BIGINT
      .select(argmaxCell(col("cs")).as("cent_id"),
        expr(("CAST(round(aggregate(cs, CAST(-2.0 AS DOUBLE), " +
          "(m, x) -> greatest(m, x)) * 1000000) AS BIGINT)"))
          .as("best_micro"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("n_vecs"),
        (min(col("best_micro")).cast("double") / 1e6).as("min_cos"),
        (max(col("best_micro")).cast("double") / 1e6).as("max_cos"),
        round(sum(col("best_micro")).cast("double") /
          (count(lit(1)).cast("double") * 1e6), 6).as("mean_cos"))
      .orderBy("cent_id")
  }

  /** q_filtered_ann: PREDICATE + ANN — production vector search is
    * almost never bare top-k; it is "nearest among rows passing a
    * metadata predicate" (lang = 'en', date range, tenant id). The
    * predicate must prune BEFORE similarity scoring, not filter the
    * top-k afterwards — post-filtering both wastes ADC work on excluded
    * vectors and silently returns fewer than k rows when the excluded
    * share is high. The [[ensurePqCodes]] artifact carries the metadata
    * column alongside the codes precisely so the predicate lands on the
    * CODES SCAN as a parquet pushed filter (plan-asserted in
    * FilteredAnnSpec): at 100 TB the scan reads only row groups whose
    * label stats survive, then only probed cells are ADC-scored, and
    * floats are read for the rerank winners alone — the [[ivfPqTopK]]
    * pipeline with the predicate composed at its cheapest point.
    */
  def filteredAnnTopK(spark: SparkSession, sfDir: String, nQueries: Int,
                      k: Int, nprobe: Int = 3, rerank: Int = 30,
                      maxLabel: Int = 4): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val index = spark.read.parquet(ensurePqCodes(spark, sfDir).path)
      .filter(col("label") <= maxLabel)
    val probes = serveProbes(emb, dim, nQueries, nprobe)
    val scored = index.join(broadcast(probes), "cent_id")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id").as("query_id"), col("vec_id"),
        (-round(graft.functions.PqAdcExpr.pqAdcNative(
          col("q_emb"), col("codes"), pqLit(dim)), 6)).as("s"))
    val topn = udaf(new TopKByScore(rerank))
    val cand = scored
      .groupBy(col("query_id"))
      .agg(topn(col("s"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding").as("v_emb")), "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qq"))),
        "query_id")
      .select(col("query_id"), col("vec_id"),
        coalesce(round(cosineNative(col("qq"), col("v_emb")), 6), lit(-2.0))
          .as("cosine"))
    topKPerQuery(rescored, k)
  }

  /** q_centroid_classify: nearest-centroid classification — the consumer
    * the [[labelCentroids]] prototypes exist for. The L×d cell table is
    * metadata-sized at any corpus scale, so it collects once and rides
    * into the classify scan as ONE typed literal: per vector an argmax
    * fold over the L prototype cosines (6dp-rounded, −2.0 zero-norm
    * floor; ties score DESC then label ASC — the NB argmax convention),
    * zero shuffle for the corpus. Output = the confusion matrix
    * (actual, predicted, n), directly comparable with [[knnClassify]]
    * and NaiveBayes' q_nb_confusion. Unlike k-means centroids, the
    * prototypes are a CLOSED-FORM exact aggregate, so the oracle
    * recomputes the entire pipeline — centroids, scores, argmax,
    * confusion counts — from the same table.
    */
  def centroidClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cents: Seq[(Int, Seq[Double])] =
      labelCentroids(spark, sfDir)
        .select(col("label").cast("int"), col("dim"), col("c"))
        .as[(Int, Int, Double)].collect().toSeq
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (l, rows) => (l, rows.sortBy(_._2).map(_._3)) }
    if (cents.isEmpty)
      return Seq.empty[(Int, Int, Long)].toDF("actual", "predicted", "n")
    // score every prototype once in its own projection (no HOF CSE),
    // then strictly-greater fold over label-ascending cells = ties keep
    // the LOWEST label, mirroring ORDER BY score DESC, label ASC
    val scoredCells = transform(typedlit(cents), c => struct(
      coalesce(round(cosineNative(col("embedding"), c.getField("_2")), 6),
        lit(-2.0)).as("score"),
      c.getField("_1").as("lbl")))
    val predicted = argmaxFold(scoredCells,
      struct(lit(-3.0).as("score"), lit(-1).as("lbl")), "score", "lbl")
    Tables.embeddings(spark, sfDir)
      .select(col("label").as("actual"), predicted.as("predicted"))
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("actual", "predicted")
  }

  /** q_label_noise: mislabel audit — for EVERY vector, its 6dp cosine to
    * its OWN label's prototype vs the best OTHER prototype; a vector
    * whose best impostor beats its own class (suspect = true) is the
    * classic confident-mislabel signal (the Cleanlab-style check every
    * labeled training set gets before a model sees it). Same machinery
    * as [[centroidClassify]]: closed-form exact prototypes collected
    * once (L×d — metadata-sized at any corpus scale) and ridden into a
    * single corpus projection as a typed literal; zero shuffle, scores
    * micro-quantized so the output is scalar BIGINTs the oracle replays
    * bit-for-bit. Ties keep the LOWEST impostor label (strictly-greater
    * fold over label-ascending cells — the NB argmax convention).
    */
  def labelNoiseAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val cents: Seq[(Int, Seq[Double])] =
      labelCentroids(spark, sfDir)
        .select(col("label").cast("int"), col("dim"), col("c"))
        .as[(Int, Int, Double)].collect().toSeq
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (l, rows) => (l, rows.sortBy(_._2).map(_._3)) }
    if (cents.isEmpty)
      return Seq.empty[(Long, Int, Long, Int, Long, Boolean)]
        .toDF("vec_id", "label", "own_micro", "alt_label", "alt_micro",
          "suspect")
    val scoredCells = transform(typedlit(cents), c => struct(
      coalesce(round(cosineNative(col("embedding"), c.getField("_2")), 6),
        lit(-2.0)).as("score"),
      c.getField("_1").as("lbl")))
    // the impostor fold re-runs per extracted field (Catalyst does not
    // CSE lambdas) — row-local over ≤L cells, negligible
    val altFold = "aggregate(filter(cells, c -> c.lbl != label), " +
      "named_struct('score', CAST(-3.0 AS DOUBLE), 'lbl', -1), " +
      "(acc, x) -> CASE WHEN x.score > acc.score THEN x ELSE acc END)"
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), scoredCells.as("cells"))
      .select(col("vec_id"), col("label"),
        expr("CAST(round(element_at(filter(cells, c -> c.lbl = label), 1)" +
          ".score * 1000000) AS BIGINT)").as("own_micro"),
        expr(s"$altFold.lbl").as("alt_label"),
        expr(s"CAST(round($altFold.score * 1000000) AS BIGINT)")
          .as("alt_micro"))
      .withColumn("suspect", col("alt_micro") > col("own_micro"))
      .orderBy("vec_id")
  }

  /** q_hard_negatives: contrastive pair mining — for each query vector
    * (the fixed `vec_id < nQueries` budget, the [[knnClassify]] scale
    * contract), the best POSITIVE (nearest same-label vector) and the
    * HARD NEGATIVE (nearest different-label vector: the impostor a
    * contrastive loss most needs), plus their margin. This is the mining
    * step of every embedding-training pipeline (triplet/InfoNCE batches
    * are built from exactly these pairs).
    *
    * Scale posture: one corpus scan against the broadcast queries; the
    * two argmaxes are conditional MAX aggregates over a (cosine, −vec_id)
    * struct — struct ordering gives cosine DESC with lowest-id ties, and
    * max is partially aggregable, so the only exchange carries one
    * pre-combined struct pair per query (no per-query window funnel, no
    * top-k state). NULL positive/negative (a label with one member, or a
    * single-label corpus) stays NULL through the margin.
    */
  def hardNegatives(spark: SparkSession, sfDir: String,
                    nQueries: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"), col("vec_id"), col("label"),
        coalesce(round(cosineNative(col("q_emb"), col("embedding")), 6),
          lit(-2.0)).as("cosine"))
    def best(cond: Column): Column =
      max(when(cond, struct(col("cosine"), (-col("vec_id")).as("nid"))))
    val mined = scored
      .groupBy(col("query_id"))
      .agg(best(col("label") === col("q_label")).as("pos"),
        best(col("label") =!= col("q_label")).as("neg"))
    // EVERY query emits a row — a query with no candidates at all (a
    // single-vector corpus) must still surface with NULL pos/neg, exactly
    // like the oracle's LEFT JOIN from the query set; aggregating the
    // cross join alone would silently drop it
    q.select(col("query_id"), col("q_label").as("label"))
      .join(broadcast(mined), Seq("query_id"), "left")
      .select(col("query_id"), col("label"),
        (-col("pos.nid")).as("pos_id"), col("pos.cosine").as("pos_cos"),
        (-col("neg.nid")).as("neg_id"), col("neg.cosine").as("neg_cos"),
        // both operands are 6dp-rounded doubles, so the difference never
        // lands on a rounding tie; +0.0 canonicalizes an exact-zero
        // margin's sign (the driver hash sees the bit)
        (round(col("pos.cosine") - col("neg.cosine"), 6) + lit(0.0))
          .as("margin"))
      .orderBy("query_id")
  }

  // ——— Binary (sign-bit) quantization + Hamming prefilter ———

  /** Sign-bit words of a float vector: bit b of word w is set when
    * component w·64+b is ≥ 0 — 1 bit/dim (a 32× cut, and Hamming distance
    * is one xor+popcount per 64 dims). The standard first-stage filter of
    * a binary-quantized vector index; built with the same static 64-when
    * reduction as the SimHash signature.
    */
  private def signWords(v: Column, dim: Int): Column = {
    val words = (dim + 63) / 64
    array((0 until words).map { w =>
      (0 until math.min(64, dim - w * 64)).map { b =>
        when(element_at(v, w * 64 + b + 1) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    }: _*)
  }

  /** Binary-quantized top-k: Hamming-rank the corpus sign bits against
    * each query's (bits never shuffle; broadcast queries + the O(n)/query
    * partial top-n), keep the `rerank` best candidates (ties to lowest
    * vec_id — Hamming ties are common), then exact-cosine re-rank ONLY
    * those. The corpus floats are touched for rerank·queries rows; the
    * ranking scan reads 1 bit/dim. Same recall/precision shape as a
    * production binary-prefilter tier; output schema matches
    * [[cosineTopK]] so the two are directly comparable.
    */
  def binaryTopK(spark: SparkSession, sfDir: String,
                 nQueries: Int, k: Int, rerank: Int = 30): DataFrame = {
    val dim = embeddingDim(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.select(col("vec_id"), signWords(col("embedding"), dim).as("bits"))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        signWords(col("embedding"), dim).as("q_bits"))
    // native codegen'd xor+popcount loop — value-identical to the HOF
    // fold (integer arithmetic; pinned in HammingDistanceExprSpec) but
    // with no lambda dispatch or intermediate array per (query, corpus)
    // pair, which is the whole ranking cost of this tier
    val hamming = graft.functions.HammingDistanceExpr
      .hammingNative(col("bits"), col("q_bits"))
    val topn = udaf(new TopKByScore(rerank))
    val cand = corpus.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), (-hamming.cast("double")).as("s"))
      .groupBy(col("query_id"))
      .agg(topn(col("s"), col("vec_id")).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding").as("v_emb")), "vec_id")
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qq"))),
        "query_id")
      .select(col("query_id"), col("vec_id"),
        coalesce(round(cosineNative(col("qq"), col("v_emb")), 6), lit(-2.0))
          .as("cosine"))
    topKPerQuery(rescored, k)
  }

  /** Symmetric int8 quantization of the embedding column — the 4×
    * memory/bandwidth cut that makes a 100 TB ANN corpus fit executor
    * memory: scale = max|x|/127 per vector, qᵢ = ⌊xᵢ/scale + 0.5⌋ ∈
    * [−127, 127]. Reports the per-vector reconstruction error so the
    * recall cost of quantization is measurable. Entirely row-local HOF
    * arithmetic (one projection per derived array — Catalyst does not CSE
    * lambda expressions), with explicit ⌊x+0.5⌋ rounding because engine
    * `round()` tie-break rules differ.
    */
  def quantizeEmbeddings(spark: SparkSession, sfDir: String): DataFrame = {
    val xd = transform(col("embedding"), v => v.cast("double"))
    val scaleRaw = aggregate(col("xd"), lit(0.0),
      (m, v) => greatest(m, abs(v))) / 127
    val scale = when(col("scale_raw") === 0, lit(1.0))
      .otherwise(col("scale_raw"))
    val qv = transform(col("xd"), v => floor(v / col("scale") + lit(0.5)))
    val err2 = aggregate(
      zip_with(col("xd"), col("qv"),
        (a, b) => (a - b * col("scale")) * (a - b * col("scale"))),
      lit(0.0), (acc, v) => acc + v)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), xd.as("xd"))
      .withColumn("scale_raw", scaleRaw)
      .withColumn("scale", scale)
      .withColumn("qv", qv)
      // integer micro-units with explicit ⌊x+0.5⌋: engine round() on a
      // tie-boundary double diverges; this is exact on identical bits.
      // The error fold must see the RAW scale, so the rounded display
      // value gets its alias in a separate projection — aliasing it
      // "scale" in the same select would capture the fold's reference
      // via lateral column aliasing.
      .select(col("vec_id"), col("label"), col("scale"),
        floor(sqrt(err2) * 1e6 + 0.5).cast("long").as("err_l2_micro"))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 8).as("scale"), col("err_l2_micro"))
      .orderBy("vec_id")
  }

  // ——— Index/compression fidelity suite ———
  //
  // Every lossy retrieval tier (IVF-PQ cells+codes, dimension truncation,
  // int8 quantization) trades recall for scan cost. Production pipelines
  // pick the operating point from a MEASURED recall@k table, not vibes —
  // this family computes that table inside the engine, as the same kind
  // of deterministic, oracle-checkable query as everything else. The
  // expensive side (exact brute-force reference) runs over the FIXED
  // query budget (`vec_id < nQueries`, the [[cosineTopK]] scale
  // contract), so the whole evaluation is O(n·nQueries) regardless of
  // corpus size and the recall join itself is output-sized.

  /** recall@k of `candidate` against `reference` per query: both are
    * (query_id, vec_id, …) top-k tables; a hit is a reference id the
    * candidate also returned. The join runs on two k·nQueries-row inputs
    * — broadcast-sized at any corpus scale — and the recall double is
    * ONE division of small exact integers, rounded 6dp (identical bits
    * in any engine).
    */
  private def recallPerQuery(reference: DataFrame,
                             candidate: DataFrame): DataFrame =
    reference.select(col("query_id"), col("vec_id"))
      .join(candidate.select(col("query_id"), col("vec_id"))
          .withColumn("hit", lit(1L)),
        Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("n_exact").cast("double"), 6))
      .orderBy("query_id")

  /** q_ann_recall: recall@k of the composed IVF-PQ serving path
    * ([[ivfPqTopK]]) against the exact brute-force reference
    * ([[cosineTopK]]) — the ONE number that decides nprobe/rerank at
    * 100 TB (raise either until this table stops improving). Both sides
    * are deterministic (fixed centroids/codebooks, 6dp tie conventions),
    * so the oracle replays the entire evaluation.
    */
  def annRecall(spark: SparkSession, sfDir: String,
                nQueries: Int, k: Int): DataFrame =
    recallPerQuery(cosineTopK(spark, sfDir, nQueries, k),
      ivfPqTopK(spark, sfDir, nQueries, k))

  /** q_recall_curve: recall@k for k ∈ {1, 5, 10} of the SAME two top-10
    * tables [[annRecall]] compares — the tuning CURVE, not a point: a
    * tier that is fine at k=10 but poor at k=1 mis-ranks its head, which
    * rerank can fix; poor everywhere means the probes miss cells, which
    * only nprobe can fix. Reading both diagnoses off one artifact costs
    * two already-computed k·nQueries tables joined once (hits@k = pairs
    * where BOTH ranks ≤ k) — no extra corpus work at any scale.
    */
  def recallCurve(spark: SparkSession, sfDir: String,
                  nQueries: Int, k: Int): DataFrame = {
    import spark.implicits._
    val ref = cosineTopK(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("vec_id"), col("rnk").as("ref_rnk"))
    val cand = ivfPqTopK(spark, sfDir, nQueries, k)
      .select(col("query_id"), col("vec_id"), col("rnk").as("cand_rnk"))
    // curve points clamped to the computed depth: a k below a point
    // would otherwise emit rows LABELED with that point but measured on
    // a shallower table — silently wrong numbers, not an error
    val points = Seq(1, 5, 10).filter(_ <= k)
    ref.join(cand, Seq("query_id", "vec_id"), "left")
      .crossJoin(points.toDF("k"))
      .filter(col("ref_rnk") <= col("k"))
      .groupBy(col("k"), col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("cand_rnk") <= col("k"), 1L).otherwise(0L)).as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / col("n_exact").cast("double"), 6))
      .orderBy("k", "query_id")
  }

  /** Exact cosine top-k over only the FIRST `dims` dimensions — the
    * Matryoshka-truncation candidate generator. Same plan shape as
    * [[cosineTopK]] (broadcast queries, one corpus scan, partial top-k);
    * the slice happens in the projection, so at real scale a column
    * layout that stores leading dims first reads only `dims` floats.
    */
  private def truncatedTopK(spark: SparkSession, sfDir: String,
                            nQueries: Int, k: Int, dims: Int): DataFrame =
    bruteTopK(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), slice(col("embedding"), 1, dims).as("t_emb")),
      "t_emb", nQueries, k)

  /** q_dim_ablation: recall@k of truncated-dimension retrieval (first
    * 16 and first 32 of the stored dims) against the full-dimension
    * exact reference — the measurement behind "can we serve the ANN
    * tier from a 4×-narrower Matryoshka prefix?". One row per
    * (dims, query); the full reference is computed once and joined
    * against both ablations.
    */
  def dimAblation(spark: SparkSession, sfDir: String,
                  nQueries: Int, k: Int): DataFrame = {
    val reference = cosineTopK(spark, sfDir, nQueries, k)
    Seq(16, 32).map { d =>
      recallPerQuery(reference, truncatedTopK(spark, sfDir, nQueries, k, d))
        .withColumn("dims", lit(d))
    }.reduce(_.unionByName(_))
      .select(col("dims"), col("query_id"), col("n_exact"),
        col("n_hits"), col("recall"))
      .orderBy("dims", "query_id")
  }

  /** q_quantize_recall: recall@k of int8-quantized retrieval against the
    * full-precision reference — the fidelity half of
    * [[quantizeEmbeddings]]' 4× memory cut. Cosine is scale-invariant,
    * so scoring runs DIRECTLY on the integer code arrays (the per-vector
    * scale cancels): every dot/norm term is a sum of ≤127² products over
    * the embedding width — exact integer arithmetic in doubles — and the
    * quantization itself is the exact ⌊x/scale+0.5⌋ the q_quantize_embed
    * oracle already replays bit-for-bit.
    */
  def quantizeRecall(spark: SparkSession, sfDir: String,
                     nQueries: Int, k: Int): DataFrame = {
    val xd = transform(col("embedding"), v => v.cast("double"))
    val scaleRaw = aggregate(col("xd"), lit(0.0),
      (m, v) => greatest(m, abs(v))) / 127
    val scale = when(col("scale_raw") === 0, lit(1.0))
      .otherwise(col("scale_raw"))
    // one derived array per projection — Catalyst does not CSE lambdas
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), xd.as("xd"))
      .withColumn("scale_raw", scaleRaw)
      .withColumn("scale", scale)
      // floor() yields LONG; the kernel wants float|double arrays — the
      // cast is exact (codes are integers ≤ 127)
      .select(col("vec_id"),
        transform(col("xd"),
          v => floor(v / col("scale") + lit(0.5)).cast("double"))
          .as("q_vec"))
    recallPerQuery(cosineTopK(spark, sfDir, nQueries, k),
      bruteTopK(emb, "q_vec", nQueries, k))
  }
}
