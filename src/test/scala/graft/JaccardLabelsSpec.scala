package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** The r17 verdict item: duplicate-cluster labels must be derivable
  * WITHOUT materializing the per-clique-quadratic verified pair
  * relation. Pins (a) label identity between the incremental union-find
  * build (both routes) and the pair-path labels, (b) that the
  * incremental build actually SKIPS within-component verifications on a
  * clique-heavy corpus, (c) the derive-from-the-cheaper-source routing
  * of [[Dedup.ensureClusters]], and (d) pair-plan route invariance
  * (collapsed == direct).
  */
class JaccardLabelsSpec extends SparkTestBase {
  import spark.implicits._

  // Near-identical cliques the identical-set collapse CANNOT absorb:
  // every member has a DISTINCT shingle set, yet all pairs clear J≥0.8.
  // 60 unique words; member j of a clique swaps the word at position 3j
  // for a member-unique token — a pair differs in ≤2 positions ⇒
  // |A∩B| ≥ 52 of 58 shingles ⇒ J ≥ 52/64 = 0.8125.
  // LETTERS-ONLY tokens throughout: the tokenizer strips digits, so a
  // digit-suffixed word family ("word0", "word1", …) silently collapses
  // to ONE token and the fixture degenerates (the ScaleSmoke replica
  // perturbation hit the same trap at r16).
  // DISJOINT per-family vocabularies: members of one clique must pair
  // with each other and with NOTHING else (a shared vocabulary would
  // chain the cliques into one giant component).
  private val letters = "abcdefghijklmnopqrstuvwxyz"
  private def famWords(f: Int): IndexedSeq[String] =
    (0 until 60).map(i => s"${letters(f)}w${letters(i % 26)}${letters(i / 26)}")
  private def cliqueDoc(family: Int, member: Int): String =
    famWords(family).updated(3 * member,
      s"v${letters(family)}${letters(member)}").mkString(" ")

  private def fixtureDocs: Seq[(Long, String)] = {
    val cliqueA = (0 until 12).map(j => (100L + j, cliqueDoc(1, j)))
    val cliqueB = (0 until 5).map(j => (300L + j, cliqueDoc(2, j) + " extra"))
    // chain X~Y~Z with J(X,Z) < 0.8: Y swaps {0}, Z swaps {0,3,6} with
    // Y's token at 0 — X–Y and Y–Z clear the bar, X–Z (3 swaps) fails
    val chainWords = famWords(3)
    val x = chainWords.mkString(" ")
    val y = chainWords.updated(0, "chaintokaa").mkString(" ")
    val z = chainWords.updated(0, "chaintokaa").updated(3, "chaintokbb")
      .updated(6, "chaintokcc").mkString(" ")
    val chain = Seq((500L, x), (501L, y), (502L, z))
    // an identical-set group (exercises lone-group expansion on the
    // collapsed route) plus unrelated singletons
    val ident = (600L to 603L).map(i =>
      (i, "same exact tiny story told four separate times again tonight"))
    val singles = Seq(
      (700L, "completely unrelated content about distributed query engines"),
      (701L, "another standalone document with its very own vocabulary set"))
    cliqueA ++ cliqueB ++ chain ++ ident ++ singles
  }

  private def writeCorpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_jlabels").toString
    fixtureDocs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def labelRows(df: DataFrame): Set[(Long, Long, Long)] =
    df.select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet

  test("incremental label build (both routes) == pair-path labels; quadratic verify skipped") {
    val dir = writeCorpus()
    val pairPath = labelRows(Dedup.dupClustersFromPairs(spark,
      Dedup.jaccardPairsPlan(spark, dir, 0.8, collapse = false,
        sorted = false).select("doc_a", "doc_b")))
    // fixture sanity: the 12-clique, 5-clique, full chain (one component
    // via Y), identical group of 4, and no singleton rows
    assert(pairPath.map(_._1) ===
      ((100L until 112L) ++ (300L until 305L) ++
        (500L to 502L) ++ (600L to 603L)).toSet)
    assert(pairPath.count(_._3 == 12L) === 12)
    assert(pairPath.filter(r => r._1 >= 500 && r._1 <= 502).map(_._3) === Set(3L))

    val inc = labelRows(Dedup.jaccardLabelsPlan(spark, dir, 0.8,
      collapse = false))
    assert(inc === pairPath)
    val stats = Dedup.lastLabelStats.get()
    // the 12-clique alone contributes 66 candidate pairs; the sparse
    // round's path∪star selection resolves it with ≤ ~2·12, so a
    // material share of the candidate set must never reach verification
    assert(stats.skipped >= 30,
      s"expected quadratic clique mass skipped, got $stats")
    assert(stats.verifiedSparse + stats.verifiedBulk + stats.skipped ===
      stats.candidates)
    assert(stats.route !== "bail", s"the clique fixture must run its sparse rounds: $stats")

    val incCollapsed = labelRows(Dedup.jaccardLabelsPlan(spark, dir, 0.8,
      collapse = true))
    assert(incCollapsed === pairPath)
  }

  test("sparse rounds bail to one bulk verify on a low-dup corpus; labels == pair-path labels") {
    // near-dup pairs and 3-cliques in disjoint vocabularies, plus
    // singletons: a round's min-partner selection covers every candidate,
    // so there is no clique mass for a sparse round to skip
    val pairs = (4 until 8).flatMap(f =>
      Seq((1000L + 10 * f, cliqueDoc(f, 0)), (1001L + 10 * f, cliqueDoc(f, 1))))
    val triples = (8 until 11).flatMap(f =>
      (0 until 3).map(j => (1000L + 10 * f + j, cliqueDoc(f, j))))
    val singles = (11 until 14).map(f => (1000L + 10 * f, famWords(f).mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("graft_jlabels_lowdup").toString
    try {
      (pairs ++ triples ++ singles).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      val pairPath = labelRows(Dedup.dupClustersFromPairs(spark,
        Dedup.jaccardPairsPlan(spark, dir, 0.8, collapse = false,
          sorted = false).select("doc_a", "doc_b")))
      assert(pairPath.toSeq.map(_._3).sorted ===
        Seq.fill(8)(2L) ++ Seq.fill(9)(3L), "fixture drifted")
      val inc = labelRows(Dedup.jaccardLabelsPlan(spark, dir, 0.8,
        collapse = false))
      val stats = Dedup.lastLabelStats.get()
      assert(stats.route === "bail", s"expected the bail route, got $stats")
      assert(stats.verifiedSparse === 0L && stats.verifiedBulk === stats.candidates)
      assert(inc === pairPath)
    } finally graft.util.Scratch.deleteRecursively(dir)
  }

  test("pair plan is route-invariant: collapsed == direct") {
    val dir = writeCorpus()
    val direct = Dedup.jaccardPairsPlan(spark, dir, 0.8, collapse = false)
      .as[(Long, Long, Double)].collect().toSet
    val collapsed = Dedup.jaccardPairsPlan(spark, dir, 0.8, collapse = true)
      .as[(Long, Long, Double)].collect().toSet
    assert(direct.nonEmpty)
    // the identical group must appear at exactly J = 1.0 on both routes
    assert(direct.count { case (a, b, j) => a >= 600 && b <= 603 && j == 1.0 } === 6)
    assert(collapsed === direct)
  }

  test("ensureClusters routes: incremental when pairs absent, from-pairs when present") {
    val dir = writeCorpus()
    val incLabels = labelRows(
      spark.read.parquet(Dedup.ensureClusters(spark, dir, 0.8)))
    assert(Dedup.lastLabelRoute.get() === "incremental")
    // a SECOND corpus dir (fresh memo keys) with the pair relation built
    // first must take the free derive-from-pairs route — and agree
    val dir2 = writeCorpus()
    Dedup.ensureJaccardPairs(spark, dir2, 0.8)
    val fromPairs = labelRows(
      spark.read.parquet(Dedup.ensureClusters(spark, dir2, 0.8)))
    assert(Dedup.lastLabelRoute.get() === "pairs")
    assert(fromPairs === incLabels)
  }
}
