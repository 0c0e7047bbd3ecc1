package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("exactDedup keeps min doc_id per identical text with group size") {
    val docs = Seq(
      (1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "dd ee"),
      (4L, "aa bb cc"), (5L, "dd ee"), (6L, "unique here"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("dedup_fixture")
    val out = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
    val got = Dedup.exactDedup(spark, out)
      .select("doc_id", "group_size").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (3L, 2L), (6L, 1L)))
  }

  test("minhash LSH pairs == exact n-gram Jaccard pairs at threshold 0.8 (sf0.001)") {
    // LSH has no false positives (exact verify step); at J≥0.8 with
    // 16 bands × 4 rows the false-negative probability is ≈2e-4 per pair.
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashLshPairs(spark, sf, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact), "LSH produced a pair exact Jaccard rejects")
    assert(exact === lsh, s"LSH missed ${(exact -- lsh).size} of ${exact.size} pairs")
  }

  test("groupedPairs: array emission and salted oversize path emit identical ordered pairs") {
    val df = (Seq.tabulate(10)(i => ("g1", i.toLong + 1)) ++
      Seq(("g2", 100L), ("g2", 101L), ("g2", 102L)) ++
      Seq(("solo", 999L)))
      .toDF("k", "id")
    val want = (for {
      a <- 1L to 10L; b <- (a + 1) to 10L
    } yield (a, b)).toSet ++ Set((100L, 101L), (100L, 102L), (101L, 102L))
    // cap 64: every group goes through row-local sorted-array emission
    val small = Dedup.groupedPairs(df, Seq("k"), "id", 64)
      .as[(Long, Long)].collect()
    assert(small.length === want.size, "array path emitted a duplicate pair")
    assert(small.toSet === want)
    // cap 2: the 10-member and 3-member groups exceed it → salted
    // self-join path; output must be IDENTICAL
    val salted = Dedup.groupedPairs(df, Seq("k"), "id", 2)
      .as[(Long, Long)].collect()
    assert(salted.length === want.size, "salted path emitted a duplicate pair")
    assert(salted.toSet === want)
    assert(want.forall { case (a, b) => a < b })
  }

  test("minhashLshPairs on a dup-heavy corpus: guarded plan == brute force, cap-invariant") {
    // the NORMAL crawl shape: large groups of byte-identical docs plus
    // near-identical variants — naive banding is quadratic in the group
    // size here; the identical-set collapse + capped bucket emission must
    // keep the OUTPUT identical while bounding the work
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " +
      "ant bee cat dog elk fox"
    val nearDup = base.replace("fox", "gnu") // 30 tokens, 1 tail swap: J≈0.89
    val docs = (
      (1L to 12L).map(i => (i, base)) ++                  // 12 identical
      (21L to 25L).map(i => (i, "one two three four five six seven eight nine ten")) ++
      Seq((31L, nearDup)) ++                               // near-dup of group 1
      Seq((41L, "totally different content about spark engines and parquet files"),
          (42L, "another unrelated document body with its own words entirely"),
          (51L, "tiny doc"), (52L, "tiny doc"))            // <3 tokens: no shingles
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_dupheavy").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shingles = Dedup.shingleIndex(spark, dir)
      .as[(Long, String)].collect()
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val want = (for {
      (a, sa) <- shingles.toSeq
      (b, sb) <- shingles.toSeq if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      jr = BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if jr >= 0.8
    } yield (a, b, jr)).toSet
    // the fixture must exercise every regime: a 12-group, a 5-group, a
    // cross-group near-dup pair, and shingle-less docs that never pair
    assert(want.size === (66 + 10 + 12), s"fixture drifted: ${want.size} pairs")
    assert(want.exists { case (_, b, j) => b == 31L && j < 1.0 })
    assert(!want.exists { case (a, b, _) => a == 51L || b == 52L })
    // default routing: 76 same-set pairs sit under the collapse
    // threshold, so this exercises the DIRECT branch
    val got = Dedup.minhashLshPairs(spark, dir, 0.8)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
    // force the COLLAPSED branch (representative banding + member
    // expansion): identical output, route-invariant
    val gotCollapsed = Dedup.minhashLshPairs(spark, dir, 0.8,
        collapseMinPairs = 1L)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotCollapsed === want)
    // forcing EVERY group/bucket through the salted oversize path must
    // not change a single pair (collapsed route, tiny cap)
    val gotCap1 = Dedup.minhashLshPairs(spark, dir, 0.8, bucketCap = 1,
        collapseMinPairs = 1L)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotCap1 === want)
  }

  test("packed shingle sets, dup groups and PPJoin candidates match their string-shingle definitions") {
    import org.apache.spark.sql.expressions.Window
    // the reference definitions, over the string shingle relation: the
    // groupBy packing, the sha-256 group map over sorted shingle strings,
    // and the two-window PPJoin prefix
    def check(dir: String): Unit = {
      val c = Dedup.corpus(spark, dir)
      val sh = Dedup.shingleIndex(spark, dir)
      val packed = sh.groupBy("doc_id").agg(
        sort_array(collect_list(xxhash64(col("sh")))).as("hs"),
        count(lit(1)).as("n_sh"))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "hs", "n_sh").as[(Long, Seq[Long], Long)].collect().toSet
      assert(rows(Dedup.shingleSets(spark, c)) === rows(packed))

      val fp = sh.groupBy("doc_id").agg(
        sha2(concat_ws("\u0000", sort_array(collect_list(col("sh")))), 256).as("fp"))
      val groups = fp.join(fp.groupBy("fp").agg(min(col("doc_id")).as("rep")), "fp")
        .select("doc_id", "rep").as[(Long, Long)].collect().toSet
      assert(spark.read.parquet(Dedup.ensureDupGroups(spark, c))
        .select("doc_id", "rep").as[(Long, Long)].collect().toSet === groups)
      assert(Dedup.dupPairsCount(spark, c) === groups.groupBy(_._2).values
        .map(g => g.size.toLong * (g.size - 1) / 2).sum)

      val reps = groups.collect { case (d, r) if d == r => d }.toSeq.toDF("doc_id")
      for (overReps <- Seq(false, true)) {
        val hashed = sh.select(col("doc_id"), xxhash64(col("sh")).as("sh"))
        val side = if (overReps) hashed.join(reps, "doc_id") else hashed
        val freq = side.groupBy("sh").agg(count(lit(1)).as("df"))
        val prefix = side.join(freq, "sh")
          .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
          .filter(col("rn") <= col("n_sh") - ceil(lit(0.8) * col("n_sh")) + 1)
        val tEff = 0.8 - 5e-7
        val want = prefix.as("x").join(prefix.as("y"), "sh")
          .where(col("x.doc_id") < col("y.doc_id") &&
            least(col("x.n_sh"), col("y.n_sh")) >=
              lit(0.8) * greatest(col("x.n_sh"), col("y.n_sh")))
          .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
          .agg(max(lit(1) + least(col("x.n_sh") - col("x.rn"),
            col("y.n_sh") - col("y.rn"))).as("ub"))
          .where(col("ub") >= ceil(lit(tEff / (1 + tEff)) *
            (col("na") + col("nb")) - lit(1e-9)))
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
        val got = spark.read.parquet(
            Dedup.ensureJaccardCandidates(spark, c, 0.8, overReps))
          .as[(Long, Long)].collect().toSet
        assert(got === want, s"candidates differ (overReps = $overReps)")
      }
    }
    check(sf)
    // a doc under 3 tokens (no shingles, so no row), an identical-set
    // group, a near-dup pair and a doc_id stored twice
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq((1L, base), (2L, base), (3L, base.replace("mu", "nu")),
      (4L, "tiny doc"), (5L, "one two three four five"), (5L, "four five six seven"),
      (6L, "unrelated words about spark parquet files and query plans"))
    val dir = java.nio.file.Files.createTempDirectory("graft_shinglesets").toString
    try {
      docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      check(dir)
      assert(!Dedup.shingleSets(spark, Dedup.corpus(spark, dir))
        .as[(Long, Seq[Long], Long)].collect().exists(_._1 == 4L))
    } finally graft.util.Scratch.deleteRecursively(dir)
  }

  test("containmentPairs == brute-force asymmetric containment at 0.9") {
    // prefix filtering for containment is a theorem (pigeonhole over the
    // ⌊(1−t)·|A|⌋ misses), not a probabilistic recall bound — the output
    // must EQUAL the brute-force all-pairs result, both orientations
    val shingles = graft.operators.Dedup.shingleIndex(spark, sf)
      .as[(Long, String)].collect()
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val want = (for {
      (a, sa) <- shingles.toSeq
      (b, sb) <- shingles.toSeq if a != b
      c = (sa & sb).size.toDouble / sa.size
      cr = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cr >= 0.9
    } yield (a, b, cr)).toSet
    assert(want.nonEmpty, "fixture has no containment pair to check")
    // symmetric near-identity must appear in both orientations somewhere
    assert(want.exists { case (a, b, _) => want.exists(p => p._1 == b && p._2 == a) })
    val got = Dedup.containmentPairs(spark, sf, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got === want)
  }

  test("decontaminate == brute-force benchmark containment; bench side broadcasts") {
    val shingles = graft.operators.Dedup.shingleIndex(spark, sf)
      .as[(Long, String)].collect()
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    val want = (for {
      (b, sb) <- shingles.toSeq if b % 97 == 3
      (t, st) <- shingles.toSeq if t % 97 != 3
      c = (st & sb).size.toDouble / sb.size
      cr = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if cr >= 0.5
    } yield (t, b, (st & sb).size.toLong, sb.size.toLong, cr)).toSet
    assert(want.nonEmpty, "fixture has no contaminated doc to check")
    val df = Dedup.decontaminate(spark, sf)
    val got = df.as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got === want)
    // the scale contract: the benchmark side is fixed-size, so the
    // overlap join must be a broadcast — never a corpus self-shuffle
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "benchmark shingles must broadcast")
  }

  test("incrementalNeardup == exact batch-vs-corpus matches reduced to best match") {
    // ngramJaccardPairs is exact all-pairs; restrict it to (new=doc_id≡7
    // mod 10, old=rest) in either orientation and reduce per new doc to
    // (best jaccard, ties to min old id, match count) — the incremental
    // LSH path must reproduce that exactly (same recall argument as the
    // LSH==exact test above: exact verify kills false positives, banding
    // misses with P≈2e-4).
    val exact = Dedup.ngramJaccardPairs(spark, sf, 0.8)
      .as[(Long, Long, Double)].collect()
    val directed = exact.flatMap { case (a, b, j) => Seq((a, b, j), (b, a, j)) }
      .filter { case (n, o, _) => n % 10 == 7 && o % 10 != 7 }
    assert(directed.nonEmpty, "fixture has no new-batch near-dup to check")
    val want = directed.groupBy(_._1).map { case (n, ms) =>
      val (_, bestOld, bestJ) = ms.minBy { case (_, o, j) => (-j, o) }
      (n, bestOld, bestJ, ms.length.toLong)
    }.toSet
    val got = Dedup.incrementalNeardup(spark, sf, 0.8)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === want)
  }

  test("simhash: identical texts get identical signatures; near-dups are close") {
    val sigs = Dedup.simhashSignatures(spark, sf)
      .as[(Long, Long)].collect().toMap
    // exact-duplicate docs (same text) must collide exactly
    val fps = graft.operators.TextAnalysis.fingerprints(spark, sf)
      .as[(Long, String, Long)].collect()
    // near-dup pairs from exact Jaccard should be within small hamming distance
    val near = Dedup.ngramJaccardPairs(spark, sf, 0.9)
      .as[(Long, Long, Double)].collect()
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    near.foreach { case (a, b, j) =>
      assert(hamming(sigs(a), sigs(b)) <= 12,
        s"docs $a,$b with jaccard $j have hamming ${hamming(sigs(a), sigs(b))}")
    }
    assert(sigs.size === fps.length)
  }

  test("simhashPairs finds the planted near-duplicates") {
    val pairs = Dedup.simhashPairs(spark, sf, 12)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val planted = Dedup.ngramJaccardPairs(spark, sf, 0.95)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(planted.subsetOf(pairs),
      s"simhash missed ${(planted -- pairs).size} of ${planted.size} planted pairs")
  }

  test("leakageSafeSplit: report matches driver recompute; clusters never straddle") {
    val labels = Dedup.dupClusters(spark, sf, 0.8)
      .as[(Long, Long, Long)].collect().map { case (d, c, _) => d -> c }.toMap
    def bucket(key: Long): Long = ((BigInt(key) * 2654435761L) % 4294967296L).toLong % 100
    def side(key: Long): String = {
      val b = bucket(key); if (b < 98) "train" else if (b < 99) "val" else "test"
    }
    // the property the operator exists for: both ends of every near-dup
    // pair land on the same side (they hash the same cluster label)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(spark, sf, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(side(labels(a)) === side(labels(b)), s"pair ($a,$b) straddles")
    }
    // full report equality
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).cast("long"))
      .as[(Long, Long)].collect()
    val rows = docs.map { case (d, nt) =>
      (side(labels.getOrElse(d, d)), d, nt, labels.contains(d))
    }
    val want = rows.groupBy(_._1).map { case (s, xs) =>
      (s, xs.length.toLong, xs.map(_._3).sum,
        xs.count(_._4).toLong, xs.map(_._2).min, xs.map(_._2).max)
    }.toSet
    val got = graft.operators.Sampling.leakageSafeSplit(spark, sf, 0.8)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === want)
  }

  test("dupClusters: min-label propagation matches brute-force components") {
    // chain 1-2-3 (transitivity), pair 10-11, triangle 20-21-22, long
    // path 30..34 (forces >1 propagation round), singleton edge 40-41
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L), (40L, 41L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClustersFromPairs(spark, pairs)
      .as[(Long, Long, Long)].collect().toSet
    val want = Set(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 3L), (21L, 20L, 3L), (22L, 20L, 3L),
      (30L, 30L, 5L), (31L, 30L, 5L), (32L, 30L, 5L),
      (33L, 30L, 5L), (34L, 30L, 5L),
      (40L, 40L, 2L), (41L, 40L, 2L))
    assert(got === want)
  }

  test("dupClusters: driver-local small-graph path ≡ distributed labels") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L),
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L), (40L, 41L))
      .toDF("doc_a", "doc_b")
    val dist = Dedup.dupClustersFromPairs(spark, pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(!Dedup.lastCcLocal.get(), "default threshold must stay distributed")
    val local = Dedup.dupClustersFromPairs(spark, pairs, localEdgeThreshold = 1000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(Dedup.lastCcLocal.get(), "under-threshold graph must go local")
    assert(local === dist)
    // a measured count ABOVE the threshold keeps the distributed loop
    // (22 symmetric edges > 10)
    val over = Dedup.dupClustersFromPairs(spark, pairs, localEdgeThreshold = 10L)
      .as[(Long, Long, Long)].collect().toSet
    assert(!Dedup.lastCcLocal.get(), "over-threshold graph must stay distributed")
    assert(over === dist)
  }

  test("dupClusters: pointer doubling converges a long chain in O(log d) rounds") {
    // 65-vertex path graph: one-hop propagation alone needs 64 rounds to
    // carry the min to the far end; the l(l(v)) shortcut leg squares hop
    // distance per round, so convergence must land in ~log2(64)+slack
    val n = 64
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClustersFromPairs(spark, pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === (0 to n).map(i => (i.toLong, 0L, (n + 1).toLong)).toSet)
    val rounds = Dedup.lastCcRounds.get()
    assert(rounds <= 10,
      s"CC took $rounds rounds on a 65-vertex chain — pointer doubling broken?")
  }

  test("dupClusters with spark.graft.checkpointDir checkpoints reliably, same labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt_").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      val got = Dedup.dupClustersFromPairs(spark, pairs)
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
        (10L, 10L, 2L), (11L, 10L, 2L)))
      // reliable checkpoint data actually landed under the configured dir
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).getOrElse(Array.empty).exists(anyFile)
      assert(anyFile(new java.io.File(dir)),
        s"no checkpoint data written under $dir — rounds still local-only")
    } finally {
      spark.conf.unset("spark.graft.checkpointDir")
      graft.util.Scratch.deleteRecursively(dir)
    }
  }

  test("dupClusters propagation runs one Spark job per round") {
    // path 30-31-32-33-34: min-label needs 4 changing rounds + 1 confirming
    // round = 5. Jobs = 2 setup checkpoints + 1 per round = 7; the r2
    // implementation spent an extra convergence action per round (>=12).
    // AQE and broadcast are disabled so every eager checkpoint is exactly
    // one job (AQE runs stages as jobs; broadcast build is its own job).
    val pairs = Seq((30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))
      .toDF("doc_a", "doc_b")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // listener events are delivered asynchronously: drain the bus before
    // registering (no earlier test's jobs) and after the rounds (all of ours)
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val labels =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        Dedup.dupClustersFromPairs(spark, pairs) // eager rounds run here
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    org.apache.spark.graftshim.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 8,
      s"propagation used ${jobs.get()} jobs for 5 rounds — " +
        "expected one per round plus 3 setup checkpoints (raw edges with " +
        "observed count, graph-sized repartition, initial labels)")
    val got = labels.as[(Long, Long, Long)].collect().toSet
    assert(got === (30L to 34L).map(v => (v, 30L, 5L)).toSet)
  }

  test("dupClusters on the corpus: every near-dup pair lands in one cluster") {
    val labels = Dedup.dupClusters(spark, sf, 0.8)
      .as[(Long, Long, Long)].collect()
      .map { case (d, c, _) => d -> c }.toMap
    val pairs = Dedup.ngramJaccardPairs(spark, sf, 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(labels(a) === labels(b), s"pair ($a,$b) split across clusters")
    }
    // cluster label is the component minimum, so each label labels itself
    labels.values.toSet.foreach((c: Long) => assert(labels(c) === c))
  }
}
