package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCALE SMOKE — the missing evidence tier between the sf0.1 bench and
  * the 100 TB design claims: replicate the benchmark corpus N× (default
  * 10×, ~6M lineitem rows — "sf1") with per-replica key offsets, run the
  * heaviest relational + dedup + ANN queries at both scales, and report
  * the wall-time ratio per query. A query whose ratio blows past the data
  * ratio hides superlinear work (an accidental quadratic candidate set,
  * a broadcast flipped to a shuffle that thrashes) that sf0.1 alone
  * cannot expose.
  *
  * Replication preserves semantics, not statistics-identity:
  *  - every key column gets +replica·10^8, so FK joins stay within a
  *    replica and join/agg cardinalities scale linearly;
  *  - region/nation are genuine dimensions — copied, not replicated;
  *  - document text in replicas > 0 has every 4th word swapped for a
  *    replica token, so w-shingle sets are disjoint from the original
  *    (and from other replicas) and the near-dup workload scales ~N×
  *    instead of exploding quadratically on byte-identical copies. The
  *    token is LETTERS-ONLY ("zzb", "zzc", …): the tokenizer strips
  *    digits, so a digit-suffixed token ("zz1", "zz2") would collapse to
  *    the same token "zz" in every replica and silently make all N
  *    replicas of a document TOKEN-identical — exactly the quadratic
  *    dup-corpus this perturbation exists to avoid (the r16 smoke's 12×
  *    q_minhash_lsh ratio was this artifact, not engine work).
  *
  * ONE-SHOT ARTIFACT BUILDS (shingle relation, PPJoin pair relation,
  * cluster labels, oriented graph edges, PQ codes) are timed explicitly
  * at each scale BEFORE the query passes: the queries then measure pure
  * serve cost, and build scaling — which min-of-2 timing structurally
  * hides once the memo is warm — gets its own ratio rows.
  *
  * Output: ONE JSON line {"metric":"scale_smoke",...} with per-query
  * base/big seconds (min of 2 passes each), the ratio, and the physical
  * join mix at each scale, captured from the EXECUTED plan via a
  * QueryExecutionListener — so AQE's runtime replans (a broadcast
  * demoted after runtime stats) are what gets classified, not the
  * planning-time guess. Exits nonzero if any query fails or any ratio
  * exceeds `maxRatio` (default 3× the data factor — generous slack for
  * fixed costs and AQE variance at this JVM-local size, tight enough to
  * catch quadratics, which land at ~N·factor×). Build rows are reported
  * but not gated: one-shot builds on local disk inherit the host's
  * documented 2–4× IO swings.
  */
object ScaleSmoke {

  private val Stride = 100000000L

  /** Build (memoized per base-corpus state) the N×-replicated corpus. */
  private[graft] def ensureReplica(spark: SparkSession, base: String,
                                   factor: Int): String =
    graft.util.Scratch.memoizedDir(spark,
      s"graft_scale_${factor}x_" + graft.util.Scratch.valueToken(base),
      graft.sources.Tables.listingSig(
        graft.sources.Tables.lineitem(spark, base))) { path =>
      def rep(name: String, keyCols: Seq[String])(
          extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
        val src = spark.read.parquet(s"$base/$name.parquet")
        (0 until factor).map { r =>
          keyCols.foldLeft(extra(src, r))((df, k) =>
            df.withColumn(k, col(k) + lit(r * Stride)))
        }.reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(s"$path/$name.parquet")
      }
      // dimensions: copied once — nations/regions are the same everywhere
      Seq("region", "nation").foreach { n =>
        spark.read.parquet(s"$base/$n.parquet")
          .write.mode("overwrite").parquet(s"$path/$n.parquet")
      }
      rep("customer", Seq("c_custkey"))()
      rep("supplier", Seq("s_suppkey"))()
      rep("part", Seq("p_partkey"))()
      rep("orders", Seq("o_orderkey", "o_custkey"))()
      rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))()
      rep("events", Seq("event_id", "user_id"))()
      // embeddings replicate with offset ids and unchanged vectors: the
      // ANN rows below time candidate-bounded serving against an N×
      // corpus; duplicate vectors only add ties, which cost nothing extra
      rep("embeddings", Seq("vec_id"))()
      rep("documents", Seq("doc_id")) { (df, r) =>
        // letters-only per-replica token (see the header comment): 'a' is
        // skipped in the first letter, so it takes 25 values (b..z) and
        // the second 26 — tokens are distinct for factors up to 25·26 =
        // 650 (the require below guards the cap: a collision would
        // silently recreate the token-identical-replica artifact)
        require(factor <= 650, s"replica token space is 650, got $factor")
        val tok = s"zz${('a' + 1 + r % 25).toChar}${('a' + r / 25 % 26).toChar}"
        if (r == 0) df
        else df.withColumn("text",
          array_join(transform(split(col("text"), " "),
            (w, i) => when(i % 4 === 3, lit(tok)).otherwise(w)), " "))
      }
    }

  /** One-shot artifact builds, timed per scale in dependency order: the
    * shingle relation feeds the PPJoin pair build, which feeds the
    * cluster labeling — each gets charged its OWN cost, and the query
    * passes below then measure pure serve.
    */
  private[graft] val SmokeBuilds: Seq[(String, (SparkSession, String) => Unit)] =
    Seq("shingles", "dup_groups",
      // LABELS BEFORE PAIRS — the consumer order a dup-heavy curation
      // pipeline actually runs (it wants keepers, not the pair list), and
      // the order that exercises the INCREMENTAL union-find route: with no
      // pair relation materialized yet, the label build generates + sparse-
      // verifies candidates itself (charged here, including the candidate
      // artifact the pair build then reuses), instead of free-riding on
      // the pair artifact the way the bench's build order does.
      "dup_clusters", "jaccard_pairs", "graph_edges", "pq_codes",
      // multimodal decode tiers (real JVM codec passes over the replicated
      // fixture assets — the r17 mod-2³² id-mix fix runs at replica ids here)
      "luma_grid", "audio_sig").map(k => s"${k}_build" -> Harness.builds(k))

  private val SmokeQueries = Seq(
    "q1_pricing",            // the scan-agg baseline
    "q5_region_revenue",     // 6-table star join
    "q9_profit_nation",      // the widest relational join tree
    "q21_blame_supplier",    // heaviest shuffle in the suite
    "q_basket_rules",        // events self-join via baskets
    "q_copurchase_triangles",// triangle enumeration
    "q_minhash_lsh",         // banded near-dup candidates + verify
    "q_dup_clusters",        // LSH pairs + connected components
    "q_ivfpq_topk",          // probe-bounded ADC over the codes tier
    "q_filtered_ann",        // predicate-pushdown ANN over the same codes
    "q_knn_classify",        // brute-force kNN (the ANN baseline)
    "q_image_neardup",       // banded-Hamming pairs over decoded pixels
    "q_audio_neardup")       // banded-Hamming pairs over decoded audio

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val maxRatio = sys.env.getOrElse("SPARK_GRAFT_SCALE_MAX_RATIO",
      (3 * factor).toString).toDouble
    // SPARK_GRAFT_SMOKE_ONLY=q_a,q_b,build_x restricts the run to the
    // named queries/builds — how a high-factor point (50×) measures just
    // the watch-listed entries without paying the whole suite at that
    // scale. Unset = everything.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SMOKE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Harness.session("graft-scale-smoke", cpus)

    // Join mix of the EXECUTED plans (AQE-final: captured after runtime
    // replans, not at planning time), ACCUMULATED across every action of
    // the timed pass — a query that fires eager actions while the
    // DataFrame is being constructed (the measured-routing probes, a
    // driver-local union-find whose returned frame is a LocalRelation)
    // would otherwise report the trivial final write's mix while the
    // real join work ran earlier. The listener bus is async — drained
    // before each read.
    val joinOps = Seq("BroadcastHashJoin" -> "bhj", "SortMergeJoin" -> "smj",
      "ShuffledHashJoin" -> "shj", "BroadcastNestedLoopJoin" -> "bnlj")
    val joinCounts = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          val plan = qe.executedPlan.toString
          joinOps.foreach { case (op, tag) =>
            val n = op.r.findAllIn(plan).length
            if (n > 0) {
              joinCounts.computeIfAbsent(tag,
                _ => new java.util.concurrent.atomic.AtomicLong(0L))
                .addAndGet(n.toLong)
              ()
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def resetJoinMix(): Unit = {
      org.apache.spark.graftshim.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      joinCounts.clear()
    }
    def executedJoinMix(): String = {
      org.apache.spark.graftshim.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      joinOps.map { case (_, tag) =>
        val n = Option(joinCounts.get(tag)).map(_.get()).getOrElse(0L)
        s"$tag:$n"
      }.mkString(",")
    }

    val t0 = System.nanoTime()
    val big = ensureReplica(spark, base, factor)
    val buildSecs = (System.nanoTime() - t0) / 1e9

    var failed = List.empty[String]

    // Per-ROW normalizer for the one build whose FIXTURE grows faster
    // than the corpus (the replicated audio-asset set): the wall ratio of
    // `audio_sig_build` reported 10× at the 20× point purely from decoded-
    // asset growth, which made the row meaningless as a gate. Normalizing
    // by the artifact's row count (= assets decoded) gates what the build
    // actually does — per-asset decode+profile cost.
    val buildRowNorms: Map[String, (SparkSession, String) => Long] = Map(
      "audio_sig_build" -> ((s, d) =>
        s.read.parquet(graft.operators.Multimodal.ensureAudioSig(s, d)).count()))

    // one-shot artifact builds, base then big, each timed once
    val buildRows = SmokeBuilds.filter(b => selected(b._1)).map { case (name, run) =>
      try {
        def timed(dir: String): Double = {
          val t = System.nanoTime()
          run(spark, dir)
          (System.nanoTime() - t) / 1e9
        }
        val baseSec = timed(base)
        val bigSec = timed(big)
        val ratio = bigSec / math.max(baseSec, 1e-9)
        val norm = buildRowNorms.get(name).map { f =>
          val (nb, ng) = (f(spark, base), f(spark, big))
          val (ub, ug) = (baseSec * 1e6 / math.max(nb, 1L),
            bigSec * 1e6 / math.max(ng, 1L))
          // same 4× per-row slack as the query normalizers, doubled for
          // builds: one-shot local-disk builds inherit the host's
          // documented 2–4× IO swings on top of genuine per-row growth
          if (ug > 8.0 * math.max(ub, 1e-9)) failed ::= s"$name:us_per_row"
          f""","rows_base":$nb,"rows_big":$ng,"us_per_row_base":$ub%.2f,"us_per_row_big":$ug%.2f"""
        }.getOrElse("")
        f""""$name":{"base":$baseSec%.2f,"big":$bigSec%.2f,"ratio":$ratio%.2f,"one_shot":true$norm}"""
      } catch { case e: Throwable =>
        System.err.println(s"[scale-smoke] $name failed: ${e.getMessage}")
        failed ::= name
        s""""$name":{"err":true}"""
      }
    }

    // Per-ROW normalizers for the two inherently work-heavy queries: a
    // wall ratio compares an underutilized base box against a saturated
    // big one, so the number that actually answers "does this survive a
    // scale-up" is time per unit of real work — per oriented edge for
    // the triangle pass, per shingle row for the near-dup pass. Both
    // counts are metadata reads off already-materialized parquet.
    val rowNorms: Map[String, (SparkSession, String) => Long] = Map(
      "q_copurchase_triangles" -> ((s, d) =>
        s.read.parquet(graft.operators.Graph.ensureEdges(s, d)).count()),
      "q_minhash_lsh" -> ((s, d) =>
        s.read.parquet(graft.operators.Dedup.ensureShingles(s, d)).count()))

    def time(name: String, dir: String): (Double, String) = {
      def once(): Double = Harness.noopSecs(SparkEntry.queries(name)(spark, dir))
      val first = once()
      resetJoinMix() // mix = ALL actions of the second (warm) pass only
      val best = math.min(first, once())
      (best, executedJoinMix())
    }

    val rows = SmokeQueries.filter(selected).map { q =>
      try {
        val (baseSec, baseMix) = time(q, base)
        val (bigSec, bigMix) = time(q, big)
        val ratio = bigSec / math.max(baseSec, 1e-9)
        val norm = rowNorms.get(q).map { f =>
          val (nb, ng) = (f(spark, base), f(spark, big))
          val (ub, ug) = (baseSec * 1e6 / math.max(nb, 1L),
            bigSec * 1e6 / math.max(ng, 1L))
          // row-normalized entries gate on PER-ROW growth, not the wall
          // ratio: the wall gate flags superlinear WORK, but a base-side
          // optimization (e.g. the r18 native intersect, which cut the
          // base pass 3× while the big pass stays sort-bound) inflates
          // the wall ratio with no superlinear work anywhere. Slack 4×:
          // a quadratic lands at ≥ factor× per-row growth (≥ 10× at the
          // smallest factor run), while the benign regime — the SMJ flip
          // plus base-box underutilization — measures ≤ 3.3× across
          // rounds; 4 separates the two with margin and is still ~8×
          // stricter than the wall gate it replaces for these entries.
          if (ug > 4.0 * math.max(ub, 1e-9)) failed ::= s"$q:us_per_row"
          // LOOSENED wall backstop (2× the wall gate): the per-row gate
          // alone would silently pass a large CONSTANT-FACTOR big-run
          // regression (new spill, codegen fallback at scale) that
          // inflates per-row cost under 4× while the wall blows out —
          // both failure modes must trip something.
          if (ratio > 2.0 * maxRatio) failed ::= s"$q:wall_backstop"
          f""","rows_base":$nb,"rows_big":$ng,"us_per_row_base":$ub%.2f,"us_per_row_big":$ug%.2f"""
        }.getOrElse {
          if (ratio > maxRatio) failed ::= s"$q:ratio"
          ""
        }
        f""""$q":{"base":$baseSec%.2f,"big":$bigSec%.2f,"ratio":$ratio%.2f,"base_mix":"$baseMix","big_mix":"$bigMix"$norm}"""
      } catch { case e: Throwable =>
        System.err.println(s"[scale-smoke] $q failed: ${e.getMessage}")
        failed ::= q
        s""""$q":{"err":true}"""
      }
    }
    // HUB-BASKET SKEW A/B (r17 verdict ask #4): TPC-H baskets are
    // bounded tiny, so `spark.graft.copurchaseSalt` defaults OFF on the
    // flat measurement — this section supplies the other half of the
    // evidence: a fixture with two 4000-item hub orders (a real
    // co-purchase fact's power-law carts), where the plain self-join
    // serializes ~8M pair-rows per hub key in single tasks (AQE's skew
    // split keys on INPUT partition size and cannot see a join-output
    // explosion), while the salted plan spreads each hub over 16
    // sub-keys. Reported: plain vs salted seconds on the hub fixture
    // AND on the unmodified base (where salting must cost ~nothing).
    // Output parity of the two plans is spec-pinned (GraphSpec).
    // TWO hub sizes bracket the guard's crossover: at 4 000-item hubs the
    // per-key pair explosion (2·h²/2 = 16M rows per hub) still fits one
    // task comfortably and the salted plan's fixed cost (build side
    // replicated 16×) LOSES — the measured justification for the
    // default-off salt. At 16 000-item hubs the per-key output is 16×
    // that (128M rows through one task) and spreading it wins — the
    // measured justification for the guard existing at all.
    val skewJson: Option[String] =
      if (!selected("copurchase_skew")) None
      else try {
        def hubFixture(h: Long): String = graft.util.Scratch.memoizedDir(spark,
          s"graft_hub${h}_fixture_" + graft.util.Scratch.valueToken(base),
          graft.sources.Tables.listingSig(
            graft.sources.Tables.lineitem(spark, base))) { path =>
          val l = spark.read.parquet(s"$base/lineitem.parquet")
          val hubRows = l.limit(1)
            .crossJoin(spark.range(2L * h).toDF("i"))
            .withColumn("l_orderkey",
              (lit(900000000L) + floor(col("i") / h)).cast("long"))
            .withColumn("l_partkey", (col("i") % h + 1).cast("long"))
            .drop("i")
          l.unionByName(hubRows.select(l.columns.toIndexedSeq.map(col): _*))
            .write.mode("overwrite").parquet(s"$path/lineitem.parquet")
        }
        def timeEdges(dir: String, salt: Int): Double = {
          spark.conf.set("spark.graft.copurchaseSalt", salt.toString)
          try {
            def once(): Double =
              Harness.noopSecs(graft.operators.Graph.copurchaseEdges(spark, dir))
            math.min(once(), once())
          } finally spark.conf.set("spark.graft.copurchaseSalt", "0")
        }
        val points = Seq(4000L, 16000L).map { h =>
          val dir = hubFixture(h)
          f""""hub_$h":{"plain":${timeEdges(dir, 0)}%.2f,"salted":${
            timeEdges(dir, 16)}%.2f}"""
        }
        val basePlain = timeEdges(base, 0)
        val baseSalted = timeEdges(base, 16)
        Some(f""""skew":{${points.mkString(",")},"base_plain":$basePlain%.2f,"base_salted":$baseSalted%.2f}""")
      } catch { case e: Throwable =>
        System.err.println(s"[scale-smoke] copurchase_skew failed: ${e.getMessage}")
        failed ::= "copurchase_skew"
        None
      }

    println(s"""{"metric":"scale_smoke","factor":$factor,"build_sec":${
      f"$buildSecs%.1f"},"max_ratio":$maxRatio,${
      skewJson.map(_ + ",").getOrElse("")}"queries":{${(buildRows ++ rows).mkString(",")}},"failed":[${
      failed.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
