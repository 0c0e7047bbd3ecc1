package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints per-entry progress plus ONE final JSON
  * line with per-query seconds.
  *
  * Protocol (reproducibility over luck):
  *  - Each query is fully executed through the `noop` sink (count() would
  *    let Catalyst prune projections; noop materializes every column).
  *  - A warmup query runs first so JVM/codegen startup cost isn't charged
  *    to the first benchmark entry.
  *  - TWO passes per query; the reported per-query number and the total
  *    are the per-query MIN (steady-state plan cost, robust to one-off
  *    JIT/GC/machine-contention spikes). The cold first-pass numbers are
  *    reported separately under "cold".
  *  - Failures are LOUD: a throwing query is retried once (pass 2), its
  *    name lands in "failed", its cost is excluded from the total, and the
  *    process exits nonzero — a broken query can never make the bench look
  *    faster.
  *  - EVERY one-time materialization (serving index, positional index,
  *    shingle relation, dup-cluster labels, bucketed tables) runs ONCE
  *    before the passes, timed individually and reported as its own
  *    "*_materialize" entry. The query passes therefore measure pure
  *    serve cost, and the builds' TCO is visible in the total instead of
  *    being charged to the cold pass of whichever query first triggers a
  *    build and then vanishing from the min-of-2.
  *
  * UN-KILLABLE RECORD (the r16 lesson: a host-IO-degraded window ran the
  * suite past the driver's timeout, and because the JSON was only printed
  * at the very end, the round's official bench record was rc=124 with
  * nothing parseable at all):
  *  - A short partial summary JSON line is printed (and flushed) after
  *    EVERY completed entry, so a hard kill at any point leaves the most
  *    recent partial line — schema-compatible, marked "partial":true with
  *    done/of counts — inside the driver's stdout tail window.
  *  - Every completed entry is appended to bench_progress.jsonl as it
  *    finishes (phase, seconds, wall offset) for forensics on truncation.
  *  - A WALL-CLOCK BUDGET (SPARK_GRAFT_BENCH_BUDGET_SECS, default 1500)
  *    degrades the protocol gracefully before the window can kill it:
  *    past 85% of budget third (variance-guard) passes are shed; past
  *    55% at the warm-pass gate (or 80% mid-warm-pass) remaining warm
  *    passes are shed and those entries report their cold number. Builds
  *    and the cold pass are never shed — they are the minimum viable
  *    record. Everything shed is disclosed in the output ("shed").
  */
object Bench {

  /** The bench's build entries: every [[Harness.builds]] entry as
    * `<key>_materialize`, in that order.
    */
  private[graft] val builds: Seq[(String, (SparkSession, String) => Unit)] =
    Harness.builds.toSeq.map { case (k, run) => s"${k}_materialize" -> run }

  private[graft] def num(d: Double, dp: Int): String = {
    val s = BigDecimal(d).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toString
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
  }

  private[graft] val shortKey = Map(
    "index_materialize" -> "b_index", "positional_materialize" -> "b_pos",
    "shingles_materialize" -> "b_shingles",
    "dup_clusters_materialize" -> "b_clusters",
    "bucketed_tables_materialize" -> "b_bucketed",
    "clustered_layout_materialize" -> "b_zorder",
    "bloom_manifest_materialize" -> "b_bloom")

  private[graft] def fmt(xs: Seq[(String, Either[String, Double])], dp: Int): String =
    xs.map { case (k, v) =>
      "\"" + k + "\":" + v.fold(_ => "-1", num(_, dp))
    }.mkString("{", ",", "}")

  /** The driver's stdout tail keeps only ~2000 chars; this line is the
    * round's machine-readable record, so its length bound is a CONTRACT
    * (the r17 round lost its per-query prev to a tail-truncated line).
    * [[MaxFinalLineChars]] leaves headroom for sbt's trailing
    * "[success] ..." line; `BenchSummaryLineSpec` pins the bound for
    * suites far larger than today's.
    */
  private[graft] val MaxFinalLineChars = 1850

  /** Build the guaranteed-to-fit final summary line: full compact map at
    * 2dp, then 1dp, then builds + the slowest queries that fit with an
    * explicit "omitted" count. Never exceeds [[MaxFinalLineChars]].
    */
  private[graft] def finalSummaryLine(
      best: Seq[(String, Either[String, Double])],
      buildSecs: Seq[(String, Double)],
      total: Double, coldTotal: Double,
      cacheHitsJson: String, canaryCompact: String,
      shedJson: String, warmShedCount: Int, thirdShed: Int,
      failed: Seq[String], sfDir: String): String = {
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def compact(dp: Int): String = {
      // compact keys drop the uniform "q_" prefix — ~230 chars across the
      // suite, which is the difference between per-query numbers fitting
      // the driver's stdout tail and the no-map fallback below
      val qs = fmt(best.map { case (n, v) => n.stripPrefix("q_") -> v } ++
        buildSecs.map { case (n, s) =>
          shortKey.getOrElse(n, n) -> Right(s) }, dp)
      val f = if (failed.isEmpty) "" else s""","failed":$failedJson"""
      val sh = if (warmShedCount == 0 && thirdShed == 0) ""
               else s""","shed":$shedJson"""
      s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","cold_total":${num(coldTotal, 2)},"queries":$qs,"cache_hits":$cacheHitsJson,"canary":$canaryCompact$sh$f,"sf":"$sfDir"}"""
    }
    // the suite can outgrow the tail window: even 1-dp entries for every
    // query overflow the bound. Degrade by INFORMATION VALUE, not to
    // nothing — keep builds + the slowest queries that fit, and say how
    // many were cut ("omitted") so truncation is explicit. The full map
    // is always in bench_detail.json and the early stdout line.
    def slowestThatFit: String = {
      val sorted = best.sortBy { case (_, v) =>
        -v.fold(_ => Double.MaxValue, identity) } // failures (-1) first
      val buildPart = buildSecs.map { case (n, s) =>
        shortKey.getOrElse(n, n) -> (Right(s): Either[String, Double]) }
      def lineWith(qn: Int): String = {
        val qs = fmt(sorted.take(qn).map { case (n, v) =>
          n.stripPrefix("q_") -> v } ++ buildPart, 1)
        val om = if (qn < sorted.length) s""","omitted":${sorted.length - qn}""" else ""
        val f = if (failed.isEmpty) "" else s""","failed":$failedJson"""
        val sh = if (warmShedCount == 0 && thirdShed == 0) ""
                 else s""","shed":$shedJson"""
        s"""{"metric":"total","value":${num(total, 2)},"unit":"sec","cold_total":${num(coldTotal, 2)},"queries":$qs$om,"cache_hits":$cacheHitsJson,"canary":$canaryCompact$sh$f,"sf":"$sfDir"}"""
      }
      // Line length grows monotonically with qn below sorted.length (each
      // entry adds ≥8 chars; the omitted-count digits shrink by at most
      // one), so binary-search the largest count that fits instead of
      // rebuilding the line once per candidate count.
      if (lineWith(sorted.length).length <= MaxFinalLineChars) lineWith(sorted.length)
      else {
        var lo = 0; var hi = sorted.length - 1; var ans = 0
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (lineWith(mid).length <= MaxFinalLineChars) { ans = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        lineWith(ans)
      }
    }
    val line2 = compact(2)
    val line1 = if (line2.length <= MaxFinalLineChars) line2 else compact(1)
    if (line1.length <= MaxFinalLineChars) line1 else slowestThatFit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SECS", "1500").toDouble
    val wall0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - wall0) / 1e9
    val spark = Harness.session("graft-bench", cpus)

    // Per-entry forensic stream: one JSONL row per completed entry, written
    // as it finishes — a killed run leaves a complete record of everything
    // that DID run, with wall offsets that show where the time went.
    val progressPath = java.nio.file.Paths.get("bench_progress.jsonl")
    java.nio.file.Files.deleteIfExists(progressPath)
    def logEntry(entry: String, phase: String, secs: Double): Unit = {
      val line = s"""{"entry":"$entry","phase":"$phase","sec":${num(secs, 3)},"t":${num(elapsed(), 1)}}"""
      java.nio.file.Files.write(progressPath, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    }
    // Partial summary line: schema-compatible with the final line (same
    // metric/value/unit/sf keys) so a consumer that only ever sees the
    // LAST stdout JSON line — the driver, after a timeout kill — still
    // gets a parseable running total that says it is partial and how far
    // the run got. Flushed: stdout to a pipe/file is block-buffered, and
    // an unflushed partial line is worthless under SIGKILL.
    def partialLine(phase: String, done: Int, of: Int,
                    runningTotal: Double, runningCold: Double): Unit = {
      println(s"""{"metric":"total","value":${num(runningTotal, 2)},"unit":"sec","partial":true,"phase":"$phase","done":$done,"of":$of,"cold_total":${num(runningCold, 2)},"budget":${num(budget, 0)},"elapsed":${num(elapsed(), 1)},"sf":"$sfDir"}""")
      System.out.flush()
    }

    // IO CANARY (the recurring bench-window problem: two rounds running,
    // the driver's window was IO-degraded 50–110× on IO-heavy entries,
    // and nothing IN the record let a reader separate host weather from
    // a regression). A fixed 32 MiB write + fsync to the same local
    // filesystem the shuffle/scratch traffic uses, timed at the start,
    // after every ~25 completed entries, and at the end. The summary
    // carries every (wall-offset, seconds) sample: a reader divides a
    // window's canary by the run's minimum canary to get the measured
    // IO inflation factor AT THAT POINT of the run, mechanically —
    // no reference to a separately committed clean run needed.
    val canaryBuf = {
      val b = new Array[Byte](1 << 20)
      new java.util.Random(7).nextBytes(b) // incompressible, fs-cache-proof
      b
    }
    val canaries = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def runCanary(): Unit = {
      val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_canary_${java.lang.ProcessHandle.current().pid()}.bin")
      try {
        val t0 = System.nanoTime()
        val ch = java.nio.channels.FileChannel.open(p,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE,
          java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
        try {
          var i = 0
          while (i < 32) { ch.write(java.nio.ByteBuffer.wrap(canaryBuf)); i += 1 }
          ch.force(true)
        } finally ch.close()
        val s = (System.nanoTime() - t0) / 1e9
        canaries += ((elapsed(), s))
        logEntry("io_canary", "canary", s)
      } catch { case e: Throwable => // a failing canary must never kill the record
        System.err.println(s"[bench] io canary failed: ${e.getMessage}")
      } finally { java.nio.file.Files.deleteIfExists(p); () }
    }
    var entriesSinceCanary = 0
    def canaryTick(): Unit = {
      entriesSinceCanary += 1
      if (entriesSinceCanary >= 25) { entriesSinceCanary = 0; runCanary() }
    }

    // DATA-MOVEMENT and layer accounting: shuffle bytes WRITTEN, spill,
    // Spark jobs and task time while each query executes (bus drained
    // before each snapshot so attribution is exact for the sequential
    // bench). The number every scale review asks for — "how much did this
    // query move?" — reported per query in bench_detail.json.
    val counters = Harness.Counters(spark)
    val shuffleMb = scala.collection.mutable.Map.empty[String, Double]
    val spillMb = scala.collection.mutable.Map.empty[String, Double]
    val jobs = scala.collection.mutable.Map.empty[String, Double]
    val taskS = scala.collection.mutable.Map.empty[String, Double]

    def exec(name: String): Either[String, Double] = {
      val s0 = counters.snap()
      try {
        val secs = Harness.noopSecs(SparkEntry.queries(name)(spark, sfDir))
        // keep the LAST pass's layer fields: identical across passes for a
        // deterministic plan, and pass 2 excludes one-time build cost a
        // cold pass might trigger
        val d = counters.snap() - s0
        shuffleMb(name) = d.shuffleBytes / 1e6
        jobs(name) = d.jobs.toDouble
        taskS(name) = d.taskMs / 1e3
        // spill is the memory-pressure signal: nonzero entries only
        // (expected all-zero at sf0.1; the map existing proves we LOOKED).
        // Unconditionally track the LAST pass — a cold-pass spill that the
        // warm pass avoids must not linger as a stale entry
        if (d.spillBytes > 0) spillMb(name) = d.spillBytes / 1e6
        else spillMb.remove(name)
        Right(secs)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        Left(name)
      }
    }

    // warmup: smallest end-to-end plan, absorbs session/codegen startup
    exec("q_vocab_stats")
    runCanary() // baseline IO sample before any timed entry
    // every build-once materialization, timed on its own BEFORE the query
    // passes, in Harness.builds order
    var buildSum = 0.0
    val buildSecs: Seq[(String, Double)] = builds.zipWithIndex.map {
      case ((name, run), i) =>
        val t0 = System.nanoTime()
        run(spark, sfDir)
        val s = (System.nanoTime() - t0) / 1e9
        buildSum += s
        logEntry(name, "build", s)
        canaryTick()
        partialLine("build", i + 1, builds.length, buildSum, buildSum)
        name -> s
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val nQ = names.length

    // COLD pass — never shed: with builds it is the minimum viable record.
    val cold = scala.collection.mutable.Map.empty[String, Either[String, Double]]
    var coldSum = 0.0
    names.zipWithIndex.foreach { case (n, i) =>
      val r = exec(n)
      cold(n) = r
      r.foreach { s => coldSum += s; logEntry(n, "cold", s) }
      canaryTick()
      partialLine("cold", i + 1, nQ, buildSum + coldSum, buildSum + coldSum)
    }

    // WARM pass — shed under budget pressure (each entry then reports its
    // cold number; min-of-2 degrades to min-of-1, disclosed below).
    val warm = scala.collection.mutable.Map.empty[String, Either[String, Double]]
    var warmShedFrom: Option[String] = None
    if (elapsed() > 0.55 * budget) warmShedFrom = Some(names.head)
    else {
      var i = 0
      var runningBest = 0.0
      while (i < nQ && warmShedFrom.isEmpty) {
        val n = names(i)
        if (elapsed() > 0.80 * budget) warmShedFrom = Some(n)
        else {
          val r = exec(n)
          warm(n) = r
          r.foreach(s => logEntry(n, "warm", s))
          canaryTick()
          runningBest += ((cold(n), warm.get(n)) match {
            case (Right(a), Some(Right(b))) => math.min(a, b)
            case (Right(a), _) => a
            case (_, Some(Right(b))) => b
            case _ => 0.0
          })
          // running total: builds + best-so-far for warmed entries + cold
          // for the rest (an upper bound that only tightens as warm lands)
          val coldRest = names.drop(i + 1)
            .flatMap(m => cold(m).toOption).sum
          partialLine("warm", i + 1, nQ,
            buildSum + runningBest + coldRest, buildSum + coldSum)
          i += 1
        }
      }
    }

    // VARIANCE GUARD (the r15 lesson: one IO-contended pass put six
    // entries 8-20x over and decided the gate): any query whose two
    // passes disagree by >1.5x with the slower one above 1s gets a THIRD
    // pass, so a single contended window cannot own its number. The
    // re-passed names are disclosed in bench_detail.json. Shed past 85%
    // of budget — on a degraded host the guard would otherwise triple the
    // cost of exactly the window that can least afford it (the r16
    // timeout had 97 entries tripping it).
    val repassCandidates = names.filter { n =>
      (cold(n), warm.get(n)) match {
        case (Right(a), Some(Right(b))) =>
          math.max(a, b) > 1.0 && math.max(a, b) > 1.5 * math.min(a, b)
        case _ => false
      }
    }
    val third = scala.collection.mutable.Map.empty[String, Either[String, Double]]
    var thirdShed = 0
    repassCandidates.zipWithIndex.foreach { case (n, i) =>
      if (elapsed() > 0.85 * budget) thirdShed += 1
      else {
        val r = exec(n)
        third(n) = r
        r.foreach(s => logEntry(n, "third", s))
        partialLine("third", i + 1, repassCandidates.length,
          buildSum + coldSum, buildSum + coldSum)
      }
    }
    val repassed = repassCandidates.filter(third.contains)
    runCanary() // closing IO sample

    // (wall-offset, seconds) samples + min/max; inflation at any point
    // of the run = value / min
    val canaryJson = {
      val secs = canaries.map(_._2)
      if (secs.isEmpty) """{"n":0}"""
      else s"""{"n":${secs.length},"min":${num(secs.min, 3)},"max":${
        num(secs.max, 3)},"samples":[${canaries.map { case (t, s) =>
          s"[${num(t, 1)},${num(s, 3)}]" }.mkString(",")}]}"""
    }
    val canaryCompact = {
      val secs = canaries.map(_._2)
      if (secs.isEmpty) """{"n":0}"""
      else s"""{"n":${secs.length},"min":${num(secs.min, 2)},"max":${
        num(secs.max, 2)}}"""
    }

    // a near-zero build or warm pass that reused a cached artifact must
    // say so — report FLAGS in their own top-level "cache_hits" object (a
    // consumer summing/averaging the queries map must never read one as a
    // 1-second entry). Computed AFTER the passes so warm-pass hits (bpe
    // merges memoized on the cold pass) are disclosed too.
    val cacheHits = Seq(
      "clustered_layout" ->
        (if (graft.operators.Clustering.lastEnsureWasCacheHit) 1 else 0),
      "bpe_merges" ->
        (if (graft.operators.TextAnalysis.lastBpeWasCacheHit) 1 else 0),
      "bloom_manifest" ->
        (if (graft.operators.BloomSkip.lastEnsureWasCacheHit) 1 else 0))
    val cacheHitsJson =
      cacheHits.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val best = names.map { n =>
      val passes = Seq(cold(n)) ++ warm.get(n) ++ third.get(n)
      val ok = passes.collect { case Right(d) => d }
      n -> (if (ok.nonEmpty) Right(ok.min)
            else passes.last: Either[String, Double])
    }
    val failed = best.collect { case (n, Left(_)) => n }
    // shed disclosure: how many warm/third passes the budget dropped, and
    // where the warm pass stopped — a record that says "these numbers are
    // min-of-1 from <here>" instead of silently reporting cold as steady
    val warmShedCount = warmShedFrom
      .map(f => nQ - names.indexOf(f)).getOrElse(0)
    val shedJson = s"""{"warm":$warmShedCount,"third":$thirdShed""" +
      warmShedFrom.map(f => s""","warm_from":"$f"""").getOrElse("") + "}"
    // The driver captures only the LAST ~2000 chars of stdout and parses the
    // final JSON line from it. The full per-query dump (with the cold pass)
    // is ~4 KB, so it goes to bench_detail.json + an early stdout line, and
    // the FINAL line is the bounded compact variant ([[finalSummaryLine]],
    // length pinned by BenchSummaryLineSpec): trailing-zero-stripped values
    // and short keys for the build entries.
    // total = every one-time build + min-of-2 of every query: the full
    // build-plus-serve TCO of one pass over the suite. cold_total is the
    // same sum over the FIRST pass — emitted on every output line so
    // round-over-round warm/cold comparison never depends on whether the
    // driver's stdout tail happened to keep the full detail line
    val total = best.collect { case (_, Right(d)) => d }.sum + buildSum
    val coldTotal = coldSum + buildSum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullQs = fmt(best ++ buildSecs.map {
      case (n, s) => n -> Right(s) }, 3)
    def perEntry(m: scala.collection.Map[String, Double], dp: Int): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + num(v, dp) }
        .mkString("{", ",", "}")
    val repassedJson = repassed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","cold_total":${num(coldTotal, 3)},"queries":$fullQs,"cache_hits":$cacheHitsJson,"io_canary":$canaryJson,"cold":${fmt(cold.toSeq.sortBy(_._1), 3)},"repassed":$repassedJson,"shed":$shedJson,"shuffle_mb":${perEntry(shuffleMb, 2)},"jobs":${perEntry(jobs, 0)},"task_s":${perEntry(taskS, 3)},"spill_mb":${perEntry(spillMb, 2)},"failed":$failedJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (full + "\n").getBytes("UTF-8"))
    println(full) // early line: complete detail for anyone reading full stdout
    // sbt appends a ~75-char "[success] ..." line after us; stay well clear
    println(finalSummaryLine(best, buildSecs, total, coldTotal,
      cacheHitsJson, canaryCompact, shedJson, warmShedCount, thirdShed,
      failed, sfDir))
    System.out.flush()
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
