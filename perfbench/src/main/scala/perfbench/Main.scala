package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload serve|ingest|curate --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE [--scale full|tiny] [--sha SHA]`.
  * Writes the run's full record as JSON to `--out`; `perfbench/run.py`
  * builds, launches and reports.
  */
object Main {

  /** Per-layer metrics in report order, with units. */
  val layerMetrics: Seq[(String, String)] = Seq(
    "serve.term_ms" -> "ms", "serve.and_ms" -> "ms", "serve.prefix_ms" -> "ms",
    "serve.phrase_ms" -> "ms", "serve.bm25_ms" -> "ms",
    "op.wall_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimizer_ms" -> "ms", "plan.physical_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_only_ms" -> "ms", "sched.driver_only_frac" -> "ratio",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.slot_busy_frac" -> "ratio",
    "shuffle.write_mb" -> "MB", "shuffle.read_mb" -> "MB", "shuffle.spill_mb" -> "MB",
    "scan.files" -> "count", "scan.mb" -> "MB", "scan.rows" -> "count",
    "scan.files_per_lookup" -> "count",
    "fn.tokenize_mb_per_s" -> "MB/s", "fn.shingle_mb_per_s" -> "MB/s",
    "build.index_s" -> "s", "build.positional_s" -> "s",
    "upsert.letters_rewritten" -> "count", "upsert.rewrite_bytes_per_input_byte" -> "B/B",
    "write.files" -> "count", "write.mb" -> "MB",
    "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.planning_ms" -> "ms", "stream.offset_ms" -> "ms", "stream.commit_ms" -> "ms",
    "stream.input_rows" -> "count", "stream.freshness_p50_ms" -> "ms",
    "dedup.exact_s" -> "s", "dedup.shingles_s" -> "s", "dedup.clusters_s" -> "s",
    "dedup.keepers_s" -> "s", "dedup.candidates" -> "count",
    "dedup.true_pairs_per_candidate" -> "ratio",
    "scratch.mb" -> "MB", "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // a comma-separated list runs the workloads in turn in one JVM and
    // records the last (run.py does so once, to build the class archive)
    val workload = a("workload")
    val runs: Seq[Ctx => Outcome] = workload.split(",").toSeq.map {
      case "serve" => Serve.run _
      case "ingest" => Ingest.run _
      case "curate" => CurateJob.run _
      case other => sys.error(s"unknown workload $other")
    }
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val scratch = Files.createDirectories(work.resolve("scratch"))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val canaryBefore = Weather.ioCanary(work)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      // the session settings of graft.Bench ...
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // ... plus the extension users are told to configure, which puts
      // graft's planner rules in the measured path
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // every file the run writes stays under its work directory
      .config("spark.graft.scratchDir", scratch.toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", scratch.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tr = new Tracer(spark, traced)
    if (traced) tr.measureScratch(scratch)
    val x = new Ctx(spark, tr, work, scratch, a("seed").toLong, a("seconds").toDouble,
      if (a.get("scale").contains("tiny")) Scale.tiny else Scale.full)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs() = gcBeans.map(_.getCollectionTime).sum
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())

    x.phase("session started")
    val out = runs.map(_(x)).last
    x.phase("workload done")

    val gcS = (gcMs() - gc0) / 1e3
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val rss = Weather.peakRssMb()
    val canaryAfter = Weather.ioCanary(work)
    val setup = Metric(sessionS + Stats.median(out.prepS), "s", out.prepS.size)
    // peak RSS moves by a third between seeds (heap growth is up to the GC),
    // so it is a per-layer metric, not a bounded end-to-end one
    val e2e = out.e2e + ("setup_s" -> setup)
    val layer: Map[String, Option[Metric]] =
      if (!traced) Map.empty
      else generic(tr, cpus.toDouble) ++ out.layer ++ Map(
        "jvm.gc_s" -> Some(Metric(gcS, "s", 1)),
        "jvm.heap_peak_mb" -> Some(Metric(heapPeakMb, "MB", 1)),
        "peak_rss_mb" -> Some(Metric(rss, "MB", 1)))
    if (traced) tr.writeSpans(Paths.get(a("out")).resolveSibling("spans.jsonl"))

    def metricJson(m: Metric) =
      Map("value" -> m.value, "unit" -> m.unit, "samples" -> m.samples, "note" -> m.note)
    val record = Map(
      "workload" -> workload, "seed" -> a("seed"), "seconds" -> a("seconds"),
      "trace" -> traced, "scale" -> a.getOrElse("scale", "full"),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failed_frac" -> out.failed.toDouble / math.max(1, out.attempted),
      "e2e" -> e2e.map { case (k, m) => k -> metricJson(m) },
      "named" -> (Seq("setup_s" -> setup) ++ out.named ++ Seq(
        "failed_frac" -> Metric(out.failed.toDouble / math.max(1, out.attempted), "ratio",
          out.attempted), "peak_rss_mb" -> Metric(rss, "MB", 1)))
        .map { case (k, m) => Map("name" -> k) ++ metricJson(m) },
      "setup_parts_s" -> Map("session" -> sessionS, "prep" -> out.prepS),
      "layer" -> layerMetrics.map { case (k, unit) =>
        k -> layer.get(k).flatten.map(m => metricJson(m.copy(unit = unit)))
      }.toMap,
      "self_ms" -> (if (traced) tr.selfTimes().map { case (k, (ms, n)) =>
        k -> Map("mean_self_ms" -> ms, "spans" -> n) } else Map.empty),
      "weather" -> Map("io_canary_before_s" -> canaryBefore,
        "io_canary_after_s" -> canaryAfter,
        "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cpus" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "git_sha" -> a.getOrElse("sha", "unknown"), "seed" -> a("seed")),
      "corpus" -> out.props)
    tr.stop()
    Files.write(Paths.get(a("out")), Json(record).getBytes("UTF-8"))
    spark.stop()
    x.phase("session stopped")
  }

  /** Per-layer metrics every workload has, from the traced ops (probes
    * excluded): per-op means unless the name says otherwise.
    */
  private def generic(tr: Tracer, cpus: Double): Map[String, Option[Metric]] = {
    val ops = tr.ops.filterNot(_.kind.startsWith("probe.")).toSeq
    val n = ops.size
    def per(f: OpRecord => Double, unit: String) =
      Some(Metric(ops.map(f).sum / math.max(1, n), unit, n))
    val wall = ops.map(_.wallMs).sum
    val busy = ops.map(_.taskIntervals.map { case (s, e) => e - s }.sum.toDouble).sum
    val lookups = ops.filter(o => o.kind == "serve.term" || o.kind == "ingest.lookup")
    val commits = ops.filter(_.kind == "ingest.commit")
    val batches = commits.flatMap(_.batches)
    def batchMed(f: Map[String, Long] => Double) =
      if (batches.isEmpty) None
      else Some(Metric(Stats.median(batches.map(b => f(b._1))), "ms", batches.size))
    def d(m: Map[String, Long], k: String) = m.getOrElse(k, 0L).toDouble
    val mb = 1e6
    Map(
      "op.wall_ms" -> per(_.wallMs, "ms"),
      "plan.analysis_ms" -> per(_.analysisMs, "ms"),
      "plan.optimizer_ms" -> per(_.optimizerMs, "ms"),
      "plan.physical_ms" -> per(_.physicalMs, "ms"),
      "sched.jobs" -> per(_.jobs.toDouble, "count"),
      "sched.stages" -> per(_.stages.toDouble, "count"),
      "sched.tasks" -> per(_.tasks.toDouble, "count"),
      "sched.driver_only_ms" -> per(_.driverOnlyMs, "ms"),
      "sched.driver_only_frac" ->
        Some(Metric(ops.map(_.driverOnlyMs).sum / math.max(1e-9, wall), "ratio", n)),
      "exec.task_s" -> per(_.taskMs / 1e3, "s"),
      "exec.cpu_s" -> per(_.cpuNs / 1e9, "s"),
      "exec.gc_s" -> per(_.gcMs / 1e3, "s"),
      "exec.slot_busy_frac" -> Some(Metric(busy / math.max(1e-9, wall * cpus), "ratio", n)),
      "shuffle.write_mb" -> per(_.shuffleWrite / mb, "MB"),
      "shuffle.read_mb" -> per(_.shuffleRead / mb, "MB"),
      "shuffle.spill_mb" -> per(_.spill / mb, "MB"),
      "scan.files" -> per(_.scanFiles.toDouble, "count"),
      "scan.mb" -> per(_.scanBytes / mb, "MB"),
      "scan.rows" -> per(_.scanRows.toDouble, "count"),
      "scan.files_per_lookup" -> (if (lookups.isEmpty) None else Some(Metric(
        lookups.map(_.scanFiles).sum.toDouble / lookups.size, "count", lookups.size))),
      "write.files" -> (if (ops.forall(_.writes.isEmpty)) None
        else per(_.writeFiles.toDouble, "count")),
      "write.mb" -> (if (ops.forall(_.writes.isEmpty)) None else per(_.writeBytes / mb, "MB")),
      "stream.trigger_ms" -> batchMed(d(_, "triggerExecution")),
      "stream.add_batch_ms" -> batchMed(d(_, "addBatch")),
      "stream.planning_ms" -> batchMed(d(_, "queryPlanning")),
      "stream.offset_ms" -> batchMed(m => d(m, "latestOffset") + d(m, "getBatch")),
      "stream.commit_ms" -> batchMed(m => d(m, "walCommit") + d(m, "commitOffsets")),
      "stream.input_rows" -> (if (batches.isEmpty) None else Some(Metric(
        Stats.median(batches.map(_._2.toDouble)), "count", batches.size))),
      "scratch.mb" -> (if (n == 0) None else Some(Metric(ops.map(_.scratchMb).max, "MB", n))))
  }
}
