package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent}

import graft.operators._
import graft.streaming.{StreamingJoin, StreamingSessionize}

/** What every measurement main shares (Bench, Time, ScaleSmoke, Explain,
  * Verify, and the test base): the one session conf list, the one
  * counting listener, the one noop-sink timing and the one list of
  * one-time builds.
  */
object Harness {

  /** The one conf list. `extra` pairs are set on the builder, so the
    * sessions the streaming drains clone from it inherit them.
    */
  def session(app: String, cpus: String,
              extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // a ns-encoded events.parquet is read with ts as raw longs for
      // Tables.normalizeTs; harmless for µs files
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Counter totals at one instant; `later - earlier` is what ran in
    * between. `phaseMs` sums each micro-batch `durationMs` phase; a delta
    * keeps the phases that are new or whose total moved.
    */
  final case class Snap(jobs: Long, stages: Long, taskMs: Long,
                        shuffleBytes: Long, spillBytes: Long,
                        starts: Long, batches: Long,
                        phaseMs: Map[String, Long]) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      taskMs - o.taskMs, shuffleBytes - o.shuffleBytes,
      spillBytes - o.spillBytes, starts - o.starts, batches - o.batches,
      phaseMs.collect { case (k, v) if !o.phaseMs.get(k).contains(v) =>
        k -> (v - o.phaseMs.getOrElse(k, 0L)) })
  }

  /** The one counting listener, on the SparkContext bus: it sees the
    * jobs, stages and streaming progress of every session, including the
    * cloned drain sessions a per-session listener would miss.
    */
  final class Counters private (spark: SparkSession) extends SparkListener {
    private val jobs, stages, taskMs, shuffle, spill, starts, batches =
      new AtomicLong(0L)
    private val phases = new ConcurrentHashMap[String, AtomicLong]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled); ()
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: QueryStartedEvent => starts.incrementAndGet(); ()
      case p: QueryProgressEvent =>
        batches.incrementAndGet()
        p.progress.durationMs.forEach { (k, v) =>
          phases.computeIfAbsent(k, _ => new AtomicLong(0L)).addAndGet(v); ()
        }
      case _ => ()
    }

    /** Drains the bus first, so everything that has run is counted. */
    def snap(): Snap = {
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      Snap(jobs.get(), stages.get(), taskMs.get(), shuffle.get(), spill.get(),
        starts.get(), batches.get(),
        phases.asScala.map { case (k, v) => k -> v.get() }.toMap)
    }
  }

  object Counters {
    def apply(spark: SparkSession): Counters = {
      val c = new Counters(spark)
      spark.sparkContext.addSparkListener(c)
      c
    }
  }

  /** Seconds to build `df` and run it through the noop sink, which
    * materializes every column (`count()` would let Catalyst prune).
    */
  def noopSecs(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The one-time builds, in the bench's order: shared prerequisites
    * first (the shingle relation feeds the cluster labeling), so each is
    * charged to its own entry.
    */
  val builds: ListMap[String, (SparkSession, String) => Unit] = ListMap(
    "index" -> ((s, d) => { MaterializedIndex.ensure(s, d); () }),
    "positional" -> ((s, d) => { MaterializedIndex.ensurePositional(s, d); () }),
    "shingles" -> ((s, d) => { Dedup.ensureShingles(s, d); () }),
    "jaccard_pairs" -> ((s, d) => { Dedup.ensureJaccardPairs(s, d, 0.8); () }),
    "dup_groups" -> ((s, d) => { Dedup.ensureDupGroups(s, d); () }),
    "dup_clusters" -> ((s, d) => { Dedup.ensureClusters(s, d, 0.8); () }),
    "bucketed_tables" -> ((s, d) => { Bucketing.ensureBucketed(s, d); () }),
    "clustered_layout" -> ((s, d) => { Clustering.ensureClustered(s, d); () }),
    "bloom_manifest" -> ((s, d) => { BloomSkip.ensureBloom(s, d); () }),
    "graph_edges" -> ((s, d) => { Graph.ensureEdges(s, d); () }),
    "pq_codes" -> ((s, d) => { Similarity.ensurePqCodes(s, d); () }),
    // staged streaming feeds (memoized per corpus): charged here so the
    // drain queries measure pure drain cost, not corpus staging
    "session_feed" -> ((s, d) => { StreamingSessionize.stageWithSentinel(s, d); () }),
    "ssouter_feed" -> ((s, d) => { StreamingJoin.stageOuterFeed(s, d); () }),
    "token_grams" -> ((s, d) => { TextAnalysis.ensureTokenGrams(s, d); () }),
    "scrub_counts" -> ((s, d) => { TextAnalysis.ensureScrubCounts(s, d); () }),
    "nb_model" -> ((s, d) => { NaiveBayes.ensureModelGrid(s, d); () }),
    "luma_grid" -> ((s, d) => { Multimodal.ensureLumaGrid(s, d); () }),
    "audio_sig" -> ((s, d) => { Multimodal.ensureAudioSig(s, d); () }),
    "winnow_sel" -> ((s, d) => { TextAnalysis.ensureWinnowSelection(s, d); () }),
    "emb_moments" -> ((s, d) => { Covariance.ensureMomentCells(s, d); () }))
}
