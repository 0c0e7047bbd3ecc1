package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer, with what Spark did on its behalf.
  * Times are epoch milliseconds (fractional), the clock Spark stamps task
  * and job events with.
  */
final class OpRecord(val id: Long, val kind: String, val start: Double) {
  var end: Double = start
  def wallMs: Double = end - start
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var scanFiles, scanBytes, scanRows = 0L
  var writeFiles, writeBytes = 0L
  var analysisMs, optimizerMs, physicalMs = 0.0
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val writes = mutable.ArrayBuffer.empty[Write]
  /** Streaming progress durations (ms by phase) and input rows. */
  val batches = mutable.ArrayBuffer.empty[(Map[String, Long], Long)]
  var scratchMb = 0.0

  /** Wall time with no task of this op running. */
  def driverOnlyMs: Double = {
    val ivs = taskIntervals.map { case (a, b) =>
      (math.max(a.toDouble, start), math.min(b.toDouble, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    ivs.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, wallMs - covered)
  }
}

/** One file write: its output path, the rows written, and when the
  * listener saw it complete.
  */
final case class Write(path: String, rows: Long, seenMs: Double)

/** A span: name, interval, parent span and the op it belongs to. */
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long, op: Long)

/** Times every op and, when `traced`, attributes Spark's work to it.
  *
  * Attribution: the client thread sets the local property [[OpKey]] around
  * each call, so every job it starts (including broadcast and subquery jobs,
  * which inherit local properties) names its op. Streaming micro-batch jobs
  * carry their query id instead and are charged to the op that is waiting
  * on the stream. Planning phases, scans and writes come from a
  * `QueryExecutionListener`; after each op the listener bus is drained, so
  * every event of an op is processed before the next op starts.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val OpKey = "perfbench.op"
  private val StreamKey = "sql.streaming.queryId"
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }
  @volatile private var current: OpRecord = null
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, OpRecord]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, OpRecord]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (OpRecord, Double)]()
  private var scratchRoot: Option[java.nio.file.Path] = None

  /** Measure the size of `root` after every traced op. */
  def measureScratch(root: java.nio.file.Path): Unit = scratchRoot = Some(root)

  /** Time `body` as one op of `kind`. Returns its result and wall ms. */
  def op[T](kind: String)(body: => T): (T, Double) = {
    val rec = new OpRecord(newId(), kind, nowMs())
    val t0 = System.nanoTime()
    if (traced) {
      byId.put(rec.id, rec)
      current = rec
      spark.sparkContext.setLocalProperty(OpKey, rec.id.toString)
    }
    val out = try body finally {
      rec.end = rec.start + (System.nanoTime() - t0) / 1e6
      if (traced) {
        spark.sparkContext.setLocalProperty(OpKey, null)
        org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)
        current = null
        spans.synchronized(spans += Span(rec.id, kind, rec.start, rec.end, 0L, rec.id))
        scratchRoot.foreach(r => rec.scratchMb = Fs.sizeOf(r) / 1e6)
      }
      ops += rec
    }
    (out, rec.wallMs)
  }

  private def child(rec: OpRecord, name: String, start: Double, end: Double): Unit =
    spans.synchronized(spans += Span(newId(), name, start, end, rec.id, rec.id))

  private def opOfJob(props: java.util.Properties): OpRecord =
    if (props == null) null
    else Option(props.getProperty(OpKey)).map(id => byId.get(id.toLong))
      .getOrElse(if (props.getProperty(StreamKey) != null) current else null)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val rec = opOfJob(e.properties)
      if (rec != null) {
        rec.synchronized(rec.jobs += 1)
        e.stageIds.foreach(stageOp.put(_, rec))
        jobStart.put(e.jobId, (rec, e.time.toDouble))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (rec, t) =>
        child(rec, "spark.job", t, e.time.toDouble) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOp.get(e.stageInfo.stageId)).foreach { rec =>
        rec.synchronized { rec.stages += 1; rec.tasks += e.stageInfo.numTasks }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { rec =>
        val m = e.taskMetrics
        rec.synchronized {
          rec.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            rec.taskMs += m.executorRunTime
            rec.cpuNs += m.executorCpuTime
            rec.gcMs += m.jvmGCTime
            rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            rec.spill += m.diskBytesSpilled
          }
        }
      }
  }

  private def nodesOf(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodesOf(a.executedPlan)
    case q: QueryStageExec => nodesOf(q.plan)
    case c: CommandResultExec => nodesOf(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil // its scan ran once, in the original
    case other => other +: (other.children ++ other.subqueries).flatMap(nodesOf)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
      val rec = current
      if (rec == null) return
      val seen = nowMs()
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      phases.foreach { case (name, ph) =>
        child(rec, s"plan.$name", ph.startTimeMs.toDouble, ph.endTimeMs.toDouble) }
      val nodes = nodesOf(qe.executedPlan)
      def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
      rec.synchronized {
        rec.analysisMs += ms("analysis")
        rec.optimizerMs += ms("optimization")
        rec.physicalMs += ms("planning")
        nodes.foreach {
          case s: FileSourceScanExec =>
            rec.scanFiles += metric(s, "numFiles")
            rec.scanBytes += metric(s, "filesSize")
            rec.scanRows += metric(s, "numOutputRows")
          case w: DataWritingCommandExec =>
            val path = w.cmd match {
              case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
              case _ => ""
            }
            val m = w.cmd.metrics
            def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
            rec.writeFiles += v("numFiles")
            rec.writeBytes += v("numOutputBytes")
            rec.writes += Write(path, v("numOutputRows"), seen)
          case _ => ()
        }
      }
    }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rec = current
      val p = e.progress
      if (rec != null && p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => (k, v.longValue) }.toMap
        rec.synchronized(rec.batches += ((d, p.numInputRows)))
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        child(rec, "stream.batch", start, start + d.getOrElse("triggerExecution", 0L))
      }
    }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Forget the ops and spans recorded so far (after a warm-up). */
  def reset(): Unit = { ops.clear(); spans.synchronized(spans.clear()) }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover. Returns (span name -> mean self ms, count).
    */
  def selfTimes(): Map[String, (Double, Int)] = {
    val all = spans.synchronized(spans.toVector)
    val kids = all.filter(_.parent != 0L).groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0; var hi = Double.NegativeInfinity
      cs.foreach { case (a, b) =>
        if (b > hi) { covered += b - math.max(a, hi); hi = b } }
      (s.name, s.end - s.start - covered)
    }.groupBy(_._1).map { case (n, xs) => (n, (xs.map(_._2).sum / xs.size, xs.size)) }
  }

  /** Write every span as one JSON line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toVector).map(s =>
      f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"parent":${s.parent},"op":${s.op}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }

  def stop(): Unit = if (traced) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
