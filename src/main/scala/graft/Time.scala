package graft

import org.apache.spark.sql.SparkSession

/** Focused timing harness for iterating on single entries without an
  * 11-minute full bench: `runMain graft.Time <sfDir> <entry> [entry ...]`
  * where an entry is a query name (2 passes, min reported — the bench's
  * protocol) or `build:<name>` for a one-time materialization (1 pass;
  * run in a fresh JVM, builds memoize). Prints one `TIME name=secs` line
  * per entry, in execution order, with shuffle MB and the Spark jobs,
  * stages and task time of the (warm) pass; an entry whose pass streamed
  * also gets its query starts, micro-batches and summed `durationMs`
  * phases (queryPlanning, walCommit, addBatch, commitOffsets, ...).
  * `GRAFT_TIME_STAGES` set prints one `STAGE` line per completed stage.
  */
object Time {

  // decomposition probes, run as `build:<name>` beside Harness.builds
  private val probes: Map[String, (SparkSession, String) => Unit] = Map(
    // presentation-sort overhead probe: the same tiny aggregate, with
    // and without a global orderBy, 10 reps each — isolates what a
    // final sort costs a small-output query (range-exchange planning,
    // sampling pass, one more AQE stage)
    "sort_probe" -> ((spark, sfDir) => {
      import org.apache.spark.sql.functions._
      val agg = graft.sources.Tables.documents(spark, sfDir)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      def rep(df: org.apache.spark.sql.DataFrame, label: String): Unit = {
        Harness.noopSecs(df) // warm
        val secs = (1 to 10).map(_ => Harness.noopSecs(df)).sum
        println(f"PROBE $label=${secs / 10}%.3f s/exec")
      }
      rep(agg, "agg_plain")
      rep(agg.orderBy("lang"), "agg_orderby")
      rep(agg.coalesce(1).sortWithinPartitions("lang"), "agg_coalesce_sort")
    }),
    // decomposition probes for the co-purchase graph build
    "copurchase_edges_noop" -> ((spark, sfDir) => {
      Harness.noopSecs(graft.operators.Graph.copurchaseEdges(spark, sfDir)); ()
    }),
    // decomposition probes for the cluster build
    "pairs_noop" -> ((spark, sfDir) => {
      Harness.noopSecs(graft.operators.Dedup.ngramJaccardPairs(spark, sfDir, 0.8)
        .select("doc_a", "doc_b")); ()
    }),
    "cc_from_pairs" -> ((spark, sfDir) => {
      val p = s"${System.getProperty("java.io.tmpdir")}/graft_time_pairs"
      graft.operators.Dedup.ngramJaccardPairs(spark, sfDir, 0.8)
        .select("doc_a", "doc_b").write.mode("overwrite").parquet(p)
      val secs = Harness.noopSecs(
        graft.operators.Dedup.dupClustersFromPairs(spark, spark.read.parquet(p)))
      println(f"TIME cc_inner=$secs%.3f " +
        s"rounds=${graft.operators.Dedup.lastCcRounds.get}")
    }))

  /** The layer fields of one pass, Spark and (when it streamed) micro-batch. */
  private def layers(d: Harness.Snap, prefix: String): String = {
    val streamed =
      if (d.starts == 0 && d.batches == 0) ""
      else s" starts=${d.starts} batches=${d.batches} | " +
        d.phaseMs.toSeq.sortBy(-_._2)
          .map { case (k, v) => f"$k=${v / 1e3}%.2f" }.mkString(" ")
    s"${prefix}jobs=${d.jobs} ${prefix}stages=${d.stages} " +
      f"${prefix}task_s=${d.taskMs / 1e3}%.2f" + streamed
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    // A/B experimentation hook: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" lets a
    // measurement run flip session confs without a recompile.
    // segments without '=' (including the empty string, which split(';')
    // yields as Array("")) are skipped with a warning instead of crashing
    // the harness with an opaque MatchError
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(';')).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim)
          case _ =>
            if (kv.trim.nonEmpty)
              System.err.println(s"[time] ignoring malformed extra conf '$kv'")
            None
        }
      }
    val spark = Harness.session("graft-time",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), extra)
    val counters = Harness.Counters(spark)
    // opt-in per-stage decomposition: task time, CPU, deserialization
    // and GC, with the graft call site that submitted the stage
    if (sys.env.contains("GRAFT_TIME_STAGES"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val m = si.taskMetrics
            if (m != null)
              println(f"  STAGE ${si.stageId}%4d tasks=${si.numTasks}%3d " +
                f"run_s=${m.executorRunTime / 1e3}%7.2f " +
                f"cpu_s=${m.executorCpuTime / 1e9}%7.2f " +
                f"deser_s=${m.executorDeserializeTime / 1e3}%6.2f " +
                f"gc_s=${m.jvmGCTime / 1e3}%5.2f " +
                s"${si.name.takeWhile(_ != '(').trim} @ ${si.details.linesIterator.toSeq
                  .find(l => l.contains("graft") && !l.contains("graft.Time"))
                  .getOrElse("").trim}")
          }
        })

    // warmup
    try Harness.noopSecs(SparkEntry.queries("q_vocab_stats")(spark, sfDir))
    catch { case _: Throwable => () }

    names.foreach { n =>
      val s0 = counters.snap()
      if (n.startsWith("build:")) {
        val key = n.stripPrefix("build:")
        val t0 = System.nanoTime()
        Harness.builds.getOrElse(key, probes(key))(spark, sfDir)
        val secs = (System.nanoTime() - t0) / 1e9
        val d = counters.snap() - s0
        println(f"TIME $n=$secs%.3f shuffle_mb=${d.shuffleBytes / 1e6}%.1f " +
          layers(d, ""))
      } else {
        val a = Harness.noopSecs(SparkEntry.queries(n)(spark, sfDir))
        val w0 = counters.snap()
        val b = Harness.noopSecs(SparkEntry.queries(n)(spark, sfDir))
        val s1 = counters.snap()
        println(f"TIME $n=${math.min(a, b)}%.3f cold=$a%.3f " +
          f"shuffle_mb=${(s1.shuffleBytes - s0.shuffleBytes) / 1e6}%.1f " +
          layers(s1 - w0, "warm_"))
      }
    }
    spark.stop()
  }
}
