package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage truncation for plans that re-consume an intermediate from
  * several branches (iterative CC rounds, multi-branch orientations,
  * re-annotated postings): `localCheckpoint` by default — fast,
  * executor-local blocks — or RELIABLE `checkpoint` into
  * `spark.graft.checkpointDir` when set (shared storage on a cluster,
  * where an executor loss mid-build must recompute from the checkpoint
  * instead of failing the job). The checkpoint DIR is a context-level
  * knob: the configured value wins, re-pointed only when a caller's conf
  * names a DIFFERENT dir than the last claim, so repeat callers pay no
  * per-call context mutation. Pointing the context at a dir and
  * checkpointing into it run under ONE lock, so sessions with distinct
  * configured dirs truncating concurrently each get their data under
  * their own dir (reliable checkpoints serialize; the local default
  * never takes the lock).
  */
object Checkpoints {
  // the dir of the last claim; guarded by `this`
  private var claimed: String = null

  def truncate(spark: SparkSession, df: DataFrame): DataFrame =
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) => synchronized {
        if (claimed != dir) {
          spark.sparkContext.setCheckpointDir(dir)
          claimed = dir
        }
        df.checkpoint(true)
      }
      case None => df.localCheckpoint(true)
    }
}
