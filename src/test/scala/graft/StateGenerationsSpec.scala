package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, Row, SparkSession}

import graft.streaming.StateGenerations

/** The copy-on-write generation drain every versioned-state streaming
  * maintainer rides: each batch sees the previous generation and writes
  * the next, a failing batch leaves the generations before it intact, the
  * drain returns the last generation, and each drain retires the previous
  * drain's temp root.
  */
class StateGenerationsSpec extends SparkTestBase {

  /** A tiny staged two-batch feed: ids 0..2 in `a/`, 3..4 in `b/`
    * (an exit-deleted scratch dir).
    */
  private lazy val staged: String = {
    val p = graft.util.Scratch.dir(spark, "graft_stategen_feed")
    spark.range(0, 3).coalesce(1).write.mode("overwrite").parquet(s"$p/a")
    spark.range(3, 5).coalesce(1).write.mode("overwrite").parquet(s"$p/b")
    p
  }

  private def ids(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSeq.sorted

  /** Cumulative-union step that records each call's (prev, next). */
  private def unionStep(calls: java.util.List[(Option[String], String)])(
      ss: SparkSession): (Dataset[Row], Option[String], String) => Unit =
    (batch, prev, next) => {
      calls.add((prev, next))
      prev.fold(batch.toDF())(p => ss.read.parquet(p).union(batch.toDF()))
        .coalesce(1).write.mode("overwrite").parquet(next)
    }

  for (resumeProof <- Seq(false, true))
    test(s"the returned path is the last generation (resumeProof = $resumeProof)") {
      val state = new StateGenerations("graft_stategen_spec_")
      val calls = new java.util.concurrent.CopyOnWriteArrayList[(Option[String], String)]()
      val last = state.drain(spark, staged, resumeProof)(unionStep(calls))
      assert(state.numBatches.get == 2)
      assert(calls.size == 2)
      val (prev1, next1) = calls.get(0)
      val (prev2, next2) = calls.get(1)
      assert(prev1.isEmpty, "the first batch has no previous generation")
      assert(prev2.contains(next1), "the second batch reads the first's generation")
      assert(last == next2 && Paths.get(last).getFileName.toString == "v2")
      assert(ids(last) == Seq(0L, 1L, 2L, 3L, 4L))
    }

  test("a step that throws on the second batch fails the drain; v1 stays intact") {
    val state = new StateGenerations("graft_stategen_spec_")
    val v1 = new java.util.concurrent.atomic.AtomicReference[(String, Seq[Long])]()
    val err = intercept[Exception] {
      state.drain(spark, staged, resumeProof = false) { _ => (batch, prev, next) =>
        batch.toDF().coalesce(1).write.mode("overwrite").parquet(next)
        if (prev.isEmpty)
          v1.set((next, batch.collect().map(_.getLong(0)).toSeq.sorted))
        else throw new IllegalStateException("step failed on the second batch")
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("step failed on the second batch")), err)
    assert(state.numBatches.get == 1)
    val (path, written) = v1.get
    assert(Paths.get(path).getFileName.toString == "v1")
    assert(written.nonEmpty)
    assert(ids(path) == written, "the failed batch must not touch generation v1")
  }

  test("a second drain retires the first drain's temp root") {
    val state = new StateGenerations("graft_stategen_spec_")
    val calls = new java.util.concurrent.CopyOnWriteArrayList[(Option[String], String)]()
    val first = state.drain(spark, staged, resumeProof = false)(unionStep(calls))
    // <root>/state/v2
    val firstRoot = Paths.get(first).getParent.getParent
    assert(Files.exists(firstRoot))
    val second = state.drain(spark, staged, resumeProof = false)(unionStep(calls))
    assert(!Files.exists(firstRoot), s"$firstRoot survived the next drain")
    assert(!second.startsWith(firstRoot.toString))
    assert(ids(second) == Seq(0L, 1L, 2L, 3L, 4L))
  }
}
