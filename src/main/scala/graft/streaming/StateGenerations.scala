package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}

/** Copy-on-write state generations for a streaming maintainer — the loop
  * every versioned-state module shares. Each micro-batch of a staged
  * two-batch feed ([[StreamingIndexer.ensureSplitFeed]]) is handed to the
  * module's `step` with the previous generation's path (None for the first
  * batch, whose delta IS the state) and a fresh path for the next one:
  * `step` writes v(n+1) from v(n) plus the batch, and the next batch reads
  * v(n+1). Nothing is written in place, so a failed batch never corrupts
  * the served generation and in-flight readers of v(n) are untouched.
  *
  * The helper owns the bookkeeping: the per-drain temp root (watch dir,
  * checkpoint, `state/v$n`), its retirement one drain later through a
  * [[graft.util.ScratchSlot]], the [[StreamingIndexer.drainSession]], the
  * generation counter and the [[StreamingIndexer.drainSplitFeed]] call.
  * `resumeProof` picks the two-incarnation drain; an order-dependent merge
  * must always take it (see [[StreamingIndexer.drainSplitFeed]]).
  */
private[graft] final class StateGenerations(tempPrefix: String) {

  private val scratch = new graft.util.ScratchSlot

  /** Spec observability: batches the last drain ran. */
  val numBatches = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Drain `staged` through `step` and return the last generation's path,
    * readable until the next drain. `step` receives the drain session once
    * and returns the per-batch writer `(batch, prev, next)`.
    */
  def drain(spark: SparkSession, staged: String, resumeProof: Boolean)(
      step: SparkSession => (Dataset[Row], Option[String], String) => Unit)
      : String = {
    scratch.retire()
    val root = java.nio.file.Files.createTempDirectory(tempPrefix)
    // deferred before the drain: a failed drain's root is retired too
    scratch.defer(() => graft.util.Scratch.deleteRecursively(root))
    def generation(n: Int) = root.resolve("state").resolve(s"v$n").toString
    val ss = StreamingIndexer.drainSession(spark)
    val write = step(ss)
    numBatches.set(0)
    @volatile var gen = 0
    StreamingIndexer.drainSplitFeed(ss, staged, root.resolve("watch"),
      root.resolve("cp"), resumeProof) { (batch, _) =>
      write(batch, Option.when(gen > 0)(generation(gen)), generation(gen + 1))
      gen += 1
      numBatches.incrementAndGet()
      ()
    }
    generation(gen)
  }
}
