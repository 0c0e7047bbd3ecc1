package graft.util

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicReference

/** Deferred cleanup for per-execution scratch artifacts (staged corpus
  * dirs, scratch indexes, memory-sink tables) of the round-trip queries.
  *
  * A round-trip query must leave its artifacts alive until the CALLER has
  * consumed the returned (lazy) DataFrame, so eager deletion is wrong; but
  * never deleting leaks a corpus copy and a pinned memory table per
  * execution, and the bench alone executes every query at least twice.
  * The compromise: each call site keeps ONE generation of scratch —
  * `retire()` at the start of an invocation disposes the previous
  * generation (consumed by then; invocations of one query are sequential),
  * `defer(...)` registers the current one.
  */
final class ScratchSlot {
  private val pending = new AtomicReference[List[() => Unit]](Nil)

  // Register only after `pending` is initialized: the shutdown hook may run
  // concurrently with construction, and a partially constructed slot would
  // NPE inside retire().
  ScratchSlot.register(this)

  /** Dispose the previous generation's artifacts (best-effort). */
  def retire(): Unit =
    pending.getAndSet(Nil).foreach(c => try c() catch { case _: Throwable => () })

  /** Register the current generation's cleanups for the next retire().
    * Accumulates: a call site deferring twice in one invocation keeps both
    * batches (plain `set` would silently drop — never run — the first).
    */
  def defer(cleanups: (() => Unit)*): Unit = {
    pending.updateAndGet(prev => cleanups.toList ::: prev)
    ()
  }
}

object ScratchSlot {
  // Retire every slot's final generation at JVM exit: without this each
  // process leaves exactly one scratch dir per call site behind, and
  // java.io.tmpdir grows monotonically across bench/verify/test runs.
  // Slots are static singletons in their operators, so the registry stays
  // small. Cleanups are best-effort (retire swallows per-cleanup errors —
  // e.g. a memory-table drop after the SparkContext already stopped).
  private val slots = new java.util.concurrent.ConcurrentLinkedQueue[ScratchSlot]()
  private[util] def register(s: ScratchSlot): Unit = { slots.add(s); () }
  Runtime.getRuntime.addShutdownHook(new Thread(
    // Per-slot guard: one slot failing (however unlikely) must not abort
    // cleanup of the remaining slots.
    () => slots.forEach(s => try s.retire() catch { case _: Throwable => () }),
    "graft-scratch-retire"))
}

object Scratch {

  /** Root for materialized scratch RELATIONS (shingle index, dup-cluster
    * labels, serving indexes) — data that executors write and later plan
    * branches read back. Defaults to the local tmpdir, which is correct in
    * local mode; a multi-node cluster MUST point `spark.graft.scratchDir`
    * at shared storage (HDFS/S3/NFS), because a bare local path is
    * per-node there: each executor would persist its own private shard and
    * the reading side would see at most 1/N of the relation.
    */
  def root(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.get("spark.graft.scratchDir",
      System.getProperty("java.io.tmpdir"))

  /** Per-process disambiguator for materialized scratch generations. */
  val procToken: String = java.lang.ProcessHandle.current().pid().toString

  // Materialized dirs this process created, deleted (best-effort; local
  // paths only — URI-rooted cluster scratch is left to its own retention)
  // at JVM exit so the scratch root doesn't accumulate one generation per
  // process.
  private val ownedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  Runtime.getRuntime.addShutdownHook(new Thread(
    () => ownedDirs.forEach(p =>
      try deleteRecursively(p) catch { case _: Throwable => () }),
    "graft-scratch-dirs"))

  /** A named PER-PROCESS scratch path under [[root]]. Joined with Hadoop
    * `Path` (not `java.io.File`) so URI roots like
    * `hdfs://nn/graft-scratch` survive.
    *
    * The process token isolates concurrent drivers sharing one scratch
    * root (a bench beside a verify, two analysts on one box): the
    * relations materialized here are rebuilt per JVM anyway (their memo
    * tables are in-process), and without the token the second driver's
    * `mode("overwrite")` write deletes parquet files the first driver's
    * executors hold open mid-scan — a FILE_NOT_EXIST failure in a query
    * that did nothing wrong. Registered for deletion at JVM exit.
    */
  def dir(spark: org.apache.spark.sql.SparkSession, name: String): String =
    owned(new org.apache.hadoop.fs.Path(root(spark), s"${name}_p$procToken")
      .toString)

  /** Register `p` for deletion at JVM exit, as [[dir]] does. */
  private[graft] def owned(p: String): String = { ownedDirs.add(p); p }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Collision-free naming token for a parameter VALUE (a corpus dir, a
    * split timestamp): the sanitized tail keeps the name human-readable,
    * the sha-256 prefix makes distinct values distinct even when
    * sanitization collapses them ('2024-01-01 00' vs '2024-01-0100' both
    * sanitize to the same digits) — the failure mode of both the
    * `hashCode` convention (32-bit, collision-prone) and bare
    * `replaceAll("\\W","")`.
    */
  def valueToken(s: String): String = {
    val sane = s.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")
    val tail = if (sane.length > 24) sane.substring(sane.length - 24) else sane
    tail + "_" + sha256Hex(s).take(12)
  }

  // generation paths this process already populated
  private val memoPopulated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val memoLocks =
    scala.collection.concurrent.TrieMap[String, Object]()

  /** Memoized per-process STAGING directory: `populate` runs once per
    * (name, signature) — callers re-enter for free while the signature
    * (an input file-listing fingerprint) is unchanged, and a CHANGED
    * signature rebuilds the staging rather than silently serving stale
    * data. The dir lives under [[dir]] (exit-deleted), NOT in a
    * per-invocation ScratchSlot: staged inputs are read-only for every
    * consumer, so one copy serves all of them.
    *
    * The signature is part of the PATH (a generation suffix), so a
    * rebuild lands in a FRESH directory: a lazy DataFrame an earlier call
    * returned keeps reading its own generation's files instead of hitting
    * the new corpus' data — or FileNotFound — mid-scan when the rebuild
    * would otherwise repopulate under the same path. Old generations are
    * deleted at JVM exit like every other owned dir ([[dir]] registers
    * them); mid-JVM corpus mutations are rare enough (tests, upsert
    * proofs) that one superseded generation on disk is the right price
    * for in-flight-reader atomicity.
    *
    * Check-then-populate is serialized PER PATH: two first callers racing
    * would otherwise interleave deleteRecursively with the other's
    * populate/read (the reason the older ensure* memos used atomic
    * getOrElseUpdate).
    */
  private def memoPath(spark: org.apache.spark.sql.SparkSession, name: String,
                       sig: String): String =
    dir(spark, s"${name}_g${sha256Hex(sig).take(12)}")

  /** Whether the memoized dir for (name, sig) is already populated in
    * THIS process — the probe behind derive-from-the-cheaper-source
    * routing (e.g. cluster labels read off an already-materialized pair
    * relation instead of re-running candidate verification). Never
    * populates anything; false just means the caller should build from
    * first principles.
    */
  def isMemoized(spark: org.apache.spark.sql.SparkSession, name: String,
                 sig: String): Boolean =
    memoPopulated.contains(memoPath(spark, name, sig))

  def memoizedDir(spark: org.apache.spark.sql.SparkSession, name: String,
                  sig: String)(populate: String => Unit): String = {
    val path = memoPath(spark, name, sig)
    val lock = memoLocks.getOrElseUpdate(path, new Object)
    lock.synchronized {
      if (!memoPopulated.contains(path)) {
        // a dead dir can only be a same-pid crash remnant: nobody in this
        // process has read it (it is not in memoPopulated), so clearing it
        // before the first populate is safe
        deleteRecursively(path)
        populate(path)
        memoPopulated.add(path)
        ()
      }
    }
    path
  }

  /** Clone a directory tree with HARDLINKS (content copy as fallback, e.g.
    * across filesystems): the way to hand a mutating consumer (an in-place
    * partition upsert) its own private copy of an immutable build artifact
    * without re-running — or re-copying — the build. Deleting or
    * overwriting a link in the clone never touches the shared source
    * files. `skip` filters relative names (markers like `_SUCCESS` that
    * describe the SOURCE, not the clone).
    */
  def hardlinkTree(src: String, dst: String,
                   skip: String => Boolean = _ => false): Unit = {
    val srcP = java.nio.file.Paths.get(src)
    val dstP = java.nio.file.Paths.get(dst)
    Files.createDirectories(dstP)
    val walk = Files.walk(srcP)
    try walk.forEach { p =>
      val rel = srcP.relativize(p).toString
      if (rel.nonEmpty && !skip(rel)) {
        val target = dstP.resolve(rel)
        if (Files.isDirectory(p)) { Files.createDirectories(target); () }
        else try { Files.createLink(target, p); () }
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, target); ()
        }
      }
    } finally walk.close()
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => try Files.delete(f) catch { case _: Throwable => () })
      finally walk.close()
    }

  def deleteRecursively(dir: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(dir))
}
