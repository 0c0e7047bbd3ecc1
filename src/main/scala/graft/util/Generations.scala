package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generations of the incrementally refreshed scratch artifacts built over
  * a corpus — the postings index ([[graft.operators.MaterializedIndex]]),
  * the hourly rollup ([[graft.operators.RollupView]]) and the PQ codes
  * ([[graft.operators.Similarity.ensurePqCodes]]) — and of their build-once
  * siblings. The batch twin of [[graft.streaming.StateGenerations]]: the
  * caller supplies only how to build its artifact whole and how to grow it
  * by appended files; this object owns the per-artifact generation record,
  * the per-artifact lock, the generation paths and the route between them.
  *
  * The reference's letter files are incremental by construction — a
  * re-index appends to `./index/<c>` (`helper_reduce.c:255-256`). A
  * refresh recovers that honestly: when the corpus only GREW (new files,
  * none removed or rewritten) the caller's `grow` merges the delta files
  * alone; any other change may leave stored cells describing vanished
  * rows, so it falls back to a whole `build`. An unchanged listing serves
  * the current generation — the reuse across interactive queries that
  * *Incremental Based Framework for Efficient Top-K Similarity Search in
  * Interactive Data Analysis Sessions* (EDBT 2020) argues for.
  */
object Generations {

  /** One generation of an artifact: where it lives, the corpus listing
    * signature ([[graft.sources.Tables.listingSig]]) it covers, its number
    * (0 for the first build) and the corpus files it grew by from the
    * previous generation (empty when it was built whole). An unchanged
    * corpus returns the same record, so a route is read off it: same
    * number = current, `delta` non-empty = grown, otherwise built.
    */
  final case class Gen(path: String, sig: String, n: Int, delta: Seq[String])

  // keyed on generation 0's resolved scratch path, which names the
  // artifact, its corpus and the scratch root (spark.graft.scratchDir may
  // change within one JVM)
  private val gens = scala.collection.concurrent.TrieMap[String, Gen]()
  private val locks = scala.collection.concurrent.TrieMap[String, Object]()

  private def locked[T](key: String)(body: => T): T =
    locks.getOrElseUpdate(key, new Object).synchronized(body)

  /** The current generation of artifact `name`, building generation 0 on
    * first use in this JVM. `sig` is taken before `build` reads the
    * corpus. A warm call lists nothing and reads no file: every served
    * index query goes through here.
    */
  def once(spark: SparkSession, name: String, sig: => String)(
      build: String => Unit): Gen = {
    val key = Scratch.dir(spark, name)
    gens.getOrElse(key, locked(key)(gens.getOrElseUpdate(key, {
      val s = sig
      build(key)
      Gen(key, s, 0, Nil)
    })))
  }

  /** Bring artifact `name` up to the corpus listing `sig`: the current
    * generation when `sig` is unchanged; `grow(current, deltaFiles, next)`
    * when the corpus only grew, returning the path that now holds the
    * state (`next`, or the current path for an append in place); else
    * `build(next)`. A first call builds generation 0.
    */
  def refresh(spark: SparkSession, name: String, sig: String)(
      build: String => Unit)(grow: (Gen, Seq[String], String) => String): Gen = {
    val key = Scratch.dir(spark, name)
    locked(key) {
      val g = gens.get(key) match {
        case None => build(key); Gen(key, sig, 0, Nil)
        case Some(cur) if cur.sig == sig => cur
        case Some(cur) =>
          // a fresh path per generation: in-flight readers of the current
          // one never see its files change under them
          val next = Scratch.owned(s"${key}_g${cur.n + 1}")
          deltaFiles(cur.sig, sig) match {
            case Some(files) => Gen(grow(cur, files, next), sig, cur.n + 1, files)
            case None => build(next); Gen(next, sig, cur.n + 1, Nil)
          }
      }
      gens.put(key, g)
      g
    }
  }

  /** The files of listing `cur` that listing `prev` lacks, or None when
    * an entry of `prev` vanished or changed. Entries are "path:len:mtime";
    * the path itself may contain ':' (file: URIs), so the last two
    * :-fields are stripped.
    */
  private def deltaFiles(prev: String, cur: String): Option[Seq[String]] = {
    val old = prev.split('\n').toSet
    val now = cur.split('\n').toSeq
    Option.when(old.subsetOf(now.toSet))(now.filterNot(old).map(e =>
      e.substring(0, e.lastIndexOf(':', e.lastIndexOf(':') - 1))))
  }

  /** A private copy of `sfDir`'s `table` for a refresh round trip:
    * `build` runs over the copy, then `batch(rows)` is appended to it as
    * one file, so the caller's refresh sees exactly that delta. Memoized
    * per source listing signature: a changed source stages a fresh copy
    * rather than serving the old one.
    */
  def staged(spark: SparkSession, name: String, sfDir: String, table: String)(
      build: String => Unit)(batch: DataFrame => DataFrame): String = {
    val raw = spark.read.parquet(s"$sfDir/$table.parquet")
    Scratch.memoizedDir(spark, name + Scratch.valueToken(sfDir),
      graft.sources.Tables.listingSig(raw)) { d =>
      raw.coalesce(1).write.mode("overwrite").parquet(s"$d/$table.parquet")
      build(d)
      batch(raw).coalesce(1).write.mode("append").parquet(s"$d/$table.parquet")
    }
  }
}
