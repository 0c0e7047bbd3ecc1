package graft.operators

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Copy-on-write SNAPSHOT versioning for the materialized index — the
  * table-format metadata idea (immutable data files + a tiny manifest per
  * snapshot) scaled down to its essence. Each snapshot is a manifest
  * mapping every letter partition to the VERSION DIRECTORY that last
  * rewrote it; an upsert writes only the affected letters into a fresh
  * version directory and a new manifest that keeps referencing untouched
  * letters from the previous version. Nothing is ever overwritten in
  * place, so every older snapshot stays exactly readable after any number
  * of upserts — the isolation property the reference's `a+` append files
  * (`/root/reference/helper_reduce.c:241`) can never give, and the reason
  * real lakehouse tables separate data from metadata.
  *
  * At 100 TB the manifest is KBs (one row per partition per snapshot)
  * while the data is immutable parquet — time travel costs one metadata
  * read, never a data copy; expiring a snapshot is deleting the version
  * directories no surviving manifest references.
  */
object Snapshots {

  /** letter → version-dir name (relative to the table root). */
  private type Manifest = Map[String, String]

  private def manifestPath(root: String, v: Int) =
    Paths.get(root, s"manifest_v$v.tsv")

  private def writeManifest(root: String, v: Int, m: Manifest): Unit = {
    val lines = m.toSeq.sorted.map { case (letter, dir) => s"$letter\t$dir" }
    Files.write(manifestPath(root, v), lines.asJava)
    ()
  }

  private[graft] def readManifest(root: String, v: Int): Manifest =
    Files.readAllLines(manifestPath(root, v)).asScala
      .map { l => val Array(letter, dir) = l.split("\t"); letter -> dir }
      .toMap

  /** Serve a snapshot: group the manifest's letters by owning version
    * directory, read each directory restricted to ITS letters (basePath
    * keeps the partition column), and union. The plan only ever lists the
    * files the manifest names — a letter rewritten by a later version is
    * invisible to an earlier snapshot.
    */
  def readSnapshot(spark: SparkSession, root: String, v: Int): DataFrame =
    readManifest(root, v)
      .groupBy { case (_, dir) => dir }
      .map { case (dir, letters) =>
        val base = new File(root, dir).getAbsolutePath
        val paths = letters.keys.toSeq.sorted
          .map(l => s"$base/first_letter=$l")
        spark.read.option("basePath", base).parquet(paths: _*)
          .select(col("first_letter").cast("string").as("first_letter"),
            col("term"), col("doc_id"), col("tf"))
      }
      .reduce(_.unionByName(_))

  /** Snapshot v1: the full index build, every letter owned by `v1/`. */
  private[graft] def commitV1(spark: SparkSession, sfDir: String, root: String): Unit = {
    Indexer.writeIndex(spark, sfDir, new File(root, "v1").getAbsolutePath)
    val letters = Indexer.readIndex(spark, new File(root, "v1").getAbsolutePath)
      .select(col("first_letter")).distinct()
      .collect().map(_.getString(0)) // ≤ 26 rows — this IS the metadata
    writeManifest(root, 1, letters.map(_ -> "v1").toMap)
  }

  // per-(corpus, listing-signature) letter list of the shared v1 build
  // (≤ 26 entries): keying on sfDir alone would serve a STALE manifest
  // after a mid-JVM corpus mutation — MaterializedIndex.ensure rebuilds,
  // but a letter missing from the rebuilt artifact would make
  // readSnapshot fail on a nonexistent partition path, and a newly
  // appearing letter would silently drop out of the snapshot
  private val v1Letters = scala.collection.concurrent.TrieMap[String, Manifest]()

  /** Snapshot v1 WITHOUT re-running the index build: version directories
    * are immutable by this design's own contract, so every snapshot root
    * can SYMLINK its `v1/` at the one shared [[MaterializedIndex.ensure]]
    * artifact (bit-identical to [[commitV1]]'s product — same
    * `Indexer.writeIndex`) instead of paying a full corpus tokenize+write
    * per query execution. Upserts only ever create sibling `v2/` dirs and
    * new manifests; retiring the root deletes the LINK, never the shared
    * files. [[commitV1]] stays for specs that exercise the real build and
    * for [[expireSnapshots]] tests that must own their version dirs.
    */
  private def linkSharedV1(spark: SparkSession, sfDir: String, root: String): Unit = {
    val data = MaterializedIndex.ensure(spark, sfDir)
    Files.createSymbolicLink(Paths.get(root, "v1"), Paths.get(data))
    val sig = graft.sources.Tables.listingSig(Tables.documents(spark, sfDir))
    val letters = v1Letters.getOrElseUpdate(s"$sfDir|$sig",
      Indexer.readIndex(spark, data)
        .select(col("first_letter")).distinct()
        .collect().map(_.getString(0)).map(_ -> "v1").toMap)
    writeManifest(root, 1, letters)
  }

  /** Snapshot v2: copy-on-write upsert of [[commitV1]]'s snapshot. */
  private[graft] def commitUpsertV2(spark: SparkSession, root: String,
                                    updatedDocs: DataFrame): Unit =
    commitUpsert(spark, root, 1, 2, updatedDocs)

  /** Copy-on-write upsert from snapshot `fromV` to snapshot `toV`.
    * Affected letters (any letter holding the updated docs' old or new
    * terms) are merged and written under `v$toV/`; the new manifest points
    * affected letters at the new version directory and every other letter
    * at whatever version `fromV`'s manifest already referenced — files are
    * never touched in place, so every older snapshot stays readable.
    */
  private[graft] def commitUpsert(spark: SparkSession, root: String,
                                  fromV: Int, toV: Int,
                                  updatedDocs: DataFrame): Unit = {
    val v1 = readSnapshot(spark, root, fromV)
    val newPostings = updatedDocs
      .select(col("doc_id"), graft.functions.TextFunctions.explodedTokens(col("text")).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("first_letter", graft.functions.TextFunctions.firstLetter(col("term")))
      .select("first_letter", "term", "doc_id", "tf")
    val docIds = updatedDocs.select("doc_id").distinct()
    val affected = newPostings.select("first_letter")
      .union(v1.join(docIds, "doc_id").select("first_letter"))
      .distinct().collect().map(_.getString(0)).toSet
    val merged = v1
      .filter(col("first_letter").isin(affected.toSeq: _*))
      .join(docIds, Seq("doc_id"), "left_anti")
      .select("first_letter", "term", "doc_id", "tf")
      .unionByName(newPostings)
      .repartition(Indexer.letterShardKeys: _*)
      .sortWithinPartitions("term", "doc_id")
    merged.write.mode("overwrite")
      .partitionBy("first_letter")
      .parquet(new File(root, s"v$toV").getAbsolutePath)
    val fromManifest = readManifest(root, fromV)
    // letters whose postings all belonged to the updated docs write no new
    // files — they leave the manifest entirely (the snapshot simply has no
    // such letter), mirroring upsertIntoIndex's stale-partition cleanup
    // list the written letter directories off the filesystem rather than
    // re-reading with Spark: an all-docs-replaced merge can legally write
    // ZERO rows, and a parquet read of a dir with no part files throws
    // (letters are single chars, so no partition-value escaping concerns)
    val written = Option(new File(root, s"v$toV").listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith("first_letter="))
      .map(_.getName.stripPrefix("first_letter="))
      .toSet
    writeManifest(root, toV,
      (fromManifest -- affected) ++ written.map(_ -> s"v$toV").toMap)
  }

  /** Expire snapshots: drop the named manifests, then delete every version
    * directory no SURVIVING manifest references. This is the whole cost of
    * retention at 100 TB — manifest deletes are metadata-priced, and data
    * deletion is exactly the set difference of directory references, so a
    * version directory an active snapshot still points into (e.g. v1
    * files a later manifest kept for untouched letters) survives.
    */
  private[graft] def expireSnapshots(root: String, versions: Set[Int]): Unit = {
    versions.foreach(v => Files.deleteIfExists(manifestPath(root, v)))
    val surviving = Option(new File(root).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("manifest_v") && f.getName.endsWith(".tsv"))
      .map(f => f.getName.stripPrefix("manifest_v").stripSuffix(".tsv").toInt)
    val referenced = surviving.flatMap(v => readManifest(root, v).values).toSet
    Option(new File(root).listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+") &&
        !referenced.contains(f.getName))
      .foreach(f => graft.util.Scratch.deleteRecursively(f.toPath))
  }

  private def snapshotStats(df: DataFrame, version: String): DataFrame =
    df.agg(count(lit(1)).as("n_postings"),
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("total_tf"),
        sum(when(col("term") === "graftmarker", 1L).otherwise(0L))
          .as("marker_postings"))
      .select(lit(version).as("version"), col("n_postings"), col("n_terms"),
        col("total_tf"), col("marker_postings"))

  private val scratch = new graft.util.ScratchSlot
  private val changesScratch = new graft.util.ScratchSlot

  private val deleteScratch = new graft.util.ScratchSlot

  /** Right-to-be-forgotten PURGE as a copy-on-write delete: committing an
    * upsert whose amended documents have EMPTY text removes every posting
    * of the purged docs — only their letter partitions are rewritten
    * (letters left with no postings drop out of the manifest entirely),
    * nothing else is touched, and the old snapshot remains for the
    * retention window until [[expireSnapshots]] deletes its files. The
    * output fingerprints the post-delete snapshot plus a `deleted_postings`
    * count that must be zero; the oracle indexes the corpus WITHOUT the
    * purged docs, so the hash match proves delete ≡ rebuild-without-them.
    */
  def gdprDelete(spark: SparkSession, sfDir: String): DataFrame = {
    deleteScratch.retire()
    val root = Files.createTempDirectory("graft_gdpr_").toFile.getAbsolutePath
    deleteScratch.defer(() => graft.util.Scratch.deleteRecursively(root))
    linkSharedV1(spark, sfDir, root)
    val tombstones = Tables.documents(spark, sfDir)
      .filter(col("doc_id").isin(0, 1))
      .withColumn("text", lit(""))
    commitUpsert(spark, root, 1, 2, tombstones)
    readSnapshot(spark, root, 2)
      .agg(count(lit(1)).as("n_postings"),
        countDistinct(col("term")).as("n_terms"),
        sum(col("tf")).as("total_tf"),
        sum(when(col("doc_id").isin(0, 1), 1L).otherwise(0L))
          .as("deleted_postings"))
  }

  /** Change data feed between two snapshots: the exact postings rows an
    * upsert added and removed, computed purely from the two manifests'
    * reads — the consumer-side primitive incremental downstream pipelines
    * need (recompute only what changed, not the table). Doc 0's amendment
    * appends doc 1's full text, so the delta spans many terms and letter
    * partitions, and rows whose tf changed surface as one remove + one
    * add. Set EXCEPT is safe here because (term, doc_id) is a key of the
    * postings relation.
    */
  def snapshotChanges(spark: SparkSession, sfDir: String): DataFrame = {
    changesScratch.retire()
    val root = Files.createTempDirectory("graft_snapcdf_").toFile.getAbsolutePath
    changesScratch.defer(() => graft.util.Scratch.deleteRecursively(root))
    linkSharedV1(spark, sfDir, root)
    val addendum = Tables.documents(spark, sfDir).filter(col("doc_id") === 1)
      .select(col("text").as("added_text"))
    val updated = Tables.documents(spark, sfDir).filter(col("doc_id") === 0)
      .crossJoin(broadcast(addendum))
      .withColumn("text", concat(col("text"), lit(" "), col("added_text")))
      .drop("added_text")
    commitUpsert(spark, root, 1, 2, updated)
    val v1 = readSnapshot(spark, root, 1).select("term", "doc_id", "tf")
    val v2 = readSnapshot(spark, root, 2).select("term", "doc_id", "tf")
    v2.except(v1).withColumn("change", lit("add"))
      .unionByName(v1.except(v2).withColumn("change", lit("remove")))
      .select("change", "term", "doc_id", "tf")
      .orderBy("change", "term", "doc_id")
  }

  /** The snapshot lifecycle as one oracle-checkable query: commit the
    * corpus as snapshot v1, upsert document 0's amended text as
    * copy-on-write snapshot v2, then read BOTH snapshots through their
    * manifests and fingerprint each. The oracle computes v1's stats over
    * the original corpus and v2's over the amended corpus directly, so a
    * hash match proves time travel serves the v1 answer bit-for-bit AFTER
    * the upsert — old snapshots survive writes untouched.
    */
  def timetravelRoundTrip(spark: SparkSession, sfDir: String): DataFrame = {
    scratch.retire()
    val root = Files.createTempDirectory("graft_snapshots_").toFile.getAbsolutePath
    scratch.defer(() => graft.util.Scratch.deleteRecursively(root))
    linkSharedV1(spark, sfDir, root)
    val updated = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === 0)
      .withColumn("text", concat(col("text"), lit(" graftmarker")))
    commitUpsertV2(spark, root, updated)
    snapshotStats(readSnapshot(spark, root, 1), "v1")
      .unionByName(snapshotStats(readSnapshot(spark, root, 2), "v2"))
      .orderBy("version")
  }
}
