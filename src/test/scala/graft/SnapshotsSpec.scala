package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Snapshots
import graft.sources.Tables

/** Copy-on-write snapshot semantics: old snapshots must survive upserts
  * bit-for-bit, and an upsert must rewrite only the letter partitions it
  * touches (that is the property that makes time travel metadata-priced
  * at 100 TB — a snapshot is a manifest, never a data copy).
  */
class SnapshotsSpec extends SparkTestBase {

  private def amendedDoc0 =
    Tables.documents(spark, sf)
      .filter(col("doc_id") === 0)
      .withColumn("text", concat(col("text"), lit(" graftmarker")))

  test("snapshot v1 is bit-identical before and after a copy-on-write upsert") {
    val root = Files.createTempDirectory("graft_snap_test_").toFile.getAbsolutePath
    try {
      Snapshots.commitV1(spark, sf, root)
      val before = Snapshots.readSnapshot(spark, root, 1)
        .orderBy("term", "doc_id").collect()
      Snapshots.commitUpsertV2(spark, root, amendedDoc0)
      val after = Snapshots.readSnapshot(spark, root, 1)
        .orderBy("term", "doc_id").collect()
      assert(before.length > 0)
      assert(after.sameElements(before),
        "v1 read through its manifest changed after the v2 upsert")

      val v2 = Snapshots.readSnapshot(spark, root, 2)
      assert(v2.filter(col("term") === "graftmarker").count() == 1)
      // v2 = v1 minus doc 0's old postings plus doc 0's amended postings —
      // every other document's postings are untouched
      val othersBefore = before.filterNot(_.getAs[Long]("doc_id") == 0L)
      val othersAfter = v2.filter(col("doc_id") =!= 0)
        .orderBy("term", "doc_id").collect()
      assert(othersAfter.sameElements(othersBefore))
    } finally graft.util.Scratch.deleteRecursively(root)
  }

  test("upsert manifests reference untouched letters from v1 (no rewrite)") {
    val root = Files.createTempDirectory("graft_snap_test_").toFile.getAbsolutePath
    try {
      Snapshots.commitV1(spark, sf, root)
      Snapshots.commitUpsertV2(spark, root, amendedDoc0)
      val m1 = Snapshots.readManifest(root, 1)
      val m2 = Snapshots.readManifest(root, 2)
      assert(m1.values.forall(_ == "v1"))
      // the marker term's letter must be owned by the new version...
      assert(m2("g") == "v2")
      // ...and at least one letter doc 0 never touches must still be
      // served from the v1 files (copy-on-write, not copy-everything)
      assert(m2.values.exists(_ == "v1"),
        "v2 manifest re-owns every letter — upsert degenerated to a full rewrite")
      // the v2 directory holds only the letters the manifest says it owns
      val v2Letters = Option(new java.io.File(root, "v2").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("first_letter="))
        .map(_.getName.stripPrefix("first_letter=")).toSet
      assert(v2Letters == m2.filter(_._2 == "v2").keySet)
    } finally graft.util.Scratch.deleteRecursively(root)
  }

  test("expiry deletes exactly the version dirs no surviving manifest references") {
    val root = Files.createTempDirectory("graft_snap_test_").toFile.getAbsolutePath
    try {
      def amend(suffix: String) =
        Tables.documents(spark, sf)
          .filter(col("doc_id") === 0)
          .withColumn("text", concat(col("text"), lit(suffix)))
      Snapshots.commitV1(spark, sf, root)
      Snapshots.commitUpsert(spark, root, 1, 2, amend(" graftmarker"))
      // append-only: v3's text contains v2's, so v3 rewrites every letter
      // v2 owns and v2's directory becomes exclusive to snapshot 2
      Snapshots.commitUpsert(spark, root, 2, 3, amend(" graftmarker graftqq"))
      val v1Before = Snapshots.readSnapshot(spark, root, 1)
        .orderBy("term", "doc_id").collect()
      val v3Before = Snapshots.readSnapshot(spark, root, 3)
        .orderBy("term", "doc_id").collect()

      Snapshots.expireSnapshots(root, Set(2))

      assert(!new java.io.File(root, "manifest_v2.tsv").exists())
      assert(!new java.io.File(root, "v2").exists(),
        "v2's directory was referenced by no surviving manifest but survived expiry")
      assert(new java.io.File(root, "v1").exists(),
        "v1's directory is still referenced (by snapshots 1 and 3) and must survive")
      assert(Snapshots.readSnapshot(spark, root, 1)
        .orderBy("term", "doc_id").collect().sameElements(v1Before))
      assert(Snapshots.readSnapshot(spark, root, 3)
        .orderBy("term", "doc_id").collect().sameElements(v3Before))
    } finally graft.util.Scratch.deleteRecursively(root)
  }
}
