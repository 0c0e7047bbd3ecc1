package graft

import java.nio.file.Files

import graft.operators.Indexer

/** Incremental index maintenance: upsert == full rebuild, and untouched
  * letter partitions are not rewritten.
  */
class IndexUpsertSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private def writeCorpus(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private val scratchDirs = scala.collection.mutable.ListBuffer.empty[String]
  private def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    scratchDirs += d
    d
  }
  override def afterAll(): Unit = {
    scratchDirs.foreach(graft.util.Scratch.deleteRecursively)
    super.afterAll()
  }

  test("upsertIntoIndex rewrites only affected letter partitions, result == rebuild") {
    val corpusDir = tempDir("graft_up_corpus")
    val indexDir = tempDir("graft_up_index") + "/idx"
    val v1 = Seq(1L -> "apple avocado apple", 2L -> "banana berry", 3L -> "cherry cherry")
    writeCorpus(corpusDir, v1)
    Indexer.writeIndex(spark, corpusDir, indexDir)

    val aFile = new java.io.File(s"$indexDir/first_letter=a")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val bFile = new java.io.File(s"$indexDir/first_letter=b")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val (aMod, bMod) = (aFile.lastModified, bFile.lastModified)

    // doc 3: "cherry cherry" -> "date" (affects letters c and d only)
    Indexer.upsertIntoIndex(spark, indexDir, Seq(3L -> "date").toDF("doc_id", "text"))

    val got = spark.read.parquet(indexDir)
      .select("term", "doc_id", "tf").as[(String, Long, Long)].collect().toSet
    val v2 = Seq(1L -> "apple avocado apple", 2L -> "banana berry", 3L -> "date")
    val rebuildDir = tempDir("graft_up_corpus2")
    writeCorpus(rebuildDir, v2)
    val expected = Indexer.postings(spark, rebuildDir)
      .as[(String, Long, Long)].collect().toSet
    assert(got === expected)

    // untouched letters a/b keep their original files
    assert(aFile.lastModified === aMod, "letter 'a' partition was rewritten")
    assert(bFile.lastModified === bMod, "letter 'b' partition was rewritten")
    // letter c must be gone or empty of doc 3; letter d must exist
    assert(new java.io.File(s"$indexDir/first_letter=d").exists())
    assert(!got.exists { case (t, d, _) => d == 3L && t == "cherry" })
  }

  test("in-place upsert and copy-on-write commit agree with a rebuild") {
    val corpusDir = tempDir("graft_up_eq_corpus")
    writeCorpus(corpusDir, Seq(1L -> "apple avocado apple", 2L -> "banana berry",
      3L -> "cherry cherry", 4L -> "kiwi kale"))
    // a rewrite, a new doc, and a tombstone that empties letter k
    val updates = Seq(1L -> "apple date", 5L -> "elder fig", 4L -> "")
      .toDF("doc_id", "text")
    val indexDir = tempDir("graft_up_eq_index") + "/idx"
    Indexer.writeIndex(spark, corpusDir, indexDir)
    Indexer.upsertIntoIndex(spark, indexDir, updates)
    val root = tempDir("graft_up_eq_snap")
    graft.operators.Snapshots.commitV1(spark, corpusDir, root)
    graft.operators.Snapshots.commitUpsert(spark, root, 1, 2, updates)

    val amendedDir = tempDir("graft_up_eq_amended")
    writeCorpus(amendedDir, Seq(1L -> "apple date", 2L -> "banana berry",
      3L -> "cherry cherry", 4L -> "", 5L -> "elder fig"))
    val rebuiltDir = tempDir("graft_up_eq_rebuilt") + "/idx"
    Indexer.writeIndex(spark, amendedDir, rebuiltDir)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("first_letter", "term", "doc_id", "tf")
        .as[(String, String, Long, Long)].collect().toSet
    val rebuilt = rows(Indexer.readIndex(spark, rebuiltDir))
    assert(rows(Indexer.readIndex(spark, indexDir)) === rebuilt)
    assert(rows(graft.operators.Snapshots.readSnapshot(spark, root, 2)) === rebuilt)
    val letters = Indexer.lettersAt(rebuiltDir)
    assert(!letters.contains("k"))
    assert(Indexer.lettersAt(indexDir) === letters)
    assert(graft.operators.Snapshots.readManifest(root, 2).keySet === letters)
  }
}
