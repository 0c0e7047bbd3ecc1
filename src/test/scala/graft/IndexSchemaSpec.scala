package graft

import org.apache.spark.sql.functions._

import graft.operators.{Indexer, MaterializedIndex, Snapshots}

/** The index layouts' declared schemas ([[Indexer.termIndexSchema]],
  * [[MaterializedIndex.positionalIndexSchema]]) stand in for schema
  * inference on every index read, so they must be exactly what inference
  * finds in the files each writer leaves behind — and a read must still
  * see the files as they are after a rewrite.
  */
class IndexSchemaSpec extends SparkTestBase
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private def inferred(path: String) = spark.read.parquet(path).schema

  private val scratchDirs = scala.collection.mutable.ListBuffer.empty[String]
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs += d
    d
  }
  override def afterAll(): Unit = {
    scratchDirs.foreach(graft.util.Scratch.deleteRecursively)
    super.afterAll()
  }

  private def writeCorpus(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("declared schemas == inferred after writeIndex, ensure, ensurePositional") {
    val ix = tempDir("graft_schema_ix") + "/index"
    Indexer.writeIndex(spark, sf, ix)
    assert(inferred(ix) === Indexer.termIndexSchema)
    assert(inferred(MaterializedIndex.ensure(spark, sf)) === Indexer.termIndexSchema)
    assert(inferred(MaterializedIndex.ensurePositional(spark, sf)) ===
      MaterializedIndex.positionalIndexSchema)
  }

  test("declared schema == inferred after upsertIntoIndex and refresh") {
    val corpus = tempDir("graft_schema_corpus")
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    raw.coalesce(1).write.parquet(s"$corpus/documents.parquet")
    val ix = tempDir("graft_schema_up") + "/index"
    Indexer.writeIndex(spark, corpus, ix)
    Indexer.upsertIntoIndex(spark, ix,
      Seq(0L -> "zebra quill zebra").toDF("doc_id", "text"))
    assert(inferred(ix) === Indexer.termIndexSchema)

    MaterializedIndex.ensure(spark, corpus)
    raw.orderBy("doc_id").limit(50).coalesce(1)
      .write.mode("append").parquet(s"$corpus/documents.parquet")
    val g1 = MaterializedIndex.refresh(spark, corpus).path
    assert(g1.endsWith("_g1"), g1)
    assert(inferred(g1) === Indexer.termIndexSchema)
  }

  test("snapshot v1 and v2 reads == their inferred-schema reads") {
    val root = tempDir("graft_schema_snap")
    Snapshots.commitV1(spark, sf, root)
    Snapshots.commitUpsertV2(spark, root,
      graft.sources.Tables.documents(spark, sf).filter(col("doc_id") === 0)
        .withColumn("text", concat(col("text"), lit(" graftmarker"))))
    // the read as it was before the schema was declared: inferred per
    // version directory, first_letter cast back to a string
    def inferredSnapshot(v: Int) = Snapshots.readManifest(root, v)
      .groupBy { case (_, dir) => dir }
      .map { case (dir, letters) =>
        val base = new java.io.File(root, dir).getAbsolutePath
        spark.read.option("basePath", base)
          .parquet(letters.keys.toSeq.sorted.map(l => s"$base/first_letter=$l"): _*)
          .select(col("first_letter").cast("string").as("first_letter"),
            col("term"), col("doc_id"), col("tf"))
      }
      .reduce(_.unionByName(_))
    Seq(1, 2).foreach { v =>
      val got = Snapshots.readSnapshot(spark, root, v)
      val want = inferredSnapshot(v)
      assert(got.schema === want.schema, s"v$v")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("term", "doc_id").collect().toSeq
      val g = rows(got)
      assert(g.nonEmpty)
      assert(g === rows(want), s"v$v")
    }
  }

  test("a lookup after an upsert that empties a letter answers correctly") {
    val corpus = tempDir("graft_schema_empty")
    writeCorpus(corpus, Seq(1L -> "apple avocado apple", 2L -> "banana berry",
      3L -> "cherry cherry"))
    val ix = tempDir("graft_schema_empty_ix") + "/index"
    Indexer.writeIndex(spark, corpus, ix)
    def lookup(t: String) =
      Indexer.lookupInIndex(spark, ix, t).as[(String, Long, Long)].collect().toSeq
    assert(lookup("cherry") === Seq(("cherry", 3L, 2L)))
    // doc 3 was the only holder of letter c: the upsert drops that letter
    Indexer.upsertIntoIndex(spark, ix, Seq(3L -> "date").toDF("doc_id", "text"))
    assert(!new java.io.File(s"$ix/first_letter=c").exists())
    assert(lookup("cherry") === Seq.empty)
    assert(lookup("date") === Seq(("date", 3L, 1L)))
    assert(lookup("apple") === Seq(("apple", 1L, 2L)))
    assert(Indexer.readIndex(spark, ix).select("first_letter").distinct()
      .as[String].collect().toSet === Set("a", "b", "d"))
    assert(Indexer.readIndex(spark, ix).agg(sum("tf")).as[Long].head() === 6L)
  }
}
