package graft

import graft.operators.Compaction

class CompactionSpec extends SparkTestBase {

  test("compact merges small files without changing content") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.repartition(32).write.mode("overwrite").parquet(dir)

    val before = docs.orderBy("doc_id").collect()
    val r = Compaction.compact(spark, dir, targetBytes = 512L * 1024 * 1024)
    assert(r.filesBefore >= 32)
    assert(r.filesAfter === 1, s"expected 1 output file, got ${r.filesAfter}")

    val after = spark.read.parquet(dir).orderBy("doc_id").collect()
    assert(after.sameElements(before), "compaction changed table content")
  }
}
