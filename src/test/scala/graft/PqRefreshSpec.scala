package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.Tables

/** Incremental PQ-codes maintenance: append → delta-encode ONLY the new
  * file (base codes files byte-untouched), shrink → honest full rebuild,
  * and in every state the artifact equals a from-scratch encode.
  */
class PqRefreshSpec extends SparkTestBase {

  private def partFiles(dir: String): Map[String, (Long, Long)] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map(f => f.getName -> (f.length, f.lastModified))
      .toMap

  private def codesRows(path: String): Set[String] = rowsOf(spark.read.parquet(path))

  private def rowsOf(codes: DataFrame): Set[String] =
    codes.select(col("vec_id"), col("cent_id"), concat_ws(",", col("codes")).as("cs"))
      .collect().map(_.toString).toSet

  // a from-scratch encode of the corpus as it is now
  private def rebuiltRows(d: String): Set[String] =
    rowsOf(Similarity.encodePq(Tables.embeddings(spark, d),
      Similarity.embeddingDim(spark, d)))

  test("append → delta encode only; shrink → full rebuild; both ≡ rebuild") {
    val d = java.nio.file.Files.createTempDirectory("graft_pqref_spec_")
      .toFile.getAbsolutePath
    try {
      val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      raw.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")

      // first call → full build of generation 0
      val g1 = Similarity.ensurePqCodes(spark, d)
      assert(g1.n == 0 && g1.delta.isEmpty)
      val p1 = g1.path
      val before = partFiles(p1)
      assert(before.nonEmpty)

      // unchanged corpus → served as-is: the same generation and path
      assert(Similarity.ensurePqCodes(spark, d) == g1)

      // append a batch → the SAME artifact path grows by delta encoding;
      // every pre-existing codes file must stay byte-identical
      raw.filter(col("vec_id") < 50)
        .withColumn("vec_id", col("vec_id") + 10000)
        .coalesce(1).write.mode("append").parquet(s"$d/embeddings.parquet")
      val g2 = Similarity.ensurePqCodes(spark, d)
      val p2 = g2.path
      assert(p2 == p1, "append must refresh in place, not re-generate")
      assert(g2.n == 1 && g2.delta.size == 1, s"not a delta refresh: $g2")
      val after = partFiles(p1)
      before.foreach { case (name, sig) =>
        assert(after.get(name).contains(sig),
          s"base codes file $name was rewritten by the delta refresh")
      }
      assert(after.size > before.size, "delta must append new codes files")

      // delta ≡ rebuild: the grown artifact equals a from-scratch encode
      // of the mutated corpus
      assert(codesRows(p2) == rebuiltRows(d))

      // shrink (rewrite with fewer rows) → stored codes describe vanished
      // rows; the ensure must fall back to a FULL rebuild in a fresh
      // generation
      raw.filter(col("vec_id") % 2 === 0)
        .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      val g3 = Similarity.ensurePqCodes(spark, d)
      assert(g3.n == 2 && g3.delta.isEmpty, s"not a full rebuild: $g3")
      val p3 = g3.path
      assert(p3 != p1, "a shrink must land in a fresh generation")
      assert(codesRows(p3) == rebuiltRows(d))
    } finally graft.util.Scratch.deleteRecursively(d)
  }
}
