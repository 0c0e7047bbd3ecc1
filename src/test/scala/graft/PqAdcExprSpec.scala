package graft

import org.apache.spark.sql.functions._

import graft.functions.PqAdcExpr.pqAdcNative
import graft.operators.Similarity

/** The native pq_adc_distance kernel is pinned BITWISE against the HOF
  * twin it replaced — same two-level accumulation (inner per-subspace
  * sequential sum, then subspace-order outer sum), so equality, not
  * approximation — over the real corpus's codes and queries.
  */
class PqAdcExprSpec extends SparkTestBase {
  import spark.implicits._

  test("native ADC == HOF twin bitwise over real codes and queries") {
    val dim = 64
    val codes = spark.read.parquet(Similarity.ensurePqCodes(spark, sf).path)
    val q = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val diff = codes.crossJoin(broadcast(q))
      .select(
        pqAdcNative(col("q_emb"), col("codes"),
          Similarity.pqBooksLit(dim)).as("native"),
        Similarity.pqAdcDistHof(col("q_emb"), col("codes"), dim).as("hof"))
      .where(col("native") =!= col("hof")) // bitwise double compare
      .count()
    assert(diff === 0L)
  }

  test("interpreted eval == codegen, and a hand value") {
    // 2 subspaces of width 2, 2 codes each: distance computable by hand
    val books = Seq(
      Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)),
      Seq(Seq(2.0, 2.0), Seq(-1.0, 0.5)))
    val df = Seq((Seq(1.0f, 2.0f, 3.0f, 4.0f), Seq(1, 0)))
      .toDF("q", "codes")
      .select(pqAdcNative(col("q"), col("codes"), typedlit(books)).as("d"))
    // subspace 0 vs code 1: (1-1)² + (2-1)² = 1; subspace 1 vs code 0:
    // (3-2)² + (4-2)² = 5 → 6
    val on = df.as[Double].head()
    assert(on === 6.0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(df.as[Double].head() === on)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("malformed inputs yield NULL, never garbage") {
    val books = typedlit(Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))))
    // query shorter than the subspaces cover
    val short = Seq((Seq(1.0f), Seq(0)))
      .toDF("q", "codes").select(pqAdcNative(col("q"), col("codes"), books))
      .collect().head
    assert(short.isNullAt(0))
    // code id outside the codebook
    val oob = Seq((Seq(1.0f, 2.0f), Seq(7)))
      .toDF("q", "codes").select(pqAdcNative(col("q"), col("codes"), books))
      .collect().head
    assert(oob.isNullAt(0))
    // null code slot
    val nullCode = Seq((Seq(1.0f, 2.0f), Seq(None: Option[Int])))
      .toDF("q", "codes").select(pqAdcNative(col("q"), col("codes"), books))
      .collect().head
    assert(nullCode.isNullAt(0))
    // null QUERY element — an unguarded getFloat would read stale bits
    val nullQ = Seq((Seq[java.lang.Float](1.0f, null), Seq(0)))
      .toDF("q", "codes").select(pqAdcNative(col("q"), col("codes"), books))
      .collect().head
    assert(nullQ.isNullAt(0))
    // null CODEBOOK entry / element
    val nullBook = typedlit(Seq(Option.empty[Seq[Seq[Double]]]))
    val nb = Seq((Seq(1.0f, 2.0f), Seq(0)))
      .toDF("q", "codes").select(pqAdcNative(col("q"), col("codes"), nullBook))
      .collect().head
    assert(nb.isNullAt(0))
    val nullElemBook = typedlit(Seq(Seq(Seq(Option.empty[Double], Some(1.0)))))
    val neb = Seq((Seq(1.0f, 2.0f), Seq(0)))
      .toDF("q", "codes").select(pqAdcNative(col("q"), col("codes"), nullElemBook))
      .collect().head
    assert(neb.isNullAt(0))
  }

  test("mistyped inputs fail at analysis") {
    val e = intercept[Exception] {
      Seq((Seq(1.0f), Seq(0L))).toDF("q", "codes")
        .select(pqAdcNative(col("q"), col("codes"),
          typedlit(Seq(Seq(Seq(0.0)))))).collect()
    }
    assert(e.getMessage.contains("array<int>") ||
      e.getMessage.toLowerCase.contains("pq_adc_distance"))
  }
}
