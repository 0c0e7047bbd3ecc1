package graft

import graft.operators.Similarity

class LabelNoiseSpec extends SparkTestBase {
  import spark.implicits._

  test("labelNoiseAudit matches a naive driver-side recompute (sf0.001)") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label")
      .as[(Long, Seq[Float], Int)].collect()
    // prototypes exactly as labelCentroids defines them: micro-quantized
    // sums, one division, 6dp round
    val cents: Map[Int, Array[Double]] = vecs.groupBy(_._3).map {
      case (l, rs) =>
        val dim = rs.head._2.length
        val sums = new Array[Long](dim)
        rs.foreach { case (_, e, _) =>
          (0 until dim).foreach { i =>
            sums(i) += math.floor(e(i).toDouble * 1e6 + 0.5).toLong
          }
        }
        l -> sums.map(s => BigDecimal(s.toDouble / (rs.length.toDouble * 1e6))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    def cosMicro(a: Seq[Float], c: Array[Double]): Long = {
      var dot = 0.0; var na = 0.0; var nc = 0.0
      (0 until c.length).foreach { i =>
        dot += a(i).toDouble * c(i); na += a(i).toDouble * a(i).toDouble
        nc += c(i) * c(i)
      }
      val s = dot / (math.sqrt(na) * math.sqrt(nc))
      val r = if (s.isNaN) -2.0
        else BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(r * 1e6)
    }
    val expected = vecs.map { case (id, e, l) =>
      val own = cosMicro(e, cents(l))
      val (altL, altM) = cents.toSeq.filter(_._1 != l)
        .map { case (cl, c) => (cl, cosMicro(e, c)) }
        .minBy { case (cl, m) => (-m, cl) }
      (id, l, own, altL, altM, altM > own)
    }.sortBy(_._1).toSeq
    val got = Similarity.labelNoiseAudit(spark, sf)
      .as[(Long, Int, Long, Int, Long, Boolean)].collect().toSeq
    assert(got == expected)
    // the audit must DISCRIMINATE, not rubber-stamp: both verdicts occur
    // (the synthetic labels are weakly separable — suspect share ~0.63
    // here — and surfacing that is exactly the query's job; an absolute
    // bound would pin the corpus, not the operator)
    val suspects = got.count(_._6)
    assert(suspects > 0 && suspects < got.size,
      s"degenerate verdict: $suspects of ${got.size}")
  }
}
