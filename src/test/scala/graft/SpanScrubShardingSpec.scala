package graft

import graft.operators.{Dedup, Packing, TextAnalysis}

/** Independent ground truth for the round-10 curation additions: the
  * C4-style span scrub, the keep-longest cluster retention policy, and
  * the doc-atomic training-shard manifest. Each is recomputed brute-force
  * in driver Scala over the sf0.001 corpus and compared exactly.
  */
class SpanScrubShardingSpec extends SparkTestBase {
  import spark.implicits._

  private def tok(text: String): Seq[String] =
    text.toLowerCase.split(" ").map(_.replaceAll("[^a-z]", ""))
      .filter(_.nonEmpty).toSeq

  private lazy val docs = graft.sources.Tables.documents(spark, sf)
    .select("doc_id", "source", "n_chars", "text")
    .as[(Long, String, Long, String)].collect().sortBy(_._1)

  test("spanScrub: removal matches brute-force shared-3-gram coverage") {
    // shared 3-grams: distinct per doc, present in >= 2 docs
    val perDoc = docs.map { case (id, _, _, text) =>
      id -> tok(text)
    }.toMap
    val shingleDocs = perDoc.toSeq.flatMap { case (id, ts) =>
      ts.sliding(3).filter(_.size == 3).map(_.mkString(" ")).distinct
        .map(sh => (sh, id))
    }
    val shared = shingleDocs.groupBy(_._1).filter(_._2.size >= 2).keySet
    val expected = perDoc.map { case (id, ts) =>
      val starts = ts.indices.filter { i =>
        i + 3 <= ts.size && shared(ts.slice(i, i + 3).mkString(" "))
      }.toSet
      val covered = ts.indices.filter(j =>
        (math.max(0, j - 2) to j).exists(starts)).toSet
      val kept = ts.indices.filterNot(covered).map(ts)
      (id, ts.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
    val got = TextAnalysis.spanScrub(spark, sf)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length === perDoc.size)
    got.foreach { case (id, nTok, nKept, text) =>
      val (_, eTok, eKept, eText) = expected.find(_._1 == id).get
      assert(nTok === eTok, s"doc $id token count")
      assert(nKept === eKept, s"doc $id kept count")
      assert(text === eText, s"doc $id scrubbed text")
    }
    // the scrub must actually remove something on this corpus (it has
    // near-dup mirror docs by construction) but not everything
    assert(got.map(_._3).sum > 0 && got.map(_._3).sum < got.map(_._2).sum)
  }

  test("selfScrub: removal matches brute-force same-doc repeat coverage") {
    val expected = docs.map { case (id, _, _, text) =>
      val ts = tok(text)
      val seen = scala.collection.mutable.Set.empty[String]
      val starts = ts.indices.filter { i =>
        if (i + 3 > ts.size) false
        else !seen.add(ts.slice(i, i + 3).mkString(" "))
      }.toSet
      val covered = ts.indices.filter(j =>
        (math.max(0, j - 2) to j).exists(starts)).toSet
      val kept = ts.indices.filterNot(covered).map(ts)
      (id, ts.size.toLong, kept.size.toLong, kept.mkString(" "))
    }
    val got = TextAnalysis.selfScrub(spark, sf)
      .as[(Long, Long, Long, String)].collect()
    assert(got.length === expected.size)
    got.foreach { case (id, nTok, nKept, text) =>
      val (_, eTok, eKept, eText) = expected.find(_._1 == id).get
      assert((nTok, nKept, text) === ((eTok, eKept, eText)), s"doc $id")
    }
    // self-repeats exist in the synthetic corpus but aren't everything
    assert(got.map(_._3).sum > 0 && got.map(_._3).sum < got.map(_._2).sum)
  }

  test("clusterKeepLongest: keeper is the longest (tie: min id) per cluster") {
    val clusters = Dedup.dupClusters(spark, sf, 0.8)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val byCluster = docs.map { case (id, src, nc, _) =>
      (clusters.getOrElse(id, id), id, src, nc)
    }.groupBy(_._1)
    val dropped = byCluster.values.flatMap { members =>
      val keeper = members.minBy(m => (-m._4, m._2))
      members.filterNot(_ == keeper)
    }.map(_._2).toSet
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      val kept = ds.filterNot(d => dropped(d._1))
      (src, ds.size.toLong, (ds.size - kept.size).toLong,
        kept.size.toLong, kept.map(_._3).sum)
    }
    val rows = Dedup.clusterKeepLongest(spark, sf, 0.8)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.length === expected.size)
    rows.foreach { case (src, nDocs, nDropped, nKept, keptChars) =>
      val (_, eD, eDr, eK, eC) = expected.find(_._1 == src).get
      assert((nDocs, nDropped, nKept, keptChars) === ((eD, eDr, eK, eC)), src)
    }
    // something must actually be dropped on the near-dup-seeded corpus
    assert(rows.map(_._3).sum > 0)
  }

  test("curatedShards: the composed V3 pipeline matches its stages") {
    import org.apache.spark.sql.functions.col
    // stage recompute: keepers (longest per cluster) ∩ relative-scrub
    // survivors, sharded by the running token total
    val clusters = Dedup.dupClusters(spark, sf, 0.8)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val keepers = docs.map { case (id, _, nc, _) =>
      (clusters.getOrElse(id, id), id, nc)
    }.groupBy(_._1).values.map(_.minBy(m => (-m._3, m._2))._2).toSet
    val kept = graft.operators.TextAnalysis
      .spanScrubRelative(spark, sf)
      .select(col("doc_id"), col("n_kept")).as[(Long, Long)].collect().toMap
    val surv = docs.map(_._1).filter(id =>
      keepers(id) && kept.getOrElse(id, 0L) >= 5)
      .sorted.map(id => (id, kept(id) + 1))
    var off = 0L
    val expected = surv.map { case (id, n) =>
      val s = off / 2048; off += n; (s, id, n)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (sid, ms) =>
      (sid, ms.size.toLong, ms.map(_._3).sum,
        ms.map(_._2).min, ms.map(_._2).max)
    }
    val got = graft.operators.Curate.curatedShards(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("shardManifest: contiguous doc ranges, exact token conservation") {
    val budget = 2048L
    val counts = docs.map { case (id, _, _, text) => (id, tok(text).size + 1L) }
    var off = 0L
    val assign = counts.map { case (id, n) =>
      val s = off / budget; off += n; (id, n, s)
    }
    val expected = assign.groupBy(_._3).toSeq.sortBy(_._1).map {
      case (sid, ms) =>
        (sid, ms.size.toLong, ms.map(_._2).sum,
          ms.map(_._1).min, ms.map(_._1).max)
    }
    val rows = Packing.shardManifest(spark, sf, budget)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.toSeq === expected)
    // contiguity: shard k's last doc immediately precedes shard k+1's first
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._5 + 1 === b._4)
      case _ =>
    }
    assert(rows.map(_._3).sum === counts.map(_._2).sum)
  }
}
