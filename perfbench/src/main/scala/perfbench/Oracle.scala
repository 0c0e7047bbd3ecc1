package perfbench

import scala.collection.mutable

/** Expected answers computed in plain Scala from the generated documents,
  * with no graft code: the reference every measured operation is checked
  * against. Documents hold vocabulary ids; a word's text is `vocab(id)`.
  */
final class Oracle(vocab: Array[String]) {
  // live documents: doc_id -> tokens (an update replaces the entry)
  private val docs = mutable.LongMap.empty[Array[Int]]
  // term id -> (doc_id -> tf)
  private val postings = mutable.LongMap.empty[mutable.LongMap[Long]]
  private val termIds: Map[String, Int] = vocab.zipWithIndex.toMap

  def put(doc: Doc): Unit = {
    docs.get(doc.id).foreach { old =>
      old.distinct.foreach { t =>
        val p = postings(t.toLong); p.remove(doc.id)
        if (p.isEmpty) postings.remove(t.toLong)
      }
    }
    docs.update(doc.id, doc.tokens)
    doc.tokens.groupBy(identity).foreach { case (t, occ) =>
      postings.getOrElseUpdate(t.toLong, mutable.LongMap.empty[Long])
        .update(doc.id, occ.length.toLong)
    }
  }

  def tokensOf(docId: Long): Array[Int] = docs(docId)

  private def postingsOf(term: String): mutable.LongMap[Long] =
    termIds.get(term).flatMap(t => postings.get(t.toLong))
      .getOrElse(mutable.LongMap.empty[Long])

  /** (term, doc_id, tf), highest tf first, then doc_id. */
  def termLookup(term: String): Seq[(String, Long, Long)] =
    postingsOf(term).toSeq.sortBy { case (d, tf) => (-tf, d) }
      .map { case (d, tf) => (term, d, tf) }

  /** (doc_id, total_tf) of documents holding every term. */
  def multiTermAnd(terms: Seq[String]): Seq[(Long, Long)] = {
    val lists = terms.map(postingsOf)
    lists.minBy(_.size).keys.toSeq
      .filter(d => lists.forall(_.contains(d)))
      .map(d => (d, lists.map(_(d)).sum))
      .sortBy { case (d, tf) => (-tf, d) }
  }

  /** (term, df, total_tf) of every indexed term starting with `prefix`. */
  def prefixSearch(prefix: String): Seq[(String, Long, Long)] =
    vocab.filter(_.startsWith(prefix)).sorted.toSeq.flatMap { w =>
      val p = postingsOf(w)
      if (p.isEmpty) None else Some((w, p.size.toLong, p.values.sum))
    }

  /** (doc_id, n_occurrences) of the phrase's word sequence. */
  def phrase(words: Seq[String]): Seq[(Long, Long)] = {
    val ids = words.map(termIds)
    val rarest = words.map(postingsOf).minBy(_.size)
    rarest.keys.toSeq.flatMap { d =>
      val ts = docs(d)
      val n = (0 to ts.length - ids.length).count(p =>
        ids.indices.forall(i => ts(p + i) == ids(i)))
      if (n > 0) Some((d, n.toLong)) else None
    }.sortBy { case (d, n) => (-n, d) }
  }

  /** BM25 (k1 = 1.2, b = 0.75) score of every matching document, rounded
    * to 6 places.
    */
  def bm25Scores(terms: Seq[String]): Map[Long, Double] = {
    val nDocs = docs.count(_._2.nonEmpty).toDouble
    val avgdl = docs.valuesIterator.map(_.length.toLong).sum / nDocs
    val scores = mutable.LongMap.empty[Double]
    terms.distinct.foreach { t =>
      val p = postingsOf(t)
      val idf = math.log((nDocs - p.size + 0.5) / (p.size + 0.5) + 1.0)
      p.foreach { case (d, tf) =>
        val dl = docs(d).length
        val s = idf * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        scores.update(d, scores.getOrElse(d, 0.0) + s)
      }
    }
    scores.toMap.map { case (d, s) => (d, math.round(s * 1e6) / 1e6) }
  }

  /** BM25 top-k: (doc_id, score), best first. */
  def bm25(scores: Map[Long, Double], k: Int): Seq[(Long, Double)] =
    scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
}

object Oracle {

  /** Whether BM25 top-k answers agree: the same scores position by position
    * (within rounding), and every returned document carries its expected
    * score. Documents tied on score may come back in either order.
    */
  def bm25Agrees(got: Seq[(Long, Double)], want: Seq[(Long, Double)],
                 all: Map[Long, Double]): Boolean =
    got.length == want.length &&
      got.zip(want).forall { case ((_, g), (_, w)) => math.abs(g - w) < 2e-6 } &&
      got.forall { case (d, g) => all.get(d).exists(w => math.abs(g - w) < 2e-6) }

  /** Curation reference: (doc_id, lang, n_tokens) of the documents that
    * survive exact dedup (min id per identical text), Jaccard >= `t`
    * near-dup clustering over distinct word 3-gram sets (min id per
    * connected component) and the [10, 5000] token gate: graft's
    * documented curation defaults. Also returns the number of qualifying
    * pairs and the cluster sizes.
    */
  final case class Curated(rows: Seq[(Long, String, Long)], pairs: Long,
                           clusterSizes: Seq[Int])

  def curate(docs: Array[Doc]): Curated = {
    val t = 0.8
    val exactKeep = docs.groupBy(_.tokens.toSeq).values.map(_.map(_.id).min).toSet
    val sets: Array[Set[(Int, Int, Int)]] = docs.map(d =>
      d.tokens.sliding(3).filter(_.length == 3).map(s => (s(0), s(1), s(2))).toSet)
    // prefix filter: two sets with Jaccard >= t share one of the first
    // |A| - ceil(t|A|) + 1 elements of each, in one global order (rarest first)
    val df = mutable.HashMap.empty[(Int, Int, Int), Int]
    sets.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    val ordered = sets.map(_.toArray.sortBy(s => (df(s), s._1, s._2, s._3)))
    val byShingle = mutable.HashMap.empty[(Int, Int, Int), mutable.ArrayBuffer[Int]]
    val parent = Array.tabulate(docs.length)(identity)
    def find(i: Int): Int = { var x = i; while (parent(x) != x) x = parent(x); x }
    var pairs = 0L
    ordered.indices.foreach { i =>
      val a = ordered(i)
      val prefix = a.length - math.ceil(t * a.length - 1e-9).toInt + 1
      val cands = mutable.HashSet.empty[Int]
      a.take(math.max(0, prefix)).foreach { s =>
        byShingle.get(s).foreach(cands ++= _)
        byShingle.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += i
      }
      cands.foreach { j =>
        val inter = sets(i).count(sets(j).contains)
        val union = sets(i).size + sets(j).size - inter
        // Jaccard >= 0.8 exactly, in integers: 5 * inter >= 4 * union
        if (union > 0 && inter * 5L >= union * 4L) {
          pairs += 1
          val (ri, rj) = (find(i), find(j))
          if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
        }
      }
    }
    val comps = docs.indices.groupBy(find).values.toSeq
    val nearKeep = comps.map(c => c.map(docs(_).id).min).toSet
    val rows = docs.filter(d => exactKeep(d.id) && nearKeep(d.id) &&
        d.tokens.length >= 10 && d.tokens.length <= 5000)
      .map(d => (d.id, d.lang, d.tokens.length.toLong)).sortBy(_._1).toSeq
    Curated(rows, pairs, comps.map(_.size).filter(_ > 1))
  }
}
