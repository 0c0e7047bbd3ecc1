package perfbench

import scala.collection.mutable

/** A generated document: `tokens` index into the vocabulary. The text is
  * the tokens joined by single spaces, all lower-case letters, so graft's
  * `[^a-z]` normalization leaves every word unchanged and the expected
  * answers can be computed from the tokens alone.
  */
final case class Doc(id: Long, tokens: Array[Int], lang: String) {
  def text(vocab: Array[String]): String = tokens.map(vocab(_)).mkString(" ")
}

/** Seeded corpus and query generator. Documents, batches and queries
  * derive from one `java.util.Random(seed)`, so the same seed gives the
  * same inputs.
  *
  * Words are drawn from a Zipf(s) distribution over `vocabSize` ranks, so
  * posting lists range from nearly every document (head ranks) to a
  * handful (tail ranks), as in natural text.
  */
final class Corpus(seed: Long, val vocabSize: Int, zipfS: Double = 1.0) {
  val rnd = new java.util.Random(seed)

  /** Distinct letters-only words; rank 0 is the most frequent. Like a
    * language, the vocabulary is the same for every seed (it has its own
    * fixed seed); the run's seed draws documents, batches and queries from
    * it. So every seed puts the same words, with the same hashes, in the
    * same letter partitions, and only the text differs. Frequent words are
    * short: the length grows with log(rank). The first letter cycles a..z
    * with the rank.
    */
  val vocab: Array[String] = {
    val letters = new java.util.Random(26L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < vocabSize) {
      val rank = seen.size
      val len = 2 + (math.log(rank + 2) / math.log(3.5)).toInt
      seen += ('a' + rank % 26).toChar.toString +
        Iterator.fill(len - 1)(('a' + letters.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(vocabSize)(r => 1.0 / math.pow(r + 1, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  /** A Zipf-distributed word rank in [lo, hi). */
  def zipfRank(lo: Int = 0, hi: Int = vocabSize): Int = {
    val from = if (lo == 0) 0.0 else cdf(lo - 1)
    val u = from + rnd.nextDouble() * (cdf(hi - 1) - from)
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.max(lo, math.min(if (i >= 0) i else -i - 1, hi - 1))
  }

  /** Ranks below this are "head" terms in the recorded query properties. */
  val headRanks: Int = math.max(1, vocabSize / 100)

  /** Rank bands (head, middle, tail) that query terms cycle through, so
    * every seed asks for the same mix of long and short posting lists.
    */
  val bands: Seq[(Int, Int)] = Seq((0, headRanks), (headRanks, vocabSize / 20),
    (vocabSize / 20, vocabSize))

  /** A Zipf rank in band `i % 3`. */
  def bandRank(i: Int): Int = { val (lo, hi) = bands(i % bands.size); zipfRank(lo, hi) }

  /** Sizes of the near-duplicate groups planted so far. */
  val plantedGroupSizes = mutable.ArrayBuffer.empty[Int]

  private val langs = Array("en", "en", "en", "de", "fr")

  def freshTokens(minLen: Int, maxLen: Int): Array[Int] =
    Array.fill(minLen + rnd.nextInt(maxLen - minLen + 1))(zipfRank())

  def lang(): String = langs(rnd.nextInt(langs.length))

  /** `n` tokens with `k` positions replaced by fresh Zipf words. */
  def mutate(tokens: Array[Int], k: Int): Array[Int] = {
    val out = tokens.clone()
    (0 until k).foreach(_ => out(rnd.nextInt(out.length)) = zipfRank())
    out
  }

  /** `n` documents with ids `firstId ...`, of `minLen..maxLen` tokens, with
    * planted duplication:
    *  - `nearShare` of them sit in near-duplicate groups of 2, 3, 5 and 8
    *    members in turn: a base plus variants with 1, 2, 3, 4, 1, ...
    *    replaced words, so some variant pairs clear Jaccard 0.8 and some
    *    do not;
    *  - `exactShare` of them copy the text of a document outside the groups.
    * The group structure is the same for every seed; only the words differ.
    * Group members get scattered ids, so dedup cannot rely on id order.
    */
  def documents(n: Int, firstId: Long, minLen: Int, maxLen: Int,
                exactShare: Double = 0.0, nearShare: Double = 0.0): Array[Doc] = {
    val groupSizes = Array(2, 3, 5, 8)
    val texts = mutable.ArrayBuffer.empty[Array[Int]]
    val nNear = (n * nearShare).toInt
    var g = 0
    while (texts.size < nNear) {
      val size = math.min(groupSizes(g % groupSizes.length), nNear - texts.size)
      val base = freshTokens(math.max(minLen, 30), maxLen)
      texts += base
      plantedGroupSizes += size
      (1 until size).foreach(v => texts += mutate(base, 1 + (v - 1) % 4))
      g += 1
    }
    val nExact = (n * exactShare).toInt
    while (texts.size < n - nExact) texts += freshTokens(minLen, maxLen)
    val singles = n - nExact - nNear
    while (texts.size < n) texts += texts(nNear + rnd.nextInt(singles))
    // shuffle so groups and copies land at scattered doc ids
    val order = (0 until n).toArray
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    Array.tabulate(n)(i => Doc(firstId + i, texts(order(i)), lang()))
  }
}

object Corpus {

  /** Properties of a generated document set, recorded with every run. */
  def properties(docs: Array[Doc]): Map[String, Any] = {
    val tokens = docs.map(_.tokens.length.toLong).sum
    val distinct = docs.iterator.flatMap(_.tokens.iterator).toSet.size
    val byText = docs.groupBy(d => java.util.Arrays.hashCode(d.tokens))
      .values.flatMap(_.groupBy(_.tokens.toSeq).values)
    val exactDupDocs = byText.map(_.length - 1).sum
    Map("docs" -> docs.length, "tokens" -> tokens, "distinct_terms" -> distinct,
      "exact_dup_share" -> exactDupDocs.toDouble / math.max(1, docs.length))
  }
}
