package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** One (score, id) candidate for [[TopKByScore]]. Field order matters:
  * the untyped `udaf(...)` call binds columns to constructor parameters
  * positionally — `topk(col("cosine"), col("vec_id"))`.
  */
case class ScoredId(score: Double, id: Long)

/** Partial top-k by (score desc, id asc) — the scale-safe replacement for
  * `row_number().over(Window.partitionBy(query))`: a window funnels EVERY
  * scored candidate of a query through one partition before ranking, while
  * this aggregator map-side-combines each partition down to k rows, so the
  * shuffle carries O(k) per group instead of O(candidates). Ties break on
  * ascending id — byte-identical output to the window form (asserted by
  * the q_cosine_topk oracle hash and SkewTopKSpec).
  *
  * Duplicate candidates — identical (score, id) pairs, as produced by a
  * multi-table LSH union where the same pair surfaces from several tables
  * — are deduplicated inside the aggregation, so callers need no separate
  * `distinct()` (which would cost its own full-candidate shuffle). Two
  * entries sharing an id but NOT a score are treated as distinct
  * candidates; feed deterministic scores.
  *
  * Registered via `functions.udaf(...)` it runs as an ObjectHashAggregate
  * with partial+final phases, exactly like a built-in aggregate.
  */
class TopKByScore(k: Int)
    extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {

  private val ord: Ordering[ScoredId] =
    Ordering.by(s => (-s.score, s.id))

  override def zero: Seq[ScoredId] = Vector.empty

  // Invariant: the buffer is always sorted by `ord` and duplicate-free, so
  // reduce is one binary search + one bounded copy (O(k)) instead of the
  // r2 sort-the-whole-buffer-per-displacing-insert (O(k log k) + a distinct
  // pass), and merge is a single sorted-merge sweep. `ord` is injective on
  // (score, id), so ord-equality IS exact duplication.

  override def reduce(buf: Seq[ScoredId], in: ScoredId): Seq[ScoredId] = {
    if (buf.length >= k && ord.gteq(in, buf.last)) buf
    else {
      val arr = scala.collection.mutable.ArrayBuffer.from(buf)
      var lo = 0
      var hi = arr.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(arr(mid), in)) lo = mid + 1 else hi = mid
      }
      if (lo < arr.length && arr(lo) == in) buf // exact LSH-union duplicate
      else {
        arr.insert(lo, in)
        if (arr.length > k) arr.dropRightInPlace(arr.length - k)
        arr.toVector
      }
    }
  }

  override def merge(a: Seq[ScoredId], b: Seq[ScoredId]): Seq[ScoredId] = {
    val ai = a.iterator.buffered
    val bi = b.iterator.buffered
    val out = scala.collection.mutable.ArrayBuffer.empty[ScoredId]
    while (out.length < k && (ai.hasNext || bi.hasNext)) {
      val take =
        if (!bi.hasNext || (ai.hasNext && ord.lteq(ai.head, bi.head))) ai.next()
        else bi.next()
      if (out.isEmpty || out.last != take) out += take
    }
    out.toVector
  }

  override def finish(buf: Seq[ScoredId]): Seq[ScoredId] = buf

  override def bufferEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()

  override def outputEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
}
