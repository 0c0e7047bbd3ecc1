package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed Aggregator keeping the exact top-k (value, tag) pairs by value
  * (descending), tie-broken by tag (ascending) — the custom-aggregation
  * showcase SURVEY.md §7.3 anticipates (e.g. top terms per document
  * without a full window sort).
  *
  * The buffer is a sorted Seq capped at k, so merge cost is O(k) per
  * partial — at scale this is a map-side-combinable aggregation (one
  * shuffle of k-sized buffers per group) versus a window's full
  * per-partition sort of ALL rows. Registered via `udaf(...)` it is
  * usable from untyped DataFrames too.
  */
class TopKAggregator(k: Int)
    extends Aggregator[(Long, String), Seq[(Long, String)], Seq[String]] {

  private val ord: Ordering[(Long, String)] =
    Ordering.by { case (v, t) => (-v, t) }

  override def zero: Seq[(Long, String)] = Seq.empty

  override def reduce(buf: Seq[(Long, String)],
                      in: (Long, String)): Seq[(Long, String)] =
    (buf :+ in).sorted(ord).take(k)

  override def merge(a: Seq[(Long, String)],
                     b: Seq[(Long, String)]): Seq[(Long, String)] =
    (a ++ b).sorted(ord).take(k)

  override def finish(buf: Seq[(Long, String)]): Seq[String] =
    buf.map(_._2)

  override def bufferEncoder: Encoder[Seq[(Long, String)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, String)]]()

  override def outputEncoder: Encoder[Seq[String]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
}
