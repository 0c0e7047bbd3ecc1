package graft

import graft.operators.Events

/** SCD type-2 interval builds: a handcrafted history with re-opened
  * attribute values, plus structural invariants over the real event
  * stream (contiguous versions, chained intervals, one current row per
  * user, run counts summing to the feed).
  */
class Scd2Spec extends SparkTestBase {
  import spark.implicits._

  test("handcrafted history: runs collapse, re-opened values re-version") {
    // user 1: a a b a  -> versions (a,2) (b,1) (a,1); user 2: single run
    val ev = Seq(
      (1L, 10L, 1000L, "a"), (1L, 11L, 2000L, "a"),
      (1L, 12L, 3000L, "b"), (1L, 13L, 4000L, "a"),
      (2L, 20L, 1500L, "x"), (2L, 21L, 2500L, "x"))
      .toDF("user_id", "event_id", "ms", "event_type")
    val got = Events.scd2Of(ev.repartition(3))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got == Seq(
      (1L, 1L, "a", 1000L, 3000L, 2L, 0L),
      (1L, 2L, "b", 3000L, 4000L, 1L, 0L),
      (1L, 3L, "a", 4000L, -1L, 1L, 1L),
      (2L, 1L, "x", 1500L, -1L, 2L, 1L)))
  }

  test("incremental state merge covers every seam case") {
    // stored state: u1 closed(a)+open(b); u2 open(x); u3 open(y); u4 open(z)
    val base = Seq(
      (1L, 1L, "a", 100L, Some(200L), 2L, 0L),
      (1L, 2L, "b", 200L, None, 1L, 1L),
      (2L, 1L, "x", 100L, None, 3L, 1L),
      (3L, 1L, "y", 100L, None, 1L, 1L),
      (4L, 1L, "z", 100L, None, 5L, 1L))
    // delta runs: u1 continues b then changes to c (absorb, D>1);
    // u2 changes immediately (close); u3 continues with ONE run
    // (single-run absorb, stays open); u5 is new; u4 untouched
    val delta = Seq(
      (1L, 1L, "b", 300L, Some(400L), 2L, 0L),
      (1L, 2L, "c", 400L, None, 1L, 1L),
      (2L, 1L, "q", 300L, None, 1L, 1L),
      (3L, 1L, "y", 300L, None, 4L, 1L),
      (5L, 1L, "n", 300L, None, 2L, 1L))
    def df(rows: Seq[(Long, Long, String, Long, Option[Long], Long, Long)]) =
      rows.toDF("user_id", "version", "event_type", "valid_from_ms",
        "valid_to_ms", "n_events", "is_current")
    val got = graft.operators.Incremental.scd2Merge(df(base), df(delta))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      (1L, 1L, "a", 100L, Some(200L), 2L, 0L),
      (1L, 2L, "b", 200L, Some(400L), 3L, 0L), // absorbed run 1
      (1L, 3L, "c", 400L, None, 1L, 1L),       // shifted delta run 2
      (2L, 1L, "x", 100L, Some(300L), 3L, 0L), // closed at delta start
      (2L, 2L, "q", 300L, None, 1L, 1L),
      (3L, 1L, "y", 100L, None, 5L, 1L),       // single-run absorb, open
      (4L, 1L, "z", 100L, None, 5L, 1L),       // untouched, verbatim
      (5L, 1L, "n", 300L, None, 2L, 1L)))      // new user, standalone
  }

  test("streaming CDC merge: >=2 incarnations, drained state == batch build") {
    val batch = Events.scd2Build(spark, sf).collect().toSeq
    val streamed = graft.streaming.StreamingScd2.scd2AvailableNow(spark, sf)
      .collect().toSeq
    assert(graft.streaming.StreamingScd2.lastNumBatches.get >= 2,
      "the drain must run one batch per staged incarnation")
    assert(streamed == batch)
  }

  test("event-stream invariants: contiguity, chaining, one current row") {
    val rows = Events.scd2Build(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5),
        r.getLong(6)))
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_._6).sum == nEvents, "run sizes must sum to the feed")
    rows.groupBy(_._1).foreach { case (u, vs) =>
      val s = vs.sortBy(_._2)
      assert(s.map(_._2).toSeq == (1L to s.length), s"user $u versions")
      // exactly one open (current) version, and it is the last
      assert(s.count(_._5.isEmpty) == 1 && s.last._5.isEmpty, s"user $u current")
      assert(s.count(_._7 == 1L) == 1 && s.last._7 == 1L, s"user $u flag")
      s.sliding(2).foreach {
        case Array(p, n) =>
          assert(p._5.contains(n._4), s"user $u interval chain")
          assert(p._3 != n._3, s"user $u adjacent versions must change type")
        case _ =>
      }
    }
  }
}
