package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.operators.RollupView
import graft.plans.AggRewriteRule
import graft.sources.Tables

/** The materialized-view rewrite must (a) actually fire — the optimized
  * plan scans the view parquet, never the base events file — and (b) be
  * invisible: answers identical to the same query with the rule
  * uninstalled. Non-mergeable shapes (DISTINCT aggregates, filters on
  * non-key columns, unknown aggregate sources) must veto the rewrite and
  * keep scanning the base.
  */
class AggRewriteSpec extends SparkTestBase {

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty
      }
    }.flatten

  private def withoutRule[T](body: => T): T = {
    val exp = spark.experimental
    val saved = exp.extraOptimizations
    exp.extraOptimizations = saved.filterNot(_ == AggRewriteRule)
    try body finally exp.extraOptimizations = saved
  }

  private lazy val mvPath: String = RollupView.ensure(spark, sf)

  test("hourlyServe rewrites to the view and matches the base answer") {
    val df = RollupView.hourlyServe(spark, sf)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(mvPath)), s"no view scan in $paths")
    assert(!paths.exists(_.contains("events.parquet")),
      s"base scan survived the rewrite: $paths")
    val got = df.collect().toSeq
    val expected = withoutRule(RollupView.hourlyServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("per-type queries pick the CHEAPEST qualifying view (multi-view selection)") {
    // with BOTH families registered — the hourly view (whose cells roll
    // up to per-type totals) and the per-type view (direct match, ~4
    // cells) — the optimizer must serve from the smaller per-type one
    val byTypePath = RollupView.ensureByType(spark, sf)
    val df = RollupView.chooseServe(spark, sf)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(byTypePath)),
      s"per-type view not chosen: $paths")
    assert(!paths.exists(_.contains(mvPath)),
      s"served from the larger hourly view despite a cheaper match: $paths")
    assert(!paths.exists(_.contains("events.parquet")))
    val got = df.collect().toSeq
    val expected = withoutRule(RollupView.byTypeServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("a per-type query ROLLS UP the hourly view when it is the only one registered") {
    // key-elimination coverage that multi-view selection must not mask:
    // on a base where ONLY the hourly family exists, per-type totals must
    // come from rolling the (hour, type) cells up — a private staged base
    // guarantees no per-type family is registered for it in this JVM
    val root = java.nio.file.Files.createTempDirectory("graft_mv_rollup_")
    val dir = root.toString
    spark.read.parquet(s"$sf/events.parquet").coalesce(1)
      .write.parquet(s"$dir/events.parquet")
    val hourlyPath = RollupView.ensure(spark, dir)
    val df = RollupView.byTypeServe(spark, dir)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(hourlyPath)),
      s"hourly view not rolled up: $paths")
    assert(!paths.exists(_.contains("events.parquet")))
    val expected = withoutRule(RollupView.byTypeServe(spark, dir).collect().toSeq)
    assert(df.collect().toSeq === expected)
    assert(expected.nonEmpty)
    graft.util.Scratch.deleteRecursively(root)
  }

  test("an hour-keyed query still serves from the hourly view with both registered") {
    RollupView.ensureByType(spark, sf) // both families live
    val df = RollupView.hourlyServe(spark, sf)
    val paths = scanPaths(df)
    // the per-type view has no hour key, so only the hourly view matches
    assert(paths.exists(_.contains(mvPath)), s"no hourly view scan in $paths")
  }

  test("a coarser time grain (day over hours) serves from the hourly view") {
    val df = RollupView.dailyServe(spark, sf)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(mvPath)), s"no view scan in $paths")
    assert(!paths.exists(_.contains("events.parquet")),
      s"base scan survived the rewrite: $paths")
    val got = df.collect().toSeq
    val expected = withoutRule(RollupView.dailyServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("derived aggregates (sum/count, max−min) and HAVING rewrite") {
    val df = RollupView.avgServe(spark, sf)
    val paths = scanPaths(df)
    // groups by event_type only, so EITHER registered view may serve it
    // (the per-type family wins when another suite registered it first);
    // what matters is that a view — not the base — answers
    assert(paths.exists(p => p.contains(mvPath) || p.contains("graft_mv_bytype")),
      s"no view scan in $paths")
    assert(!paths.exists(_.contains("events.parquet")),
      s"base scan survived the rewrite: $paths")
    val got = df.collect().toSeq
    val expected = withoutRule(RollupView.avgServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("DISTINCT aggregates veto the rewrite") {
    mvPath // ensure registered
    val df = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("u"))
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("events.parquet")), s"got $paths")
    assert(!paths.exists(_.contains(mvPath)))
  }

  test("filters on non-key columns veto the rewrite") {
    mvPath
    val df = Tables.events(spark, sf)
      .where(col("value") > 10)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(scanPaths(df).exists(_.contains("events.parquet")))
  }

  test("unmapped aggregate sources veto the rewrite") {
    mvPath
    val df = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(sum(col("user_id")).as("s")) // user_id sums are not stored
    assert(scanPaths(df).exists(_.contains("events.parquet")))
  }

  test("a base mutated after the view build vetoes the rewrite (staleness guard)") {
    // stage a private copy of the base so we can mutate it
    val root = java.nio.file.Files.createTempDirectory("graft_mv_stale_")
    val dir = root.toString
    spark.read.parquet(s"$sf/events.parquet").coalesce(1)
      .write.parquet(s"$dir/events.parquet")

    RollupView.ensure(spark, dir)
    val stalePath = graft.util.Scratch.dir(spark,
      "graft_mv_hourly_" + graft.util.Scratch.valueToken(dir))
    assert(scanPaths(RollupView.byTypeServe(spark, dir))
      .exists(_.contains(stalePath)), "rewrite should fire on the fresh base")

    // base mutation: append rows — the file listing changes
    spark.read.parquet(s"$sf/events.parquet").limit(500).coalesce(1)
      .write.mode("append").parquet(s"$dir/events.parquet")

    // ensure() re-registers with the BUILD-TIME signature, so the stale
    // view must not serve; the query falls back to the base scan...
    val df = RollupView.byTypeServe(spark, dir)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(s"$dir/events.parquet")), s"got $paths")
    assert(!paths.exists(_.contains(stalePath)), s"stale view served: $paths")
    // ...and the answer reflects the appended rows
    val expected = withoutRule(RollupView.byTypeServe(spark, dir).collect().toSeq)
    assert(df.collect().toSeq === expected)
    graft.util.Scratch.deleteRecursively(root)
  }

  test("incremental refresh lifts the staleness veto via the delta file only") {
    // the refresh must have read exactly the ONE appended file: read off
    // the generation a self-contained staging's refresh made
    val root = java.nio.file.Files.createTempDirectory("graft_mv_incr_")
    try {
      val dir = root.toString
      val raw = spark.read.parquet(s"$sf/events.parquet")
      raw.coalesce(1).write.parquet(s"$dir/events.parquet")
      RollupView.ensure(spark, dir)
      raw.orderBy("event_id").limit(500).coalesce(1)
        .write.mode("append").parquet(s"$dir/events.parquet")
      val g = RollupView.refresh(spark, dir)
      assert(g.delta.size === 1, s"delta read ${g.delta}")
      // an unchanged base is current: the same generation and path
      assert(RollupView.refresh(spark, dir) === g)
      assert(scanPaths(RollupView.byTypeServe(spark, dir)).exists(_.contains(g.path)))
    } finally graft.util.Scratch.deleteRecursively(root)
    val df = RollupView.refreshedServe(spark, sf)
    // ...and the serve must come from the REFRESHED generation (g1)
    val paths = scanPaths(df)
    assert(paths.exists(_.contains("_g1")), s"no refreshed view scan in $paths")
    assert(!paths.exists(_.contains("events.parquet")),
      s"base scan survived the rewrite: $paths")
    // refreshed state ≡ a from-scratch rebuild of the mutated base
    val got = df.collect().toSeq
    val expected = withoutRule(RollupView.refreshedServe(spark, sf).collect().toSeq)
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("a rewritten base file falls back to a full view rebuild") {
    val root = java.nio.file.Files.createTempDirectory("graft_mv_rebuild_")
    val dir = root.toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
    raw.coalesce(1).write.parquet(s"$dir/events.parquet")
    RollupView.ensure(spark, dir)
    // OVERWRITE (not append): stored cells may describe vanished rows
    raw.limit(2000).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val g = RollupView.refresh(spark, dir)
    assert(g.n === 1 && g.delta.isEmpty,
      s"an overwrite must not be treated as a delta: $g")
    val df = RollupView.byTypeServe(spark, dir)
    assert(scanPaths(df).exists(_.contains("_g1")),
      s"not served from the rebuilt generation: ${scanPaths(df)}")
    val expected = withoutRule(RollupView.byTypeServe(spark, dir).collect().toSeq)
    assert(df.collect().toSeq === expected)
    graft.util.Scratch.deleteRecursively(root)
  }

  test("the q_mv_refresh round trip follows a source base changed in the JVM") {
    // serve, append to the SOURCE, serve again: the second serve must
    // stage the changed source, not reuse the first copy
    val root = java.nio.file.Files.createTempDirectory("graft_mv_src_")
    val src = root.resolve("src").toString
    val exp = root.resolve("exp").toString
    try {
      val raw = spark.read.parquet(s"$sf/events.parquet").orderBy("event_id").limit(2000)
      raw.coalesce(1).write.parquet(s"$src/events.parquet")
      RollupView.refreshedServe(spark, src).collect()
      raw.limit(300).withColumn("event_id", col("event_id") + 1000000).coalesce(1)
        .write.mode("append").parquet(s"$src/events.parquet")
      val got = RollupView.refreshedServe(spark, src).collect().toSeq
      // the same query, rule off, over the changed source plus the batch
      val changed = spark.read.parquet(s"$src/events.parquet")
      changed.coalesce(1).write.parquet(s"$exp/events.parquet")
      changed.orderBy("event_id").limit(500).coalesce(1)
        .write.mode("append").parquet(s"$exp/events.parquet")
      assert(got === withoutRule(RollupView.byTypeServe(spark, exp).collect().toSeq))
    } finally graft.util.Scratch.deleteRecursively(root)
  }

  test("a filter on the hour key itself rewrites") {
    mvPath
    val df = Tables.events(spark, sf)
      .where(date_trunc("hour", col("ts")) >= lit("2024-01-10 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val paths = scanPaths(df)
    assert(paths.exists(_.contains(mvPath)), s"got $paths")
    // no ORDER BY in the query, so compare order-insensitively
    val expected = withoutRule(
      Tables.events(spark, sf)
        .where(date_trunc("hour", col("ts")) >= lit("2024-01-10 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n")).collect().toSeq.sortBy(_.toString))
    assert(df.collect().toSeq.sortBy(_.toString) === expected)
  }
}
