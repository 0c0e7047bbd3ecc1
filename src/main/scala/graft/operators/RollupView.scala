package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, Literal, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._

import graft.plans.AggRewriteRule
import graft.sources.Tables
import graft.util.Generations

/** The hourly events MATERIALIZED VIEW behind [[graft.plans.AggRewriteRule]]:
  * built once into scratch parquet, registered so the optimizer serves
  * matching aggregates from it transparently. The stored partials are
  * chosen for EXACT re-aggregation — count as long, the value sum as
  * decimal(38,2) (decimal addition is associative, so regrouped sums are
  * bit-identical; a double sum would not be — and 36 integer digits
  * cannot overflow for any physical cell), min/max as themselves.
  * The q_mv_* queries are written against the BASE events table and
  * their DuckDB oracles run on the base too: a hash match therefore
  * proves the REWRITE exact, not just the view.
  *
  * Templates are extracted from the analyzed view definition itself, so
  * they are precisely the trees the same analyzer produces for user
  * queries (same eval modes, time zone, cast semantics).
  *
  * Both views are generations of [[graft.util.Generations]], the one
  * lifecycle every incrementally refreshed artifact shares: [[ensure]]
  * and [[ensureByType]] build generation 0 once per JVM, and [[refresh]]
  * grows the hourly view by appended base files or rebuilds it. Each
  * registration carries its generation's build-time base signature.
  */
object RollupView {

  /** The per-cell representation over any events-shaped frame, grouped
    * by `keys` — shared by both views' builds and the delta refresh. The
    * stored partial is pinned to decimal(38,2): re-aggregation of
    * decimals is exact and associative at any width, and 36 integer
    * digits cannot overflow for any physical cell (a 14,2 store would
    * silently null — or throw under ANSI — the moment one cell's sum
    * crossed 12 integer digits, while the staleness guard kept
    * validating the view).
    */
  private def cellsBy(events: DataFrame, keys: Column*): DataFrame =
    events.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)"))
          .cast("decimal(38,2)").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  private def cellsOf(events: DataFrame): DataFrame =
    cellsBy(events, date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))

  /** The view definition over the registered base. */
  private def viewDf(spark: SparkSession, sfDir: String): DataFrame =
    cellsOf(Tables.events(spark, sfDir))

  private def hourlyName(sfDir: String) =
    "graft_mv_hourly_" + graft.util.Scratch.valueToken(sfDir)

  /** Build (once per JVM per sf dir) and register the view's current
    * generation, under the base signature its build took: a base mutated
    * after the build vetoes the rewrite until a [[refresh]].
    */
  def ensure(spark: SparkSession, sfDir: String): String = {
    lazy val df = viewDf(spark, sfDir)
    val g = Generations.once(spark, hourlyName(sfDir), Tables.listingSig(df))(
      df.write.mode("overwrite").parquet(_))
    register(spark, sfDir, g.path, Some(g.sig))
    g.path
  }

  /** INCREMENTAL REFRESH through [[Generations.refresh]]: when the base
    * has only GROWN since the current generation, aggregate ONLY the
    * delta files and merge their cells into the stored view in a fresh
    * generation (count/decimal-sum/min/max are all exact merges, so the
    * result is bit-identical to a full rebuild), then re-register under
    * the new listing — the staleness veto lifts without ever re-reading
    * base history. At 100 TB this is the whole point of keeping a view:
    * the daily refresh costs one pass over the day's files, not the
    * table. A removed or rewritten file rebuilds.
    */
  def refresh(spark: SparkSession, sfDir: String): Generations.Gen = {
    val df = viewDf(spark, sfDir)
    val g = Generations.refresh(spark, hourlyName(sfDir), Tables.listingSig(df))(
      df.write.mode("overwrite").parquet(_)) { (cur, files, next) =>
      spark.read.parquet(cur.path)
        .unionByName(cellsOf(Tables.normalizeTs(spark.read.parquet(files: _*))))
        .groupBy("hour_ts", "event_type")
        .agg(sum("n").as("n"),
          sum("sum_value").cast("decimal(38,2)").as("sum_value"),
          min("min_value").as("min_value"),
          max("max_value").as("max_value"))
        .write.mode("overwrite").parquet(next)
      next
    }
    register(spark, sfDir, g.path, Some(g.sig))
    g
  }

  /** Register a parquet relation with the view's schema as THE hourly
    * rollup for this sf's base events — also the entry point for the
    * streaming-maintained copy ([[graft.streaming.StreamingMv]]), whose
    * drained state is bit-identical to the batch build and therefore an
    * equally sound rewrite target.
    */
  private[graft] def registerAt(spark: SparkSession, sfDir: String, mvPath: String): Unit =
    register(spark, sfDir, mvPath, None)

  private def register(spark: SparkSession, sfDir: String, mvPath: String,
                       sigAtBuild: Option[String]): Unit =
    registerView(spark, viewDf(spark, sfDir), mvPath, sigAtBuild,
      "events_hourly") { keyExprs =>
      require(keyExprs.size == 2, s"unexpected view shape: ${keyExprs.size} keys")
      // time-hierarchy derivations: date_trunc(u, ts) for any unit coarser
      // than the stored hour composes through the key — the same truncation
      // applied to hour_ts is bit-identical (hour ⊂ day ⊂ week/month/…)
      val hourTrunc = keyExprs(0).asInstanceOf[TruncTimestamp]
      Seq(("hour_ts", keyExprs(0), (a: Attribute) => a: Expression),
        ("event_type", keyExprs(1), (a: Attribute) => a: Expression)) ++
        Seq("day", "week", "month", "quarter", "year").map { u =>
          ("hour_ts", hourTrunc.copy(format = Literal(u)): Expression,
            (a: Attribute) => hourTrunc.copy(format = Literal(u), timestamp = a)
              : Expression)
        }
    }

  /** Register `mvPath` as the stored cells of `view` (n, sum_value,
    * min_value, max_value over its keys) in rewrite family `family`;
    * `keys` maps the view's grouping expressions to the key derivations.
    * Without a build-time signature the base's current listing is used.
    */
  private def registerView(spark: SparkSession, view: DataFrame, mvPath: String,
                           sig: Option[String], family: String)(
      keys: Seq[Expression] => Seq[(String, Expression, Attribute => Expression)])
      : Unit = {
    val agg = view.queryExecution.analyzed.collectFirst { case ag: Aggregate => ag }.get
    val d = AggRewriteRule.destructure(agg).getOrElse(
      throw new IllegalStateException(s"$family view did not destructure"))
    val baseKey = AggRewriteRule.rootKey(d.rel).getOrElse(
      throw new IllegalStateException("view base is not a file-source relation"))
    val afs = d.a.flatMap(_.collect {
      case ae: AggregateExpression => ae.aggregateFunction
    })
    require(afs.size == 4, s"unexpected view shape: ${afs.size} aggs")
    AggRewriteRule.register(spark, baseKey, AggRewriteRule.MvSpec(
      mvPlan = spark.read.parquet(mvPath).queryExecution.analyzed,
      keys = keys(d.g.map { case al: Alias => al.child; case e => e }),
      aggs = Seq(
        (afs(0), "n", (a: Attribute) => Sum(a)),
        (afs(1), "sum_value", (a: Attribute) => Sum(a)),
        (afs(2), "min_value", (a: Attribute) => Min(a)),
        (afs(3), "max_value", (a: Attribute) => Max(a))),
      baseSig = sig.getOrElse(AggRewriteRule.fileSig(d.rel).getOrElse(
        throw new IllegalStateException("view base has no file listing"))),
      family = family))
  }

  // ——— the PER-TYPE sibling view: same base, coarser keys ———
  //
  // Registered as a SECOND family over the same events base: a per-type
  // query qualifies against both (the hourly view rolls up to types too)
  // and the optimizer must serve it from this one — 4 cells instead of
  // hours×types. Exercises AggRewriteRule's multi-view selection.

  private def byTypeViewDf(spark: SparkSession, sfDir: String): DataFrame =
    cellsBy(Tables.events(spark, sfDir), col("event_type"))

  /** Build (once per JVM per sf dir) and register the per-type view. The
    * base signature is captured AT BUILD, as [[ensure]]'s is: a base
    * mutated between build and registration must veto, not serve.
    */
  def ensureByType(spark: SparkSession, sfDir: String): String = {
    val df = byTypeViewDf(spark, sfDir)
    val g = Generations.once(spark,
      "graft_mv_bytype_" + graft.util.Scratch.valueToken(sfDir),
      Tables.listingSig(df))(df.write.mode("overwrite").parquet(_))
    registerView(spark, df, g.path, Some(g.sig), "events_bytype")(keyExprs =>
      Seq(("event_type", keyExprs.head, (a: Attribute) => a)))
    g.path
  }

  /** q_mv_hourly: an hour × type aggregate with a key filter, WRITTEN
    * AGAINST BASE EVENTS — the optimizer must serve it from the view
    * (the filter and the date_format ride the view's key columns).
    */
  def hourlyServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    Tables.events(spark, sfDir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("hour", "event_type")
  }

  /** q_mv_avg: DERIVED aggregates — an average written as sum/count and
    * a mean-absolute-bound written as (max−min) — rewrite compositionally
    * because the rule maps each AggregateExpression INSIDE the larger
    * expression tree; no avg-specific machinery exists or is needed. The
    * division happens once per output group on exact merged partials, so
    * it is bit-identical to the base-table division.
    */
  def avgServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        // exact decimal sum → double (≤14 digits: exact), ONE IEEE
        // division — engine-portable, unlike decimal-division scale rules
        (sum(col("value").cast("decimal(14,2)")).cast("double")
          / count(lit(1)).cast("double")).as("avg_value"),
        (max(col("value")) - min(col("value"))).as("value_range"),
        count(lit(1)).as("n"))
      .filter(col("n") > 100) // HAVING above the rewritten aggregate
      .orderBy("event_type")
  }

  /** q_mv_daily: a COARSER TIME GRAIN — grouping base events by
    * date_trunc('day', ts) serves from the HOURLY view because day
    * truncation composes through the stored hour key (the registered
    * derivation rewrites it to date_trunc('day', hour_ts), rolling 24
    * hour cells into each day).
    */
  def dailyServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    Tables.events(spark, sfDir)
      .groupBy(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
        max(col("value")).as("max_value"))
      .orderBy("day", "event_type")
  }

  /** q_mv_refresh: the full lifecycle under one driver-checked oracle —
    * stage a private copy of the base, build the view, APPEND a
    * deterministic batch (the 500 lowest event_ids re-inserted),
    * INCREMENTALLY refresh (delta file only — asserted in spec), and
    * serve a base-written aggregate from the refreshed generation. The
    * oracle recomputes over base ∪ the same batch, so the hash match
    * proves append-detection, delta aggregation, AND exact cell merge in
    * one row.
    */
  def refreshedServe(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Generations.staged(spark, "graft_mv_refresh_base_", sfDir,
      "events")(ensure(spark, _))(_.orderBy("event_id").limit(500))
    refresh(spark, dir)
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }

  /** q_mv_bytype: a COARSER grouping than the hourly view's keys — the
    * rewrite must roll the view's (hour, type) cells up to per-type
    * totals. (Once [[ensureByType]] has ALSO registered the per-type
    * family in this session, the optimizer serves this same query from
    * that cheaper view instead — either answer is oracle-identical; the
    * choice itself is pinned by q_mv_choose and AggRewriteSpec.)
    */
  def byTypeServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }

  /** q_mv_choose: MULTI-VIEW SELECTION — both families registered over
    * one base, both qualifying for a per-type aggregate (the hourly cells
    * roll up; the per-type view matches directly); the optimizer must
    * serve from the CHEAPEST (fewest stored bytes ≈ cells) qualifying
    * view. The oracle recomputes from base, so the hash match proves
    * whichever view was chosen is exact; WHICH one was chosen is asserted
    * in AggRewriteSpec (per-type, 4 cells vs hours×types).
    */
  def chooseServe(spark: SparkSession, sfDir: String): DataFrame = {
    ensure(spark, sfDir)
    ensureByType(spark, sfDir)
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(14,2)")).cast("double").as("total_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }
}
