package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.TimeSeries
import graft.plans.PlanSingleSplitScans

/** Dashboard time-series queries (SURVEY §2.11 Q8-Q12): the reference's
  * price-panel -> returns -> TWR chain (1_Dashboard.py:64-356)
  * re-expressed long-form over the `events` stream.
  *
  * Data roles: event_type plays ticker; the daily close is the last
  * event of the day. A sparse subset of events (value < 40) plays the
  * trade ledger so trade days and price days interleave like the
  * reference's. The price panel uses only value >= 150 observations so
  * per-ticker gaps exist and W9 interpolation is genuinely exercised.
  *
  * Scale shape: everything is long/tidy (no physical pivot), windows
  * partition by ticker (one shuffle reused across W1-W9), and the
  * cross-sectional per-day reductions are exact integer sums of
  * micro-scaled values (deterministic under any merge order).
  */
object DashboardQueries {

  private val StartCash = PortfolioQueries.StartCash

  /** Synthetic dashboard trade ledger (ref trades semantics,
    * 1_Dashboard.py:86-103): sparse, deterministic, same tickers/days
    * as the price series. */
  def dashTrades(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir).filter(col("value") < 40)
      .select(
        col("event_id").as("id"),
        col("event_type").as("ticker"),
        to_date(col("ts")).as("ts"),
        when(col("user_id") % 5 === 0, lit("SELL")).otherwise(lit("BUY")).as("side"),
        (floor(col("value") / 10) + 1).cast("double").as("qty"),
        (col("value") + 1.0).as("price"),
        lit(0.25).as("fee"))

  /** Interpolated daily close panel, long form (Q8; ref
    * 1_Dashboard.py:64-83): daily last-observation close per ticker on
    * the union-of-observed-days spine, gaps filled linearly by row
    * position (pandas interpolate(limit_direction="both") semantics). */
  /** The panel's filtered price observations — the ONE subtree the
    * whole dashboard family derives from. Factored out (optimization
    * r19) so spine-only and ticker-only consumers (positionSeries,
    * q10, q12) can read it DIRECTLY instead of re-deriving the full
    * interpolated panel and pruning it back down: panel.ts's distinct
    * values ARE filt's distinct days by construction (the panel is
    * grid ⟕ daily over grid = spine × ticks, and both sets are empty
    * exactly when filt is), so the rewrite is result-identical while
    * removing the grid/interpolation subtree from every plan that
    * only wanted the spine (q11's plan: 44 scans → 12). */
  private[graft] def panelFilt(spark: SparkSession, sfDir: String): DataFrame =
    Tables.prices(spark, sfDir).filter(col("close") >= 150)
      .withColumn("d", to_date(col("ts")))

  /** Distinct panel days (the spine), from the filtered scan. */
  private[graft] def panelSpineDays(spark: SparkSession, sfDir: String): DataFrame =
    panelFilt(spark, sfDir).select(col("d")).distinct()

  /** Distinct panel tickers, from the filtered scan. */
  private[graft] def panelTicks(spark: SparkSession, sfDir: String): DataFrame =
    panelFilt(spark, sfDir).select(col("ticker")).distinct()

  def pricePanel(spark: SparkSession, sfDir: String): DataFrame = {
    val filt = panelFilt(spark, sfDir)
    val w = Window.partitionBy(col("ticker"), col("d"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = filt.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("ticker"), col("d"), col("close"))
    val spine = panelSpineDays(spark, sfDir)
    val ticks = panelTicks(spark, sfDir)
    val grid = spine.crossJoin(ticks)
    val panel0 = grid.join(daily, Seq("ticker", "d"), "left")
      .withColumn("rn", row_number().over(Window.partitionBy("ticker").orderBy("d")))
    // Deliberately NOT persisted (measured, optimization r18): most
    // consumers (q08 once; q09/q10/q12 spine or ticker set only) let
    // column pruning SKIP the interpolation windows entirely, and a
    // cache would force the full panel to materialize for them — the
    // A/B measured q12 0.78 -> 1.24 s with a persist here and no q11
    // gain beyond what q11's own `t` cache already captures.
    TimeSeries.interpolateBoth(panel0, Seq("ticker"), "rn", "close", "close_i")
      .select(col("ticker"), col("d").as("ts"), col("rn"), col("close_i").as("close"))
  }

  def q08PricePanel(spark: SparkSession, sfDir: String): DataFrame =
    pricePanel(spark, sfDir).select("ticker", "ts", "close").orderBy("ticker", "ts")

  /** Cumulative position qty per ticker projected onto the panel spine
    * (Q9; ref 1_Dashboard.py:106-118: pivot+cumsum+reindex-ffill+fill 0). */
  def positionSeries(spark: SparkSession, sfDir: String): DataFrame = {
    // spine/ticks direct from the filtered scan (see panelFilt): this
    // consumer never reads a close, so deriving them through the
    // interpolated panel only dragged the grid + window subtree into
    // the plan for column pruning to fight
    val spineDays = panelSpineDays(spark, sfDir).select(col("d"))
    val ticks = panelTicks(spark, sfDir)
    val dq = dashTrades(spark, sfDir)
      .groupBy(col("ticker"), col("ts").as("d"))
      .agg(sum(when(col("side") === "BUY", col("qty")).otherwise(-col("qty"))).as("dq"))
    val allDays = spineDays.crossJoin(ticks).select("d", "ticker")
      .union(dq.select("d", "ticker")).distinct()
    val cq = allDays.join(dq, Seq("d", "ticker"), "left")
      .withColumn("qty", TimeSeries.cumsum(coalesce(col("dq"), lit(0.0)),
        Seq(col("ticker")), Seq(col("d"))))
    cq.join(spineDays, Seq("d"), "left_semi")
      .select(col("ticker"), col("d").as("ts"), col("qty"))
  }

  def q09PositionSeries(spark: SparkSession, sfDir: String): DataFrame =
    positionSeries(spark, sfDir).orderBy("ticker", "ts")

  /** Daily cash balance on the panel spine (Q10; ref
    * 1_Dashboard.py:121-127): START_CASH + cumsum of per-day flows;
    * flows on non-panel days are dropped before the cumsum — a
    * reference quirk (reindex with fill_value=0) mirrored exactly. */
  def q10CashSeries(spark: SparkSession, sfDir: String): DataFrame = {
    val spineDays = panelSpineDays(spark, sfDir)
    val cf = dashTrades(spark, sfDir)
      .withColumn("flow",
        when(col("side") === "BUY", -(col("price") * col("qty") + col("fee")))
          .otherwise(col("price") * col("qty") - col("fee")))
      .groupBy(col("ts").as("d"))
      .agg(sum(round(col("flow") * 1e6).cast("long")).as("cf"))
    spineDays.join(cf, Seq("d"), "left")
      .withColumn("cum", TimeSeries.cumsum(coalesce(col("cf"), lit(0L)), Seq(), Seq(col("d"))))
      .select(col("d").as("ts"), (lit(StartCash) + col("cum").cast("double") / 1e6).as("cash"))
      .orderBy("ts")
  }

  /** Time-weighted-return index (Q11; ref 1_Dashboard.py:311-331):
    * lagged holdings value, cross-sectional weights, weighted daily
    * return, cumulative product via running ln-sum, rebased to 100 from
    * the first day with positive holdings. */
  def q11TwrIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val panel = pricePanel(spark, sfDir)
    // broadcast in the initial plan while every input reads as one split:
    // planned as a sort-merge join, adaptive execution made it a
    // broadcast join only if the position side's broadcasts finished
    // before the panel's shuffle stage was created, so the job count
    // varied between runs. Not at scale: the days x tickers grid is as
    // large as the panel it joins, so Spark's size checks decide there.
    val pos = positionSeries(spark, sfDir)
    val qty = if (PlanSingleSplitScans.inputsReadAsOneSplit(pos.queryExecution.analyzed)) {
      broadcast(pos)
    } else pos
    val j = panel.join(qty.withColumnRenamed("qty", "pos_qty"), Seq("ticker", "ts"), "left")
      .withColumn("pos_qty", coalesce(col("pos_qty"), lit(0.0)))
    val wt = Window.partitionBy("ticker").orderBy("rn")
    val l = j
      .withColumn("ret", coalesce(col("close") / lag("close", 1).over(wt) - 1.0, lit(0.0)))
      .withColumn("hold_val", lag("pos_qty", 1).over(wt) * lag("close", 1).over(wt))
    val t = l.withColumn("tot_val",
      sum(when(col("hold_val").isNull, 0L)
        .otherwise(round(col("hold_val") * 1e6).cast("long")))
        .over(Window.partitionBy("ts")).cast("double") / 1e6)
    // one row per day (tot_val is constant within a day); the days from
    // the first with positive holdings on are those where a running max
    // of that flag is set, so `t` is computed once, not again in a
    // separate branch for the first such day
    val upToDay = Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = t.groupBy("ts")
      .agg(sum(when(col("hold_val").isNull || col("tot_val") === 0, 0L)
        .otherwise(round(col("hold_val") / col("tot_val") * col("ret") * 1e12).cast("long")))
        .as("pr_l"),
        max("tot_val").as("tot_val"))
      .withColumn("held", max((col("tot_val") > 0).cast("int")).over(upToDay))
      .filter(col("held") === 1)
    r.select(col("ts"),
        (exp(sum(log(lit(1.0) + col("pr_l").cast("double") / 1e12)).over(upToDay)) * 100.0)
          .as("twr_index"))
      .orderBy("ts")
  }

  /** Benchmark series rebased to 100 on the panel spine (Q12; ref
    * 1_Dashboard.py:349-356 + _to_index_df:17-26): the 'view' stream
    * plays the index; ffill onto the spine, divide by first, x100. */
  def q12BenchmarkRebase(spark: SparkSession, sfDir: String): DataFrame = {
    val spineDays = panelSpineDays(spark, sfDir)
    val bm = Tables.dailyPrices(spark, sfDir).filter(col("ticker") === "view")
      .select(col("ts").as("d"), col("close"))
    val wAsc = Window.orderBy("d")
    spineDays.join(bm, Seq("d"), "left")
      .withColumn("omx", TimeSeries.ffill(col("close"), Seq(), Seq(col("d"))))
      .select(col("d").as("ts"),
        (col("omx") / first("omx").over(
          wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) * 100.0)
          .as("bench_idx"))
      .orderBy("ts")
  }

  /** Period-start anchor arithmetic (P4; ref 1_Dashboard.py:30-31,41-50):
    * None = unbounded ("Allt"), YTD = Jan 1 of the anchor year, else
    * anchor minus the period's day count. Labels mirror the reference. */
  val PeriodDays: Map[String, Int] =
    Map("1 dag" -> 1, "1 vecka" -> 7, "3 månader" -> 90, "6 månader" -> 180, "1 år" -> 365)

  def periodStart(anchor: java.time.LocalDate, period: String): Option[java.time.LocalDate] =
    period match {
      case "Allt" => None
      case "YTD"  => Some(java.time.LocalDate.of(anchor.getYear, 1, 1))
      case p      => Some(anchor.minusDays(PeriodDays(p).toLong))
    }

  /** Portfolio index with the reference's volume-gated fallback
    * (ref 1_Dashboard.py:332-346): use the TWR series when it has at
    * least `minPoints` rows; otherwise a static basket of the current
    * holdings — pv_t = Σ qty_now(ticker) * close_t over the panel,
    * positive days only, rebased to 100. The volume check is a tiny
    * driver-side decision, exactly like the reference's. */
  def portfolioIndexWithFallback(panel: DataFrame, qtyNow: DataFrame,
                                 twr: DataFrame, minPoints: Int = 5): DataFrame = {
    if (twr.limit(minPoints).count() >= minPoints) {
      twr.select(col("ts"), col("twr_index").as("portfolio_index"))
    } else {
      val pv = panel.join(qtyNow, Seq("ticker"), "left")
        .withColumn("qty", coalesce(col("qty"), lit(0.0)))
        .groupBy("ts")
        .agg(sum(round(col("qty") * col("close") * 1e6).cast("long")).as("pv_l"))
        .withColumn("pv", col("pv_l").cast("double") / 1e6)
        .filter(col("pv") > 0)
      val wAsc = Window.orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pv.select(col("ts"),
        (col("pv") / first("pv").over(wAsc) * 100.0).as("portfolio_index"))
        .orderBy("ts")
    }
  }

  // ------------------------------------------------------------------
  // DuckDB oracle twins — shared CTE prefix mirrors the Spark helpers.
  // ------------------------------------------------------------------

  /** CTEs: dash_trades, filt, dailyp, spine, tick, grid, panel (interpolated). */
  val panelCtes: String =
    """WITH dash_trades AS (
      |  SELECT event_id AS id, event_type AS ticker, CAST(ts AS DATE) AS ts,
      |         CASE WHEN user_id % 5 = 0 THEN 'SELL' ELSE 'BUY' END AS side,
      |         CAST(FLOOR(value/10) + 1 AS DOUBLE) AS qty,
      |         value + 1.0 AS price, 0.25 AS fee
      |  FROM events WHERE value < 40),
      |filt AS (
      |  SELECT event_type AS ticker, CAST(ts AS DATE) AS d, value AS close, ts, event_id
      |  FROM events WHERE value >= 150),
      |dailyp AS (
      |  SELECT ticker, d, close FROM (
      |    SELECT ticker, d, close,
      |           row_number() OVER (PARTITION BY ticker, d ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM filt) WHERE rn = 1),
      |spine AS (SELECT DISTINCT d FROM filt),
      |tick AS (SELECT DISTINCT ticker FROM filt),
      |grid AS (SELECT d, ticker FROM spine CROSS JOIN tick),
      |panel0 AS (
      |  SELECT g.ticker, g.d, p.close,
      |         row_number() OVER (PARTITION BY g.ticker ORDER BY g.d) AS rn
      |  FROM grid g LEFT JOIN dailyp p ON g.ticker = p.ticker AND g.d = p.d),
      |panel AS (
      |  SELECT ticker, d, rn,
      |         CASE WHEN close IS NOT NULL THEN close
      |              WHEN pv IS NULL THEN nv
      |              WHEN nv IS NULL THEN pv
      |              ELSE pv + (nv - pv) * (rn - pp) / (np - pp) END AS close
      |  FROM (
      |    SELECT *,
      |      last_value(close IGNORE NULLS) OVER (PARTITION BY ticker ORDER BY rn
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      |      last_value(CASE WHEN close IS NOT NULL THEN rn END IGNORE NULLS)
      |        OVER (PARTITION BY ticker ORDER BY rn
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
      |      first_value(close IGNORE NULLS) OVER (PARTITION BY ticker ORDER BY rn
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      |      first_value(CASE WHEN close IS NOT NULL THEN rn END IGNORE NULLS)
      |        OVER (PARTITION BY ticker ORDER BY rn
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
      |    FROM panel0)),
      |dq AS (
      |  SELECT ticker, ts AS d, SUM(CASE WHEN side='BUY' THEN qty ELSE -qty END) AS dq
      |  FROM dash_trades GROUP BY ticker, ts),
      |alldays AS (
      |  SELECT d, ticker FROM grid UNION SELECT d, ticker FROM dq),
      |cq AS (
      |  SELECT a.d, a.ticker,
      |         SUM(COALESCE(dq.dq, 0)) OVER (PARTITION BY a.ticker ORDER BY a.d
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qty
      |  FROM alldays a LEFT JOIN dq ON a.d = dq.d AND a.ticker = dq.ticker)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q08_price_panel" ->
      s"""$panelCtes
         |SELECT ticker, d AS ts, close FROM panel ORDER BY ticker, ts""".stripMargin,

    "q09_position_series" ->
      s"""$panelCtes
         |SELECT ticker, d AS ts, qty FROM cq WHERE d IN (SELECT d FROM spine)
         |ORDER BY ticker, ts""".stripMargin,

    "q10_cash_series" ->
      s"""$panelCtes,
         |cf AS (
         |  SELECT ts AS d,
         |         SUM(CAST(ROUND((CASE WHEN side='BUY' THEN -(price*qty + fee)
         |                              ELSE price*qty - fee END)*1000000.0) AS BIGINT)) AS cf
         |  FROM dash_trades GROUP BY ts)
         |SELECT s.d AS ts,
         |       1000000.0 + CAST(SUM(COALESCE(cf.cf, 0)) OVER (ORDER BY s.d
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/1000000.0 AS cash
         |FROM spine s LEFT JOIN cf ON s.d = cf.d ORDER BY ts""".stripMargin,

    "q11_twr_index" ->
      s"""$panelCtes,
         |j AS (
         |  SELECT p.ticker, p.d, p.rn, p.close, COALESCE(cq.qty, 0) AS pos_qty
         |  FROM panel p LEFT JOIN cq ON p.ticker = cq.ticker AND p.d = cq.d),
         |l AS (
         |  SELECT ticker, d, rn,
         |         COALESCE(close / lag(close) OVER (PARTITION BY ticker ORDER BY rn) - 1.0, 0.0) AS ret,
         |         lag(pos_qty) OVER (PARTITION BY ticker ORDER BY rn)
         |           * lag(close) OVER (PARTITION BY ticker ORDER BY rn) AS hold_val
         |  FROM j),
         |t AS (
         |  SELECT *, CAST(SUM(CASE WHEN hold_val IS NULL THEN 0
         |                     ELSE CAST(ROUND(hold_val*1000000.0) AS BIGINT) END)
         |            OVER (PARTITION BY d) AS DOUBLE)/1000000.0 AS tot_val
         |  FROM l),
         |fh AS (SELECT MIN(d) AS fhd FROM t WHERE tot_val > 0),
         |r AS (
         |  SELECT d, SUM(CASE WHEN hold_val IS NULL OR tot_val = 0 THEN 0
         |                     ELSE CAST(ROUND(hold_val/tot_val*ret*1000000000000.0) AS BIGINT) END) AS pr_l
         |  FROM t, fh WHERE d >= fhd GROUP BY d)
         |SELECT d AS ts,
         |       exp(SUM(ln(1.0 + CAST(pr_l AS DOUBLE)/1000000000000.0)) OVER (ORDER BY d
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 100.0 AS twr_index
         |FROM r ORDER BY ts""".stripMargin,

    "q12_benchmark_rebase" ->
      s"""$panelCtes,
         |bm AS (
         |  SELECT d, close FROM (
         |    SELECT CAST(ts AS DATE) AS d, value AS close,
         |           row_number() OVER (PARTITION BY CAST(ts AS DATE)
         |                              ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM events WHERE event_type = 'view') WHERE rn = 1),
         |rb AS (
         |  SELECT s.d,
         |         last_value(bm.close IGNORE NULLS) OVER (ORDER BY s.d
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS omx
         |  FROM spine s LEFT JOIN bm ON s.d = bm.d)
         |SELECT d AS ts,
         |       omx / first_value(omx) OVER (ORDER BY d
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100.0 AS bench_idx
         |FROM rb ORDER BY ts""".stripMargin
  )
}
