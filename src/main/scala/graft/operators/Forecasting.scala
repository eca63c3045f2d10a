package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Parity, Tables}

/** Time series, regression and their diagnostics: trends (OLS,
  * Theil–Sen, Siegel, Mann–Kendall), smoothing and forecasting (EWMA,
  * Holt–Winters, Croston), forecast backtests, change-point and drift
  * detection, autocorrelation and seasonality, and the regression
  * diagnostics (Chow, Durbin–Watson, influence, HAC errors, Granger and
  * Engle–Granger). Most read the weekly revenue frames in
  * [[OrderRevenue]]. Exact integer/decimal moment carriers are surfaced
  * to doubles through identically sequenced operations on both engines.
  * Each query carries its DuckDB oracle twin.
  */
object Forecasting extends OperatorFamily {

  /** The shared backtest frame of q176/q177/q178: the global weekly
    * revenue series (whole dollars, exact longs) with three one-step
    * forecasts per week — naive (last value), the trailing-4-week
    * integer-mean, and drift (2·y₁ − y₂) — evaluated on the weeks
    * where all three are defined. Forecast lags run over the OBSERVED
    * week sequence (documented: a gap week pairs with the previous
    * observed week; the gate corpus is gap-free at sf0.01/sf0.1 and
    * has 7 gaps at sf0.001 — the backtest contract is "previous
    * observation", not calendar-shifted). Scale shape: the fact table
    * collapses to ONE calendar-bounded row per week before the
    * single-partition lag window (~350 rows at ANY data scale — the
    * q156 aggregate-first stance). */
  private def weeklyBacktest(s: SparkSession, d: String): DataFrame = {
    val wLag = Window.orderBy(col("w"))
    OrderRevenue.weeklyRevenue(s, d)
      .withColumn("y1", lag(col("y"), 1).over(wLag))
      .withColumn("y2", lag(col("y"), 2).over(wLag))
      .withColumn("y3", lag(col("y"), 3).over(wLag))
      .withColumn("y4", lag(col("y"), 4).over(wLag))
      .filter(col("y4").isNotNull)
      .select(col("w"), col("y"),
        col("y1").as("naive"),
        expr("(y1 + y2 + y3 + y4) div 4").as("mean4"),
        (lit(2L) * col("y1") - col("y2")).as("drift"))
  }

  /** Oracle CTE `wk` (w, y) of q176–q178 and q188, mirroring
    * [[OrderRevenue.weeklyRevenue]]. */
  private val weeklySql =
    """wk AS (SELECT
      |    datediff('day', DATE '1992-01-01', o_orderdate) // 7 AS w,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) // 100 AS y
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)""".stripMargin

  /** Shared oracle CTEs: the weekly backtest frame (mirrors
    * [[weeklyBacktest]]). */
  private val backtestCte =
    s"""WITH $weeklySql,
      |  lg AS (SELECT w, y,
      |    LAG(y, 1) OVER (ORDER BY w) AS y1,
      |    LAG(y, 2) OVER (ORDER BY w) AS y2,
      |    LAG(y, 3) OVER (ORDER BY w) AS y3,
      |    LAG(y, 4) OVER (ORDER BY w) AS y4
      |  FROM wk),
      |  f AS (SELECT w, y, y1 AS naive,
      |    (y1 + y2 + y3 + y4) // 4 AS mean4,
      |    2 * y1 - y2 AS drift
      |  FROM lg WHERE y4 IS NOT NULL)""".stripMargin

  private val dec = DecimalType(38, 0)

  /** RSS of the least-squares line from n-scaled centered moments:
    * a = n·Syy − Sy², b = n·Sxy − Sx·Sy, c = n·Sxx − Sx² (exact
    * decimals) → Σe² = (a − b²/c)/n, assembled in doubles with one
    * fixed operation sequence (mirrored verbatim in the oracle SQL). */
  private def rssCol(n: Column, a: Column, b: Column, c: Column): Column =
    when(c === lit(0).cast(dec), lit(null).cast("double"))
      .otherwise((a.cast("double") -
        b.cast("double") * b.cast("double") / c.cast("double")) /
        n.cast("double"))

  /** Scoring half of q200 over ANY exact-integer weekly carrier
    * `(w, yv, xv)` — shared with the streaming twin
    * ([[StreamingOps.weeklyPairFold]] maintains the carrier
    * incrementally; this scores it), so batch == stream reduces to
    * the carrier being identical integers. */
  private[graft] def grangerFromWeekly(weekly: DataFrame): DataFrame = {
    {
      val wSeq = Window.orderBy(col("w"))
      val lagf = weekly
        .withColumn("yl", lag(col("yv"), 1).over(wSeq))
        .withColumn("xl", lag(col("xv"), 1).over(wSeq))
        .filter(col("yl").isNotNull)
      val m = lagf.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("yl").cast(dec)).as("s1"),
        sum(col("xl").cast(dec)).as("s2"),
        sum(col("yv").cast(dec)).as("sy"),
        sum(col("xv").cast(dec)).as("sx"),
        sum(col("yl").cast(dec) * col("yl")).as("s11"),
        sum(col("xl").cast(dec) * col("xl")).as("s22"),
        sum(col("yl").cast(dec) * col("xl")).as("s12"),
        sum(col("yl").cast(dec) * col("yv")).as("s1y"),
        sum(col("xl").cast(dec) * col("yv")).as("s2y"),
        sum(col("yl").cast(dec) * col("xv")).as("s1x"),
        sum(col("xl").cast(dec) * col("xv")).as("s2x"),
        sum(col("yv").cast(dec) * col("yv")).as("syy"),
        sum(col("xv").cast(dec) * col("xv")).as("sxx"))
      val c = m.select(col("n"),
        (col("n") * col("s11") - col("s1") * col("s1")).as("m11"),
        (col("n") * col("s22") - col("s2") * col("s2")).as("m22"),
        (col("n") * col("s12") - col("s1") * col("s2")).as("m12"),
        (col("n") * col("s1y") - col("s1") * col("sy")).as("b1y"),
        (col("n") * col("s2y") - col("s2") * col("sy")).as("b2y"),
        (col("n") * col("s1x") - col("s1") * col("sx")).as("b1x"),
        (col("n") * col("s2x") - col("s2") * col("sx")).as("b2x"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("syy_c"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("sxx_c"))
        .withColumn("det",
          col("m11") * col("m22") - col("m12") * col("m12"))
      // direction x→y: unrestricted R² from both betas, restricted
      // from the own lag alone; all ratios of exact decimals
      def r2u(b1: String, b2: String, syyC: String) =
        ((col("m22") * col(b1) - col("m12") * col(b2)).cast("double") *
          col(b1).cast("double") +
          (col("m11") * col(b2) - col("m12") * col(b1)).cast("double") *
            col(b2).cast("double")) /
          (col("det").cast("double") * col(syyC).cast("double"))
      // restricted: y on own lag only. For the reverse direction the
      // own lag is x_{t-1} (m22), cross is y_{t-1}
      def r2r(bv: String, mOwn: String, syyC: String) =
        (col(bv).cast("double") * col(bv).cast("double")) /
          (col(mOwn).cast("double") * col(syyC).cast("double"))
      c.withColumn("r2u_y", r2u("b1y", "b2y", "syy_c"))
        .withColumn("r2r_y", r2r("b1y", "m11", "syy_c"))
        .withColumn("r2u_x",
          ((col("m22") * col("b1x") - col("m12") * col("b2x"))
            .cast("double") * col("b1x").cast("double") +
            (col("m11") * col("b2x") - col("m12") * col("b1x"))
              .cast("double") * col("b2x").cast("double")) /
            (col("det").cast("double") * col("sxx_c").cast("double")))
        .withColumn("r2r_x", r2r("b2x", "m22", "sxx_c"))
        .withColumn("f_x_causes_y",
          (col("r2u_y") - col("r2r_y")) / (lit(1.0) - col("r2u_y")) *
            (col("n").cast("double") - lit(3.0)))
        .withColumn("f_y_causes_x",
          (col("r2u_x") - col("r2r_x")) / (lit(1.0) - col("r2u_x")) *
            (col("n").cast("double") - lit(3.0)))
        .select(col("n").cast("long").as("n_weeks"),
          col("r2u_y"), col("r2r_y"), col("f_x_causes_y"),
          col("r2u_x"), col("r2r_x"), col("f_y_causes_x"))
    }
  }

  /** q150 rule for the oracles: HUGEINT combos surface to DOUBLE
    * through VARCHAR so the cast rounds once (DuckDB's HUGEINT→DOUBLE
    * double-rounds through its 64-bit halves). */
  private def vd(x: String) = s"CAST(CAST($x AS VARCHAR) AS DOUBLE)"

  /** DuckDB twin of [[rssCol]]. */
  private def rss(n: String, a: String, b: String, c: String) =
    s"""CASE WHEN $c = 0 THEN NULL ELSE
         (${vd(a)} - ${vd(b)} * ${vd(b)} / ${vd(c)}) / ${vd(n)} END"""

  /** Daily order revenue (day, x): day = days since 1970-01-01 and x
    * the exact cents of the orders placed that day (q127, q202). */
  private def dailyRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(datediff(col("o_orderdate").cast("date"),
        to_date(lit("1970-01-01"))).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))

  /** DuckDB twin of [[dailyRevenue]]: CTE `daily` (day, x). */
  private val DailyRevenueCte =
    """daily AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS x
           FROM orders GROUP BY 1)"""

  /** The dense daily revenue series of q189/q191 as CTEs: `daily` (day,
    * cents), `b` (first and last day), `grid` (every calendar day) and
    * `ser` (day, cents with 0 on days without orders). */
  private val DenseDailyCtes =
    """daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |  b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |  grid AS (SELECT CAST(UNNEST(generate_series(lo, hi,
        |      INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |  ser AS (SELECT g.day, COALESCE(d.cents, 0) AS cents
        |    FROM grid g LEFT JOIN daily d USING (day))""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Closed-form per-group OLS (y = l_extendedprice on x = l_quantity):
    // the moments (n, Sx, Sy, Sxx, Sxy) accumulate as EXACT integers
    // (2dp values scaled to cents, products in DECIMAL(38,0) — the
    // 128-bit-integer idiom), so slope/intercept come out of a fixed
    // sequence of IEEE ops on exact inputs — deterministic at any
    // parallelism and bit-identical cross-engine, unlike built-in
    // corr/covar/regr_* whose double running sums are merge-order
    // dependent. Scale shape: one partial-aggregated groupBy, five
    // numbers per group on the wire; the scale factors (100x, 100y)
    // cancel in the slope quotient.
    "q58_group_linear_fit" -> ((s, d) => {
      import Parity.cents2
      val dec = DecimalType(38, 0)
      val base = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          cents2(col("l_quantity")).cast(dec).as("xc"),
          cents2(col("l_extendedprice")).cast(dec).as("yc"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("xc")).as("sx"), sum(col("yc")).as("sy"),
          sum(col("xc") * col("xc")).as("sxx"),
          sum(col("xc") * col("yc")).as("sxy"))
      base
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("intercept",
          (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
            / (col("n") * lit(100L)).cast("double"))
        .select(col("l_returnflag"), col("n"), col("slope"), col("intercept"))
        .orderBy(col("l_returnflag"))
    }),

    // Time-series gap-fill with last-observation-carried-forward,
    // JOIN-FREE: each observed hour emits itself plus the gap hours up
    // to (not including) that user's next observed hour (lead +
    // sequence explode), carrying its own rollup values — the carried
    // value IS the last observation, so LOCF needs no grid join and no
    // post-join window. All carried values are integers/strings, so
    // the fill is bit-deterministic. Scale shape: ONE rollup exchange
    // + one lead window over OBSERVED hours (pre-grid, the small
    // frame); the grid explode is row-local. The former shape (grid
    // from per-user bounds, left join, last-ignoreNulls window over
    // the full grid) re-aggregated the rollup on both join sides and
    // windowed the exploded grid — 2 extra exchanges of the biggest
    // frame; this form benched ~2x faster at sf0.1 (2.44 s -> 1.26 s).
    "q60_gapfill_locf" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("hr", date_trunc("hour", col("ts")))
      // the hourly rollup carries the last event's TYPE via max_by, so
      // no second events scan / row-level join is needed downstream
      val hourly = e.groupBy(col("user_id"), col("hr"))
        .agg(count(lit(1)).as("n"), max(col("event_id")).as("last_eid"),
          max_by(col("event_type"), col("event_id")).as("last_type"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("obs_hr"))
      hourly
        .select(col("user_id"), col("hr").as("obs_hr"), col("n").as("obs_n"),
          col("last_eid"), col("last_type"))
        .withColumn("next_hr", lead(col("obs_hr"), 1).over(w))
        .select(col("user_id"),
          explode(expr("sequence(obs_hr, " +
            "coalesce(next_hr - interval 1 hour, obs_hr), " +
            "interval 1 hour)")).as("hr"),
          col("obs_hr"), col("obs_n"), col("last_eid"), col("last_type"))
        .select(col("user_id"), col("hr"),
          when(col("hr") === col("obs_hr"), col("obs_n")).otherwise(lit(0L))
            .as("n"),
          col("last_eid").as("locf_eid"),
          col("last_type").as("locf_type"))
        .orderBy(col("user_id"), col("hr"))
    }),

    // WEEK-over-week revenue trend per order priority: ISO-week
    // rollup (integer cents), then lag-1 deltas within each priority
    // series. The standard KPI trend table. Shape: one grouped
    // aggregate (the only full-data exchange, partial-agg collapsed
    // to |priorities| x |weeks| rows map-side), then a window over
    // the tiny rollup. Week emitted as timestamp_ntz (q66 rule:
    // date32 breaks the result hash on the pandas side).
    "q88_wow_trend" -> ((s, d) => {
      val wk = Tables.orders(s, d)
        .groupBy(col("o_orderpriority"),
          date_trunc("week", col("o_orderdate")).cast("timestamp_ntz")
            .as("week"))
        .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("rev_cents"))
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("week"))
      wk.withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
        .select(col("o_orderpriority"), col("week"),
          (col("rev_cents").cast("double") / lit(100.0)).as("rev"),
          (col("prev_cents").cast("double") / lit(100.0)).as("prev_rev"),
          ((col("rev_cents") - col("prev_cents")).cast("double")
            / col("prev_cents").cast("double")).as("wow_pct"))
        .orderBy(col("o_orderpriority"), col("week"))
    }),

    // DAY-OF-WEEK SEASONALITY index: revenue per weekday normalized by
    // the number of calendar days that weekday actually appears —
    // seasonal_index > 1 means the weekday over-indexes vs an average
    // day. The multiplicative seasonality table behind staffing and
    // anomaly baselines (q85's fences should be read against it).
    // Scale: one grouped aggregate collapses the fact table map-side
    // to 7 rows + distinct days; the totals are a 1-row broadcast;
    // integer cents and integer day counts until the final divisions,
    // whose order is mirrored in the oracle.
    "q92_dow_seasonality" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select((dayofweek(col("o_orderdate")) - 1).as("dow"),
          to_date(col("o_orderdate")).as("day"),
          round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
      val byDow = o.groupBy(col("dow"))
        .agg(countDistinct(col("day")).as("n_days"),
          sum(col("cents")).as("cents"))
      val tot = byDow.agg(sum(col("cents")).as("tot_cents"),
        sum(col("n_days")).as("tot_days"))
      byDow.crossJoin(broadcast(tot))
        .select(col("dow").cast("long").as("dow"), col("n_days"),
          (col("cents").cast("double") / lit(100.0)).as("revenue"),
          (col("cents").cast("double") / col("n_days").cast("double")
            / lit(100.0)).as("daily_avg"),
          ((col("cents").cast("double") / col("n_days").cast("double"))
            / (col("tot_cents").cast("double")
              / col("tot_days").cast("double"))).as("seasonal_index"))
        .orderBy(col("dow"))
    }),

    // EWMA revenue trend per region: weekly gross revenue smoothed with
    // dyadic exponential weights (alpha = 1/2) over the trailing 8
    // observed weeks — the noise-robust trend line behind q88's raw
    // week-over-week deltas. Weights 128,64,...,1 are exact powers of
    // two and revenue rides integer cents, so the weighted numerator
    // and the present-weight denominator are EXACT longs in both
    // engines; the single division at the end is the only double op
    // (an alpha like 0.3 would need pow() and cross-engine libm — the
    // q99 shared-literal rule is why alpha is dyadic). Weeks are
    // days-since-epoch div 7 (portable int math, no ISO-week
    // disagreement). Scale shape: one exchange on o_custkey for the
    // region join (customer side co-partitioned, nation/region
    // broadcast), partial-agg to |regions| x |weeks| cells; the lag
    // chain runs over that tiny frame, partitioned by region.
    "q104_ewma_revenue" -> ((s, d) => {
      val geo = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name")))
      val weekly = Tables.orders(s, d)
        .select(col("o_custkey"),
          (datediff(col("o_orderdate"), lit("1970-01-01")) / 7)
            .cast("long").as("wk"),
          graft.Parity.cents2(col("o_totalprice")).as("c"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(geo, col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"), col("wk"))
        .agg(sum(col("c")).as("cents"))
      val w = Window.partitionBy(col("r_name")).orderBy(col("wk"))
      def term(j: Int): Column =
        if (j == 0) col("cents") * lit(128L)
        else coalesce(lag(col("cents"), j).over(w), lit(0L)) *
          lit(1L << (7 - j))
      def wgt(j: Int): Column =
        if (j == 0) lit(128L)
        else when(lag(col("cents"), j).over(w).isNotNull,
          lit(1L << (7 - j))).otherwise(lit(0L))
      weekly
        .withColumn("num", (0 to 7).map(term).reduce(_ + _))
        .withColumn("den", (0 to 7).map(wgt).reduce(_ + _))
        .select(col("r_name"), col("wk"),
          (col("cents").cast("double") / lit(100.0)).as("revenue"),
          (col("num").cast("double")
            / (col("den").cast("double") * lit(100.0)))
            .as("ewma_revenue"))
        .orderBy(col("r_name"), col("wk"))
    }),

    // SEASONAL-RESIDUAL anomaly: each (date, hour) cell of the DENSE
    // hour grid (zero-activity hours included — a dead hour is exactly
    // the anomaly an on-call wants) scored against its own
    // day-of-week × hour baseline; cells beyond √2 population sigmas
    // surface. The threshold respects the small-sample bound — with n
    // same-dow-hour cells the maximum attainable population z is
    // √(n−1), so a 2σ cut can never fire on a month of data (n=4..5);
    // √2 is attainable yet still the distribution tail. The cut is
    // decided in EXACT integer arithmetic:
    // z² > 2 ⟺ (n·cnt − s)² > 2·(n·ss − s²) with n/s/ss exact, so no
    // float boundary can flip membership; the reported z is then one
    // shared-structure double expression (n cancels:
    // z = (n·cnt − s)/√(n·ss − s²), and IEEE sqrt is correctly rounded
    // in both engines). Day-of-week is days-since-epoch mod 7
    // (0 = Thursday) — portable integer math, no locale (q104 rule).
    // Scale shape: events partial-aggregate to date×hour cells before
    // any exchange; the grid explodes from a 1-row bounds aggregate;
    // baselines are windows over the tiny cell frame. ss rides
    // DECIMAL(38,0) so counts past 3e9/cell cannot wrap (q103 rule).
    "q108_seasonal_anomaly" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("dt"), hour(col("ts")).as("hr"))
      val cnts = ev.groupBy(col("dt"), col("hr"))
        .agg(count(lit(1)).as("cnt"))
      val grid = ev.agg(min(col("dt")).as("lo"), max(col("dt")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("dt"))
        .select(col("dt"), explode(sequence(lit(0), lit(23))).as("hr"))
      val w = Window.partitionBy(col("dow"), col("hr"))
      val scored = grid.join(cnts, Seq("dt", "hr"), "left")
        .select(col("dt"), col("hr"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .withColumn("dow",
          datediff(col("dt"), to_date(lit("1970-01-01"))) % 7)
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(col("cnt")).over(w))
        .withColumn("ss",
          sum((col("cnt").cast(dec) * col("cnt")).cast(dec)).over(w))
        .withColumn("dev", col("n").cast(dec) * col("cnt") - col("s"))
        .withColumn("varn",
          col("n").cast(dec) * col("ss") -
            (col("s").cast(dec) * col("s")).cast(dec))
      scored
        .filter(col("varn") > 0 &&
          (col("dev").cast(dec) * col("dev")).cast(dec) >
            col("varn") * 2)
        .select(col("dt").cast("string").as("dt"), col("hr"), col("dow"),
          col("cnt"),
          (col("s").cast("double") / col("n").cast("double")).as("mean"),
          (col("dev").cast("double") /
            sqrt(col("varn").cast("double"))).as("z"))
        .orderBy(col("dt"), col("hr"))
    }),

    // LINEAR time-series interpolation — q60's other half: LOCF
    // carries the last value forward, this RESAMPLES each user's
    // irregular value series onto the hourly grid by interpolating
    // between the surrounding observations (grid hours strictly after
    // the first observation, through the last — no extrapolation; the
    // resample a TS feature store runs before joining series on a
    // common clock). Duplicate-timestamp events collapse with MAX
    // first so the series is a function. SEGMENT-LOCAL formulation:
    // one lead() window pairs each event with its successor, then
    // each segment generates and interpolates ITS OWN grid hours
    // ((us, next_us] by integral division) row-locally — no
    // grid∪events union, no unbounded-following window buffering the
    // merged frame (the first cut ran THREE window passes over the
    // grid-sized union and was the slowest headline query; this runs
    // ONE window over just the events). The interpolation weight is
    // one shared-structure double over four exact integers; Spark's
    // sequence(a, b) descending-on-a>b hazard is guarded by the
    // segment filter. Scale shape: the only exchange is the user_id
    // window over the raw events (timeline-local, the q87 contract);
    // the grid explode never crosses a shuffle.
    "q120_linear_interpolation" -> ((s, d) => {
      val hUs = 3600000000L
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      Tables.events(s, d)
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          round(col("value") * 100).cast("long").as("c"))
        .groupBy(col("user_id"), col("us"))
        .agg(max(col("c")).as("cents"))
        .withColumn("nu", lead(col("us"), 1).over(w))
        .withColumn("nc", lead(col("cents"), 1).over(w))
        .filter(col("nu").isNotNull &&
          expr(s"us div $hUs + 1 <= nu div $hUs"))
        .select(col("user_id"), col("us"), col("cents"), col("nu"),
          col("nc"),
          explode(sequence(
            expr(s"CAST(us div $hUs + 1 AS BIGINT)"),
            expr(s"CAST(nu div $hUs AS BIGINT)"))).as("hour_idx"))
        .select(col("user_id"), col("hour_idx"),
          ((col("cents").cast("double") +
            (col("nc") - col("cents")).cast("double") *
              ((col("hour_idx") * hUs - col("us")).cast("double") /
                (col("nu") - col("us")).cast("double"))) / 100.0)
            .as("value_interp"))
        .orderBy(col("user_id"), col("hour_idx"))
    }),

    // CUSUM DRIFT DETECTION over daily revenue — the sequential
    // change-point family beside q85 (robust fences), q104 (EWMA) and
    // q108 (seasonal residuals): the one-sided CUSUM chart
    // S_t = max(0, S_{t-1} + (x_t − μ − k)) accumulates small
    // persistent upward shifts that per-day outlier tests never see.
    // The recursion LOOKS window-inexpressible, but the classical
    // identity S_t = P_t − min(0, min_{j≤t} P_j) (P = prefix sum of
    // the deviations) turns the fold into TWO stacked windows — the
    // q113-skyline trick of re-expressing a sequential scan
    // declaratively, so both engines compute it exactly. Everything
    // is integer: deviations are scaled by 10n (k = 10% of the mean
    // daily revenue ⇒ 10n·x − 11T; μ's division never happens), the
    // drift flag compares S'' > 20T (h = 2× mean) in BIGINT, and the
    // only double is the final display division. Scale shape: the
    // daily rollup partial-aggregates map-side; both windows run over
    // the |days|-sized frame (single-partition by design — the grid
    // does not grow with the fact table, the t28 stance); totals ride
    // a 1-row broadcast. Headroom: |P| ≤ n·max|10n·x − 11T| — safe
    // through sf10; a 100 TB deployment shifts the carrier to
    // DECIMAL(38,0) (the Parity path) before the long saturates.
    "q127_cusum_drift" -> ((s, d) => {
      val daily = dailyRevenue(s, d)
      val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("t"))
      val wP = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(tot))
        .withColumn("y", lit(10L) * col("n") * col("x") -
          lit(11L) * col("t"))
        .withColumn("p", sum(col("y")).over(wP))
        .withColumn("pmin", least(lit(0L), min(col("p")).over(wP)))
        .withColumn("s", col("p") - col("pmin"))
        .select(
          date_add(to_date(lit("1970-01-01")), col("day"))
            .cast("string").as("dt"),
          col("x").as("revenue_cents"),
          (col("s").cast("double") /
            (lit(10.0) * col("n").cast("double"))).as("cusum_cents"),
          (col("s") > lit(20L) * col("t")).as("is_drift"))
        .orderBy(col("dt"))
    }),

    // THEIL–SEN ROBUST TREND per nation beside the q58-style OLS line:
    // monthly revenue series → all-pairs slopes (cents_b − cents_a) /
    // (mon_b − mon_a) → exact MEDIAN slope. Cross-engine exactness
    // needs no decimal machinery here: monthly cents are exact longs,
    // each pairwise slope is ONE correctly-rounded IEEE division of
    // exactly-representable integers, and the median picks (or
    // averages two of) those identical doubles — +,−,×,/ only, no
    // libm. The OLS slope rides the same exact integer moments as q58
    // (n·Sxy − Sx·Sy over n·Sxx − Sx², all longs, one final double
    // division), so the two estimators are compared on equal footing.
    // Scale shape: the only fact-table exchange is the monthly rollup
    // (partial-aggregated to |nation|×|month| rows); the O(m²) pair
    // join runs on that tiny series frame per nation — m months means
    // m²/2 pairs of three longs, bounded by the CALENDAR, not the
    // data (the q115 grid stance).
    "q131_theil_sen_trend" -> ((s, d) => {
      // the monthly rollup (|nations| × |months| rows) feeds the pair
      // self-join twice AND the OLS comparison — cut it once so the
      // fact join runs a single time (ScanAudit: 9 scans → 3)
      val monthly = Materialize.LocalCheckpoint(Tables.orders(s, d)
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          ((year(col("o_orderdate")) - 1995) * 12 +
            month(col("o_orderdate")) - 1).as("mon"))
        .agg(sum(Parity.cents2(col("o_totalprice"))).as("cents")))
      val pairs = monthly.as("a").join(monthly.as("b"),
          col("a.nation") === col("b.nation") &&
            col("a.mon") < col("b.mon"))
        .select(col("a.nation").as("nation"),
          ((col("b.cents") - col("a.cents")).cast("double") /
            (col("b.mon") - col("a.mon")).cast("double")).as("slope"))
      val ranked = pairs
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("nation")).orderBy(col("slope"))))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy(col("nation"))))
      val ts = ranked
        .filter(col("rn") === expr("(np + 1) div 2") ||
          col("rn") === expr("(np + 2) div 2"))
        .groupBy(col("nation"))
        .agg(max(col("np")).as("n_pairs"),
          (sum(col("slope")) / count(lit(1))).as("ts_slope_cents"))
      val ols = monthly.groupBy(col("nation"))
        .agg(count(lit(1)).as("n_months"),
          sum(col("mon")).as("sx"), sum(col("cents")).as("sy"),
          sum(col("mon") * col("cents")).as("sxy"),
          sum(col("mon") * col("mon")).as("sxx"))
        .select(col("nation"), col("n_months"),
          ((col("n_months") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n_months") * col("sxx") - col("sx") * col("sx"))
              .cast("double")).as("ols_slope_cents"))
      ols.join(ts, Seq("nation"))
        .select(col("nation"), col("n_months"), col("n_pairs"),
          col("ts_slope_cents"), col("ols_slope_cents"))
        .orderBy(col("nation"))
    }),

    // ROLLING QUANTILE-COVERAGE BACKTEST — the temporal
    // cross-validation primitive none of the point statistics give
    // you: for every order week, compute exact p10/p90 revenue bounds
    // from the TRAILING 8 prior weeks only (leakage-safe by
    // construction — the interval never sees the week it is judged
    // on), then measure out-of-sample coverage: the fraction of the
    // current week's orders falling inside. A well-calibrated 10–90
    // interval should cover ≈ 80%; weeks drifting off that line are
    // exactly where a revenue model trained on history goes stale.
    // Exactness: percentiles use the discrete integer rule (smallest
    // value whose 10·cumulative-count reaches k·total — q73's
    // weighted-median stance, no interpolation), so bounds, counts,
    // and the final single-division coverage are cross-engine exact.
    // Scale shape: ONE fact scan (plan-pinned) — each weekly
    // value-grid cell fans out with offsets 0..8, where off = 0 marks
    // the judged week's own mass and off ≥ 1 contributes to the next
    // 8 targets' history (q66's trailing-window trick, no per-week
    // rescan and no join-back: the bounds become window minima over
    // the same target-week partition, which is sound because a
    // zero-history grid row can never precede the true threshold row
    // in the nondecreasing cumulative). Warm-up targets (no prior
    // mass) and phantom targets past the data end (no current mass)
    // drop by the two count filters — the same rows the join-back
    // shape would drop.
    "q145_quantile_coverage" -> ((s, d) => {
      val wk = Tables.orders(s, d)
        .select(OrderRevenue.orderWeek.as("wk"),
          Parity.cents2(col("o_totalprice")).as("cents"))
      val fan = wk.groupBy(col("wk"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", explode(expr("sequence(0, 8)")))
        .select((col("wk") + col("off")).as("twk"), col("cents"),
          when(col("off") === 0, col("cnt")).otherwise(0L).as("cc"),
          when(col("off") >= 1, col("cnt")).otherwise(0L).as("pc"))
        .groupBy(col("twk"), col("cents"))
        .agg(sum(col("cc")).as("ccnt"), sum(col("pc")).as("pcnt"))
      val wCum = Window.partitionBy(col("twk")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("twk"))
      fan
        .withColumn("cum", sum(col("pcnt")).over(wCum))
        .withColumn("tot", sum(col("pcnt")).over(wTot))
        .withColumn("p10w",
          min(when(lit(10L) * col("cum") >= col("tot"), col("cents")))
            .over(wTot))
        .withColumn("p90w",
          min(when(lit(10L) * col("cum") >= lit(9L) * col("tot"),
            col("cents"))).over(wTot))
        .filter(col("tot") > 0L)
        .groupBy(col("twk"))
        .agg(max(col("tot")).as("n_prior"),
          max(col("p10w")).as("p10"), max(col("p90w")).as("p90"),
          sum(col("ccnt")).as("n_cur"),
          sum(when(col("cents") >= col("p10w") &&
            col("cents") <= col("p90w"), col("ccnt")).otherwise(0L))
            .as("n_inside"))
        .filter(col("n_cur") > 0L)
        .select(col("twk").as("wk"), col("n_prior"), col("p10"),
          col("p90"), col("n_cur"), col("n_inside"),
          (col("n_inside").cast("double") / col("n_cur").cast("double"))
            .as("coverage"))
        .orderBy(col("wk"))
    }),

    // THEIL–SEN TREND — the median of pairwise weekly-revenue slopes
    // per nation: breakdown point 29%, immune to the outlier weeks
    // that drag an OLS line (q58's moment fit is the fragile twin).
    // Gap-tolerant by construction: slopes use the true week distance,
    // so nations with empty weeks (all of them at small SF) need no
    // gap filling. Each slope is ONE division of exact longs — both
    // engines produce the identical double — and the median is the
    // q73 grid rule over the slope values. Scale shape: the fact
    // table collapses to a (nation, week) frame FIRST (calendar-
    // bounded: |weeks| ≈ 350 per nation regardless of SF), one
    // materialization cut, then the pair join is grid² on the tiny
    // aggregate — O(weeks²)·|nations| ≈ 1.5M rows at ANY data scale,
    // never O(rows²).
    "q155_theil_sen" -> ((s, d) => {
      val wk = OrderRevenue.nationWeeklyRevenue(s, d)
      // the selection threshold is knowable without counting inside
      // the pair frame: np = C(n_weeks, 2) — a 25-row broadcast join
      // replaces a count-window pass over the grid² pairs (the q179
      // rewrite applied back to its parent)
      val weeks = wk.groupBy(col("nk"))
        .agg(count(lit(1)).as("n_weeks"))
        .withColumn("np", expr("n_weeks * (n_weeks - 1) div 2"))
      // pair fan-out through a BROADCAST self-join (the checkpointed
      // grid has no size stats, so the planner sort-merge-joined it —
      // funneling the grid² fan-out through |nations| tasks), and the
      // median by ROW-LOCAL sort_array selection instead of a
      // nation-partitioned row_number window: the same grid-rule
      // value (smallest slope at position ⌈np/2⌉ — element_at of the
      // sorted array), but the per-nation slope lists partial-
      // aggregate map-side and the full-pair-frame sort disappears.
      // Measured at sf0.1: the window tail alone was 4.6–5.4 s, this
      // shape 0.7–1.1 s end-to-end from the grid (guide §2.4/§2.3).
      // Round 13: the STREAMED side is pre-partitioned on nk — an
      // exchange of the |nations|·|weeks| GRID (dimension-sized) that
      // the pair join preserves and the groupBy(nk) then reuses, so
      // the grid² slope frame itself never crosses a shuffle (before:
      // every slope rode the collect_list exchange; the cut's
      // LogicalRDD exposes no partitioning, so this must be explicit).
      wk.repartition(col("nk")).as("a").join(broadcast(wk.as("b")),
          col("a.nk") === col("b.nk") && col("a.w") < col("b.w"))
        .select(col("a.nk").as("nk"),
          ((col("b.y") - col("a.y")).cast("double") /
            (col("b.w") - col("a.w")).cast("double")).as("slope"))
        .groupBy(col("nk"))
        .agg(sort_array(collect_list(col("slope"))).as("sl"))
        .join(broadcast(weeks), "nk")
        .join(broadcast(OrderRevenue.nationNames(s, d)), "nk")
        .select(col("nation"), col("n_weeks"), col("np").as("n_pairs"),
          element_at(col("sl"), expr("CAST((np + 1) div 2 AS INT)"))
            .as("ts_slope"))
        .orderBy(col("nation"))
    }),

    // AUTOCORRELATION + LJUNG–BOX — is the weekly revenue series
    // white noise? ACF at lags 1–6 with the standard full-series-mean
    // estimator, assembled from EXACT integer moments: multiplying
    // the lag-k autocovariance through by n² gives
    // n²·Σx_t·x_{t+k} − n·S1·Σ(x_t + x_{t+k}) + (n−k)·S1², all
    // 128-bit-exact (DECIMAL(38,0) here, HUGEINT in the oracle — the
    // q150 carrier), so r_k is ONE division of two exact integers and
    // cross-engine bit-identical. Ljung–Box Q accumulates r_k²/(n−k)
    // in lag order (an ordered cumulative window — identical
    // sequence both engines) against hardcoded χ² critical literals.
    // Scale shape: the fact table collapses to ONE calendar-bounded
    // row per week before any window; the single-partition lead()
    // window runs over ~350 rows at any SF — the aggregate-first
    // pattern that makes a "global" window scale-safe. Requires a
    // contiguous week index (true of this corpus at the gate SFs:
    // span == count) — lead() over a gapped series would silently
    // pair non-adjacent observations, so the plan GUARDS the
    // assumption and raises on any gap (the d01 collision-guard
    // stance: loud failure over silent corruption).
    "q156_acf_ljung_box" -> ((s, d) => {
      val lags = 1 to 6
      val crit = Map(1 -> 3.8415, 2 -> 5.9915, 3 -> 7.8147,
        4 -> 9.4877, 5 -> 11.0705, 6 -> 12.5916)
      val wk = OrderRevenue.weeklyRevenue(s, d)
        .select(col("w"), col("y").cast(DecimalType(38, 0)).as("x"))
      val wOrd = Window.orderBy(col("w"))
      val led = wk.select(
        Seq(col("w"), col("x")) ++ lags.map(k =>
          lead(col("x"), k).over(wOrd).as(s"x$k")): _*)
      val aggCols = Seq(
        count(lit(1)).as("rows"),
        min(col("w")).as("wmin"), max(col("w")).as("wmax"),
        sum(col("x")).as("s1"),
        sum(col("x") * col("x")).as("s2")) ++
        lags.flatMap(k => Seq(
          sum(col("x") * col(s"x$k")).as(s"p$k"),
          sum(when(col(s"x$k").isNotNull, col("x") + col(s"x$k")))
            .as(s"h$k")))
      val ag = led.agg(aggCols.head, aggCols.tail: _*)
        .withColumn("n",
          when(col("wmax") - col("wmin") + lit(1L) === col("rows"),
            col("rows"))
            .otherwise(raise_error(concat(
              lit("q156: week index not contiguous (rows="),
              col("rows").cast("string"), lit(", span="),
              (col("wmax") - col("wmin") + lit(1L)).cast("string"),
              lit(") — ACF over lead() would pair non-adjacent weeks")))
              .cast("long")))
      val perLag = ag.select(col("n"), col("s1"), col("s2"),
          explode(array(lags.map(k => struct(lit(k).as("lag"),
            col(s"p$k").as("p"), col(s"h$k").as("h"))): _*)).as("kr"))
        .select(col("n"), col("s1"), col("s2"),
          col("kr.lag").as("lag"), col("kr.p").as("p"), col("kr.h").as("h"))
        .withColumn("nd", col("n").cast(DecimalType(38, 0)))
        .withColumn("num",
          col("nd") * col("nd") * col("p") -
            col("nd") * col("s1") * col("h") +
            (col("nd") - col("lag").cast(DecimalType(38, 0))) *
              col("s1") * col("s1"))
        .withColumn("den",
          col("nd") * col("nd") * col("s2") -
            col("nd") * col("s1") * col("s1"))
        .withColumn("acf", col("num").cast("double") / col("den").cast("double"))
      val wLag = Window.orderBy(col("lag"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perLag
        .withColumn("lb_q",
          col("n").cast("double") * (col("n").cast("double") + lit(2.0)) *
            sum(col("acf") * col("acf") /
              (col("n").cast("double") - col("lag").cast("double")))
              .over(wLag))
        .withColumn("reject_95", col("lb_q") >
          element_at(array(lags.map(k => lit(crit(k))): _*), col("lag")))
        .select(col("lag"), col("n"), col("acf"), col("lb_q"),
          col("reject_95"))
        .orderBy(col("lag"))
    }),

    // PETTITT CHANGEPOINT — WHERE does the weekly revenue series
    // shift, if anywhere? The rank-based (distribution-free) single-
    // changepoint test: U_t = 2·Σ_{i≤t} rank(y_i) − t(n+1), K =
    // max|U_t| over t < n, changepoint at the argmax. The 2×-midrank
    // carrier keeps every U_t an EXACT integer (2·below + ties + 1
    // per row — q134/q139's stance), and the significance decision is
    // made on the exact log-p term −6K²/(n³+n²) (one division of
    // exact longs) against the hardcoded ln(0.025) literal — libm
    // exp() never enters the decision; the displayed p is rounded
    // through DECIMAL(18,12) so a last-ulp exp() divergence cannot
    // break the hash. This stationary corpus does NOT reject (p caps
    // at 1) — the honest answer, and the instrument q127's CUSUM
    // hands off to when the analyst asks "where, and is it
    // significant?". Scale shape: aggregate-first — the fact table
    // collapses to ~350 calendar-bounded weekly rows before any
    // window; the single-partition windows run over that tiny frame
    // at any SF.
    "q159_pettitt_changepoint" -> ((s, d) => {
      val wk = OrderRevenue.weeklyRevenue(s, d)
      val wVal = Window.orderBy(col("y"))
      val wValTies = Window.partitionBy(col("y"))
      val wSeq = Window.orderBy(col("w"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      val ranked = wk
        .withColumn("rk", rank().over(wVal))          // 1 + strictly-below
        .withColumn("ties", count(lit(1)).over(wValTies))
        .withColumn("r2", lit(2L) * (col("rk") - 1L) + col("ties") + 1L)
      val stats = ranked
        .withColumn("t", row_number().over(Window.orderBy(col("w"))))
        .withColumn("s2", sum(col("r2")).over(wSeq))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("u", col("s2") - col("t") * (col("n") + 1L))
        .withColumn("abs_u",
          when(col("t") < col("n"), abs(col("u"))).otherwise(lit(0L)))
        .withColumn("k_stat", max(col("abs_u")).over(wAll))
      stats
        .groupBy(col("k_stat"))
        .agg(max(col("n")).as("n"),
          min(when(col("abs_u") === col("k_stat"), col("w")))
            .as("cp_week"))
        .withColumn("log_p_term",
          lit(-6.0) * col("k_stat").cast("double") *
            col("k_stat").cast("double") /
            (col("n") * col("n") * col("n") + col("n") * col("n"))
              .cast("double"))
        .withColumn("p_approx",
          least(lit(1.0), lit(2.0) * exp(col("log_p_term")))
            .cast(DecimalType(18, 12)).cast("double"))
        .select(col("n"), col("k_stat"), col("cp_week"),
          col("log_p_term"), col("p_approx"),
          (col("log_p_term") < lit(-3.6888794541139363)).as("reject_95"))
    }),

    // WALD–WOLFOWITZ RUNS TEST — is the weekly revenue series random
    // around its median, or does it cluster (trend/cycles give few
    // long runs; oscillation gives many short ones)? The distribution-
    // free randomness check that completes q156's serial-correlation
    // view: weeks above/below the grid-rule median (ties at the
    // median excluded, the standard treatment), runs counted with one
    // lag window in week order, and z = (R − E[R])/√Var from the
    // exact m/k counts — every input to the final two divisions and
    // one sqrt is an exact long, identical sequence both engines.
    // Scale shape: identical to q159 — aggregate-first onto the
    // calendar-bounded weekly frame, tiny single-partition windows.
    "q160_runs_test" -> ((s, d) => {
      val wk = OrderRevenue.weeklyRevenue(s, d)
      val wVal = Window.orderBy(col("y"))
      val wValTies = Window.partitionBy(col("y"))
      val wAll = Window.partitionBy(lit(1))
      val med = wk
        .withColumn("rk", rank().over(wVal))
        .withColumn("ties", count(lit(1)).over(wValTies))
        .withColumn("cum_le", col("rk") + col("ties") - 1L)
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("median",
          min(when(lit(2L) * col("cum_le") >= col("n"), col("y")))
            .over(wAll))
      val signs = med
        .filter(col("y") =!= col("median"))
        .select(col("w"), (col("y") > col("median")).as("up"))
      val wSeq = Window.orderBy(col("w"))
      val runs = signs
        .withColumn("prev", lag(col("up"), 1).over(wSeq))
        .select(
          when(col("prev").isNull || col("prev") =!= col("up"), 1L)
            .otherwise(0L).as("boundary"),
          when(col("up"), 1L).otherwise(0L).as("is_up"))
        .agg(sum(col("boundary")).as("runs"),
          sum(col("is_up")).as("n_above"),
          (count(lit(1)) - sum(col("is_up"))).as("n_below"))
      runs
        .withColumn("m", col("n_above").cast("double"))
        .withColumn("k", col("n_below").cast("double"))
        .withColumn("expected_runs",
          lit(1.0) + lit(2.0) * col("m") * col("k") / (col("m") + col("k")))
        .withColumn("var_runs",
          lit(2.0) * col("m") * col("k") *
            (lit(2.0) * col("m") * col("k") - col("m") - col("k")) /
            ((col("m") + col("k")) * (col("m") + col("k")) *
              (col("m") + col("k") - lit(1.0))))
        .withColumn("z",
          (col("runs").cast("double") - col("expected_runs")) /
            sqrt(col("var_runs")))
        .select(col("n_above"), col("n_below"), col("runs"),
          col("expected_runs"), col("z"),
          (abs(col("z")) > lit(1.96)).as("reject_95"))
    }),

    // MANN–KENDALL TREND TEST — q155's significance companion: the
    // Theil–Sen slope says how steep, Mann–Kendall says whether the
    // monotone trend is real. S = Σ sign(y_j − y_i) over week pairs
    // (the same calendar-bounded pair frame as q155), tie-corrected
    // Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18, and the
    // continuity-corrected z — S, n, and the tie term are EXACT longs;
    // the only doubles are the final division and one sqrt, identical
    // sequence both engines. Stationary weekly revenue does not
    // reject in any nation here — the honest pairing with q155's
    // near-zero slopes. Scale shape: identical to q155 — aggregate
    // first to (nation, week), one materialization cut feeding the
    // pair join and the tie grid, O(weeks²) per nation at any SF.
    "q162_mann_kendall" -> ((s, d) => {
      OrderRevenue.mannKendall(s, d)
        .select(col("nation"), col("n_weeks"), col("s_stat"),
          col("var_s"), col("z"),
          (abs(col("z")) > lit(1.96)).as("reject_95"))
        .orderBy(col("nation"))
    }),

    // BENJAMINI–HOCHBERG FDR — the multiple-comparisons control the
    // 25-nation test batteries need: q162 runs 25 Mann–Kendall tests
    // at 5%, so ~1.25 nations "reject" by pure chance (exactly 1 does,
    // at both gate SFs). BH at FDR 10% ranks the two-sided p-values
    // and keeps only ranks ≤ max{k : p_(k) ≤ k·q/m} — on this
    // stationary corpus that correctly suppresses the chance
    // rejection to ZERO discoveries (spec-pinned), which is the whole
    // point of the instrument. p-values come from |z| via the
    // Zelen–Severo normal-CDF polynomial (hardcoded literals, an
    // identical double sequence both engines — no erf dependency;
    // |err| < 7.5e-8, far below any BH threshold gap), then round
    // through DECIMAL(18,12) — the q159 stance — so a last-ulp libm
    // exp() divergence can neither break the hash nor flip a
    // decision (decisions compare the ROUNDED p). Scale shape: q162's
    // [[OrderRevenue.mannKendall]] pipeline, then three windows over
    // the 25-row test battery.
    "q167_bh_fdr" -> ((s, d) => {
      val z = OrderRevenue.mannKendall(s, d)
      // Zelen–Severo 26.2.17: 1 − Φ(x) ≈ φ(x)·(b1 t + … + b5 t⁵),
      // t = 1/(1 + 0.2316419 x), x = |z| — identical sequence both
      // engines; p two-sided = 2·(1 − Φ(|z|)), rounded to 12 dp
      val withP = z
        .withColumn("x", abs(col("z")))
        .withColumn("t", lit(1.0) / (lit(1.0) + lit(0.2316419) * col("x")))
        .withColumn("phi",
          lit(0.3989422804014327) * exp(lit(-0.5) * col("x") * col("x")))
        .withColumn("poly",
          ((((lit(1.330274429) * col("t") - lit(1.821255978)) * col("t") +
            lit(1.781477937)) * col("t") - lit(0.356563782)) * col("t") +
            lit(0.319381530)) * col("t"))
        .withColumn("p",
          least(lit(1.0), lit(2.0) * col("phi") * col("poly"))
            .cast(DecimalType(18, 12)).cast("double"))
      val wRank = Window.orderBy(col("p"), col("nation"))
      val wAll = Window.partitionBy(lit(1))
      withP
        .withColumn("rank", row_number().over(wRank).cast("long"))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("bh_threshold",
          col("rank").cast("double") * lit(0.10) / col("m").cast("double"))
        .withColumn("max_k",
          max(when(col("p") <= col("bh_threshold"), col("rank")))
            .over(wAll))
        .select(col("nation"), col("z"), col("p"), col("rank"),
          col("bh_threshold"),
          coalesce(col("rank") <= col("max_k"), lit(false))
            .as("reject_fdr10"),
          (col("p") <= lit(0.05)).as("naive_reject_95"))
        .orderBy(col("rank"))
    }),

    // FORECAST BACKTEST (MASE) — one-step-ahead evaluation of three
    // forecasters on the weekly revenue series: naive (last value),
    // trailing-4-week mean, drift. MAE per model is a single division
    // of an exact long error sum; MASE divides each model's error sum
    // by the naive's ON THE SAME EVALUATION ROWS (the n cancels — one
    // division, and naive's MASE is exactly 1.0). The oscillating
    // series (q160) makes this a REAL ranking: mean4 ≈ 0.78, drift ≈
    // 1.75 at every gate SF — smoothing wins, extrapolation loses,
    // measured out-of-sample by construction (each forecast sees only
    // prior weeks). Scale shape: one fact rollup to the calendar-
    // bounded week grid, a single-partition lag window over ~350
    // rows, 3 rows out via a row-local model unpivot.
    "q176_forecast_backtest" -> ((s, d) => {
      val e = weeklyBacktest(s, d)
        .select(
          abs(col("y") - col("naive")).as("e_naive"),
          abs(col("y") - col("mean4")).as("e_mean4"),
          abs(col("y") - col("drift")).as("e_drift"))
        .agg(count(lit(1)).as("n_eval"),
          sum(col("e_naive")).as("s_naive"),
          sum(col("e_mean4")).as("s_mean4"),
          sum(col("e_drift")).as("s_drift"))
      e.select(explode(array(
          struct(lit("naive").as("model"), col("n_eval"),
            col("s_naive").as("abs_err_sum")),
          struct(lit("mean4").as("model"), col("n_eval"),
            col("s_mean4").as("abs_err_sum")),
          struct(lit("drift").as("model"), col("n_eval"),
            col("s_drift").as("abs_err_sum")))).as("m"),
          col("s_naive"))
        .select(col("m.model").as("model"), col("m.n_eval").as("n_eval"),
          col("m.abs_err_sum").as("abs_err_sum"),
          (col("m.abs_err_sum").cast("double") /
            col("m.n_eval").cast("double")).as("mae"),
          // a constant series makes the naive error sum 0 — NULL, not
          // a 0/0 NaN or x/0 Infinity (the q172/q173 zero-denominator
          // convention)
          when(col("s_naive") === 0L, lit(null).cast("double"))
            .otherwise(col("m.abs_err_sum").cast("double") /
              col("s_naive").cast("double")).as("mase"))
        .orderBy(col("model"))
    }),

    // DIEBOLD–MARIANO TEST — is mean4's loss advantage over naive
    // systematic or luck? d_t = |e_naive| − |e_mean4| is an exact
    // LONG per week (differences of integer absolute errors), so the
    // loss-differential moments S1 = Σd, S2 = Σd² are exact, the
    // sample variance (n·S2 − S1²)/(n(n−1)) and DM = d̄/√(var/n)
    // assemble in doubles with one identical-sequence division chain
    // and ONE IEEE sqrt. DM ≈ 6.5 at every gate SF — rejects hard;
    // the mean forecast's win is structural (the q160 oscillation),
    // not sampling noise. Long-range note: n·S2 holds exactly in
    // longs while the weekly |d| stays under ~8.7e6 dollars at
    // n ≈ 350 (measured 1.8e18 of 9.2e18 at sf0.1); past that, carry
    // the moments in DECIMAL(38,0)/HUGEINT (the q156 128-bit
    // carrier). Scale shape: calendar-bounded grid, map-side partial
    // aggregation to one row.
    "q177_diebold_mariano" -> ((s, d) => {
      weeklyBacktest(s, d)
        .select((abs(col("y") - col("naive")) -
          abs(col("y") - col("mean4"))).as("dt"))
        .agg(count(lit(1)).as("n_eval"),
          sum(col("dt")).as("s1"),
          sum(col("dt") * col("dt")).as("s2"))
        .withColumn("d_bar",
          col("s1").cast("double") / col("n_eval").cast("double"))
        .withColumn("var_d",
          (col("n_eval") * col("s2") - col("s1") * col("s1"))
            .cast("double") /
            (col("n_eval") * (col("n_eval") - 1L)).cast("double"))
        .withColumn("dm_stat",
          col("d_bar") /
            sqrt(col("var_d") / col("n_eval").cast("double")))
        .withColumn("reject_95", abs(col("dm_stat")) > 1.96)
        .select(col("n_eval"), col("s1"), col("d_bar"), col("var_d"),
          col("dm_stat"), col("reject_95"))
    }),

    // WILCOXON SIGNED-RANK — the rank-robust twin of q177 on the SAME
    // loss differentials: is the MEDIAN of d_t = |e_naive| − |e_mean4|
    // nonzero? Immune to the heavy loss weeks that could carry a mean
    // test alone. Zero differentials drop (the standard convention;
    // none occur at any gate SF — pre-verified), |d| values grid up
    // with signed counts, midranks stay exact integers as
    // 2·midrank = 2·below + ties + 1 (the q134 carrier), and the
    // statistic T₂ = Σ(c₊ − c₋)·2R with tie-corrected variance
    // 4·Var[T] = 2n(n+1)(2n+1)/3 − Σ(t³−t)/3 — both terms are exact
    // integer divisions (n(n+1)(2n+1) is divisible by 6, t³−t by 6),
    // so z = T₂/√Var₂ is one double division and one IEEE sqrt.
    // Scale shape: the only exchanges carry the |d| value grid
    // (calendar-bounded); one row out.
    "q178_wilcoxon_signed_rank" -> ((s, d) => {
      val dts = weeklyBacktest(s, d)
        .select((abs(col("y") - col("naive")) -
          abs(col("y") - col("mean4"))).as("dt"))
        .filter(col("dt") =!= 0L)
      val grid = dts.groupBy(abs(col("dt")).as("ad"))
        .agg(sum(when(col("dt") > 0L, 1L).otherwise(0L)).as("cpos"),
          sum(when(col("dt") < 0L, 1L).otherwise(0L)).as("cneg"))
        .withColumn("t", col("cpos") + col("cneg"))
      val wBelow = Window.orderBy(col("ad"))
        .rowsBetween(Window.unboundedPreceding, -1)
      grid
        .withColumn("below",
          coalesce(sum(col("t")).over(wBelow), lit(0L)))
        .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
        .agg(sum(col("t")).as("n_nonzero"),
          sum((col("cpos") - col("cneg")) * col("r2")).as("t2_stat"),
          sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
        .withColumn("var2", expr(
          "(2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1)) " +
            "div 3 - tie3 div 3"))
        .withColumn("z",
          col("t2_stat").cast("double") /
            sqrt(col("var2").cast("double")))
        .withColumn("reject_95", abs(col("z")) > 1.96)
        .select(col("n_nonzero"), col("t2_stat"), col("tie3"),
          col("var2"), col("z"), col("reject_95"))
    }),

    // SIEGEL REPEATED-MEDIAN SLOPE — the 50%-breakdown upgrade of
    // q155's Theil–Sen (29%): per week i, take the median of slopes
    // to every other week j, then the median of those per-week
    // medians. Each slope is ONE division of exact longs (identical
    // double both engines); both median layers use the q155
    // positional rule (smallest value at position ⌈n/2⌉ via
    // row_number, inner ties broken by the partner week index so the
    // selection is deterministic). Scale shape: the fact table
    // collapses to the calendar-bounded (nation, week) grid FIRST
    // (shared materialized carrier with q155), so the pair join is
    // grid² on ~350 weeks per nation — O(weeks²)·|nations| at ANY
    // data scale, never O(rows²).
    "q179_siegel_slope" -> ((s, d) => {
      val wk = OrderRevenue.nationWeeklyRevenue(s, d)
      // the selection thresholds are knowable without counting inside
      // the pair frame: every week has exactly n_weeks − 1 partners
      // and every nation has n_weeks per-week medians — a broadcast
      // 25-row join replaces two count-window passes over the
      // grid² pair frame
      val weeks = wk.groupBy(col("nk"))
        .agg(count(lit(1)).as("n_weeks"))
      // pair fan-out through a BROADCAST self-join (the checkpointed
      // grid has no size stats, so the planner sort-merge-joined it),
      // and both median layers by ROW-LOCAL sort_array selection in
      // place of the two stacked row_number windows: structs sort
      // lexicographically, so sort_array(struct(slope, wj)) is exactly
      // the (slope, wj) window order and element_at picks the same
      // deterministic positions — ⌈(n_weeks−1)/2⌉ = n_weeks div 2 per
      // week, ⌈n_weeks/2⌉ = (n_weeks+1) div 2 per nation. The per-key
      // lists partial-aggregate map-side and the two full-pair-frame
      // window sorts disappear (guide §2.4/§2.3; measured at sf0.1:
      // window tail 7.3–7.6 s → 1.8–2.4 s from the grid).
      // Round 13: the STREAMED side is pre-partitioned on the
      // (nk, w) group key — an exchange of the dimension-sized grid
      // that the broadcast pair join preserves and the per-week
      // groupBy(nk, wi) then reuses, so the grid² (slope, wj) struct
      // frame itself never crosses a shuffle (it was this query's
      // dominant exchange, ~50 of 75 shuffle-MB at sf0.1; the cut's
      // LogicalRDD exposes no partitioning, so this must be explicit).
      wk.repartition(col("nk"), col("w")).as("a")
        .join(broadcast(wk.as("b")),
          col("a.nk") === col("b.nk") && col("a.w") =!= col("b.w"))
        .select(col("a.nk").as("nk"), col("a.w").as("wi"),
          ((col("b.y") - col("a.y")).cast("double") /
            (col("b.w") - col("a.w")).cast("double")).as("slope"),
          col("b.w").as("wj"))
        .groupBy(col("nk"), col("wi"))
        .agg(sort_array(collect_list(struct(col("slope"), col("wj"))))
          .as("sl"))
        .join(broadcast(weeks), "nk")
        .select(col("nk"), col("n_weeks"), col("wi"),
          element_at(col("sl"), expr("CAST(n_weeks div 2 AS INT)"))
            .getField("slope").as("med_i"))
        .groupBy(col("nk"))
        .agg(max(col("n_weeks")).as("n_weeks"),
          sort_array(collect_list(struct(col("med_i"), col("wi"))))
            .as("ml"))
        .join(broadcast(OrderRevenue.nationNames(s, d)), "nk")
        .select(col("nation"), col("n_weeks"),
          element_at(col("ml"), expr("CAST((n_weeks + 1) div 2 AS INT)"))
            .getField("med_i").as("siegel_slope"))
        .orderBy(col("nation"))
    }),

    // TWO-PREDICTOR OLS (exact normal equations) — the multivariate
    // extension of q58's single-feature fit: per-order revenue
    // regressed on item count AND total discount points, solved in
    // closed form via Cramer's rule on CENTERED 128-bit moments
    // (n·Sxx − Sx² etc., the q156 DECIMAL(38,0)/HUGEINT carrier;
    // row-level products stay in longs, every cross-combination is
    // measured ≤ 1.2e28 at sf0.1 — ten orders of headroom in
    // precision 38). The finding is the decomposition: basket size
    // carries the revenue (β₁ ≈ 52,900 $/item, R² = 0.74) while the
    // discount coefficient is near-zero — the q146 "noise column"
    // lesson, now measured as a partial effect. Divisions happen ONLY
    // at the final β/R² projections (DuckDB surfaces HUGEINT moments
    // through the VARCHAR→DOUBLE route, the q150 rule). Scale shape:
    // one fact scan, one per-order rollup exchange, map-side partial
    // aggregation of 10 moments to a single row.
    "q183_multiple_regression" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("x1"),
          sum(expr("CAST(round(l_discount * 100) AS BIGINT)")).as("x2"),
          expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) " +
            "div 100").as("y"))
      val m = per.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("x1").cast(dec)).as("s1"),
        sum(col("x2").cast(dec)).as("s2"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x1") * col("x1")).cast(dec)).as("s11"),
        sum((col("x2") * col("x2")).cast(dec)).as("s22"),
        sum((col("x1") * col("x2")).cast(dec)).as("s12"),
        sum((col("x1") * col("y")).cast(dec)).as("s1y"),
        sum((col("x2") * col("y")).cast(dec)).as("s2y"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
      m.select(col("n"),
          (col("n") * col("s11") - col("s1") * col("s1")).as("m11"),
          (col("n") * col("s22") - col("s2") * col("s2")).as("m22"),
          (col("n") * col("s12") - col("s1") * col("s2")).as("m12"),
          (col("n") * col("s1y") - col("s1") * col("sy")).as("b1v"),
          (col("n") * col("s2y") - col("s2") * col("sy")).as("b2v"),
          (col("n") * col("syy") - col("sy") * col("sy")).as("syy_c"),
          col("s1"), col("s2"), col("sy"))
        .withColumn("det",
          col("m11") * col("m22") - col("m12") * col("m12"))
        .withColumn("beta1",
          (col("m22") * col("b1v") - col("m12") * col("b2v"))
            .cast("double") / col("det").cast("double"))
        .withColumn("beta2",
          (col("m11") * col("b2v") - col("m12") * col("b1v"))
            .cast("double") / col("det").cast("double"))
        .withColumn("beta0",
          (col("sy").cast("double") -
            col("beta1") * col("s1").cast("double") -
            col("beta2") * col("s2").cast("double")) /
            col("n").cast("double"))
        .withColumn("r2",
          (col("beta1") * col("b1v").cast("double") +
            col("beta2") * col("b2v").cast("double")) /
            col("syy_c").cast("double"))
        .select(col("n").cast("long").as("n_orders"), col("beta0"),
          col("beta1"), col("beta2"), col("r2"))
    }),

    // WALK-FORWARD OLS BACKTEST — the regression member of the
    // temporal-cross-validation family (q145 backtests quantile
    // bounds, q176 point forecasts): for every week past a burn-in of
    // 8, fit y = α + β·w on the PRIOR weeks only and predict the
    // current one — leakage-safe by construction. The expanding
    // moments are exact longs off ONE cumulative window frame
    // (rowsBetween(-∞, -1) — the fit never sees its target), β and α
    // are single divisions, and the naive |y − y_prev| error rides
    // along as the per-week scale reference (q176's denominator).
    // The per-week prediction frame IS the deliverable — no
    // cross-row float sum exists to sequence. Scale shape: the fact
    // table collapses to the calendar-bounded week grid before the
    // single-partition windows (the q156 aggregate-first stance).
    "q188_walkforward_ols" -> ((s, d) => {
      val wk = OrderRevenue.weeklyRevenue(s, d)
      val wPrior = Window.orderBy(col("w"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wLag = Window.orderBy(col("w"))
      wk
        .withColumn("cn", coalesce(count(col("y")).over(wPrior), lit(0L)))
        .withColumn("sx", coalesce(sum(col("w")).over(wPrior), lit(0L)))
        .withColumn("sy", coalesce(sum(col("y")).over(wPrior), lit(0L)))
        .withColumn("sxx",
          coalesce(sum(col("w") * col("w")).over(wPrior), lit(0L)))
        .withColumn("sxy",
          coalesce(sum(col("w") * col("y")).over(wPrior), lit(0L)))
        .withColumn("y_prev", lag(col("y"), 1).over(wLag))
        .filter(col("cn") >= 8L)
        .withColumn("beta",
          (col("cn") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("cn") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))
        .withColumn("alpha",
          (col("sy").cast("double") -
            col("beta") * col("sx").cast("double")) /
            col("cn").cast("double"))
        .withColumn("yhat",
          col("alpha") + col("beta") * col("w").cast("double"))
        .withColumn("abs_err", abs(col("y").cast("double") - col("yhat")))
        .withColumn("abs_err_naive", abs(col("y") - col("y_prev")))
        .select(col("w"), col("y"), col("yhat"), col("abs_err"),
          col("abs_err_naive"))
        .orderBy(col("w"))
    }),

    // HOLT-WINTERS additive seasonal forecast (period 7 = day-of-week,
    // the structure q92 measured) over the dense daily revenue series —
    // the seasonal upgrade of q176's naive/mean/drift backtest family:
    // level+trend+seasonal state folded through the whole series, then
    // a 7-day-ahead forecast with in-sample one-step RMSE. WHY IT
    // HASH-MATCHES: the fold is a SEQUENTIAL left fold with a fixed
    // operation order (Spark `aggregate` HOF == DuckDB recursive CTE,
    // operation-for-operation), IEEE doubles are correctly rounded, and
    // the smoothing constants are dyadic (alpha=1/4, beta=gamma=1/8) —
    // q133's identical-left-fold rule, q104's dyadic-EWMA rule. Init:
    // level = week-1 mean, trend = (week-2 mean − week-1 mean)/7,
    // seasonals = two-week average deviations; fold starts at day 15.
    // Scale: the series is CALENDAR-bounded (~2.4k days regardless of
    // data volume) — the only data-sized work is the per-day partial
    // aggregate; the fold is one row.
    "q189_holt_winters" -> ((s, d) => {
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("cents"))
      val series = daily
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
      // NL (new level) and ERR are textually duplicated because SQL
      // lambdas have no lets — identical expressions give identical
      // doubles, so the duplication is semantically free
      val nl = "(0.25D * (y - element_at(st.s, (st.i % 7) + 1)) " +
        "+ 0.75D * (st.lvl + st.trd))"
      val err = "(y - ((st.lvl + st.trd) + element_at(st.s, (st.i % 7) + 1)))"
      series
        .agg(expr("transform(sort_array(collect_list(struct(day, cents)))" +
          ", x -> CAST(x.cents AS DOUBLE))").as("a"))
        .withColumn("n", expr("size(a)"))
        .withColumn("m1", expr(
          "((((((element_at(a,1)+element_at(a,2))+element_at(a,3))" +
            "+element_at(a,4))+element_at(a,5))+element_at(a,6))" +
            "+element_at(a,7)) / 7.0D"))
        .withColumn("m2", expr(
          "((((((element_at(a,8)+element_at(a,9))+element_at(a,10))" +
            "+element_at(a,11))+element_at(a,12))+element_at(a,13))" +
            "+element_at(a,14)) / 7.0D"))
        .withColumn("trd0", expr("(m2 - m1) / 7.0D"))
        .withColumn("s0", expr("transform(sequence(1, 7), " +
          "j -> ((element_at(a, j) - m1) " +
          "+ (element_at(a, j + 7) - m2)) / 2.0D)"))
        .withColumn("st", expr(s"""
          aggregate(
            slice(a, 15, n - 14),
            named_struct('lvl', m1, 'trd', trd0, 's', s0,
              'i', 14, 'sse', 0.0D),
            (st, y) -> named_struct(
              'lvl', $nl,
              'trd', 0.125D * ($nl - st.lvl) + 0.875D * st.trd,
              's', transform(st.s, (v, j) -> IF(j = st.i % 7,
                     0.125D * (y - $nl) + 0.875D * v, v)),
              'i', st.i + 1,
              'sse', st.sse + $err * $err))"""))
        .withColumn("fc", expr("transform(sequence(1, 7), " +
          "h -> st.lvl + CAST(h AS DOUBLE) * st.trd " +
          "+ element_at(st.s, ((st.i + h - 1) % 7) + 1))"))
        .select(col("n"), col("st"), posexplode(col("fc")))
        .select((col("pos") + 1).cast("long").as("h"),
          (col("col") / 100.0).as("forecast"),
          (col("st.lvl") / 100.0).as("level"),
          (col("st.trd") / 100.0).as("trend"),
          expr("sqrt(st.sse / CAST(n - 14 AS DOUBLE)) / 100.0D")
            .as("rmse"))
        .orderBy(col("h"))
    }),

    // CROSTON'S METHOD — the intermittent-demand member of the forecast
    // family (q176 assumes a dense series; q189 assumes seasonality;
    // neither is right for a slow-moving SKU whose daily demand is
    // mostly zeros): separate exponential smoothing of demand SIZE and
    // demand INTERVAL, updated only on demand days, forecast = size /
    // interval per day. Series: part 1's zero-filled daily shipped
    // quantity over the full lineitem calendar. Same cross-engine
    // identity argument as q189 (fixed-order fold, dyadic alpha = 1/4,
    // integer inputs); NULL rate when the part never ships (q176's
    // zero-denominator convention). Scale: one partkey-filtered partial
    // aggregate (filter pushed to the scan), calendar-bounded fold.
    "q190_croston" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val daily = li.filter(col("l_partkey") === 1)
        .groupBy(col("l_shipdate").cast("date").as("day"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
      val series = li
        .agg(min(col("l_shipdate").cast("date")).as("lo"),
          max(col("l_shipdate").cast("date")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("qty"), lit(0L)).as("qty"))
      series
        .agg(expr("transform(sort_array(collect_list(struct(day, qty)))" +
          ", x -> CAST(x.qty AS DOUBLE))").as("a"))
        .withColumn("n", expr("size(a)"))
        .withColumn("tot", expr("aggregate(a, 0.0D, (acc, y) -> acc + y)"))
        .withColumn("st", expr("""
          aggregate(a,
            named_struct('z', 0.0D, 'p', 0.0D, 'q', 1,
              'seen', false, 'nd', 0),
            (st, y) -> named_struct(
              'z', CASE WHEN y > 0.0D THEN (CASE WHEN st.seen
                     THEN st.z + 0.25D * (y - st.z) ELSE y END)
                   ELSE st.z END,
              'p', CASE WHEN y > 0.0D THEN (CASE WHEN st.seen
                     THEN st.p + 0.25D * (CAST(st.q AS DOUBLE) - st.p)
                     ELSE CAST(st.q AS DOUBLE) END)
                   ELSE st.p END,
              'q', CASE WHEN y > 0.0D THEN 1 ELSE st.q + 1 END,
              'seen', st.seen OR y > 0.0D,
              'nd', st.nd + CASE WHEN y > 0.0D THEN 1 ELSE 0 END))"""))
        .select(col("n").cast("long").as("n_days"),
          col("st.nd").cast("long").as("n_demands"),
          expr("CASE WHEN st.seen THEN st.z END").as("demand_size"),
          expr("CASE WHEN st.seen THEN st.p END").as("mean_interval"),
          expr("CASE WHEN st.seen THEN st.z / st.p END")
            .as("croston_rate"),
          expr("tot / CAST(n AS DOUBLE)").as("exact_rate"))
    }),

    // SEASONAL / TREND STRENGTH (the Hyndman STL-strength numbers) of
    // the daily revenue series — the diagnostic that says whether
    // q189's seasonal state or its trend state is doing the work:
    // trend via a centered 7-day moving average, seasonality via
    // per-day-of-week means of the detrended series, strengths =
    // 1 − Var(remainder)/Var(previous stage). EXACTNESS DESIGN: every
    // per-row quantity is an exact integer (detrended·7 = 7y − window
    // sum; the MA division never happens row-wise), all sums ride the
    // DECIMAL(38,0)/HUGEINT carrier (order-free), the seasonal means
    // enter only as Σ_j S_j²/n_j — computed per DOW as ONE double
    // multiply+divide of exact inputs and combined in a FIXED 7-term
    // parenthesization via a conditional pivot (never a parallel
    // double sum); Σ remainder is exactly zero by construction so
    // Var(r) = (Σd² − Σ_j S_j²/n_j)/N. Scale: one per-day partial
    // aggregate; the MA window runs over the calendar grid (q115's
    // bounded class); everything after is a 7-row frame.
    "q191_seasonal_strength" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val daily = Tables.orders(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("cents"))
      val grid = daily
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
      val wDay = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val interior = grid
        .withColumn("wsum", sum(col("cents")).over(wDay))
        .withColumn("wcnt", count(lit(1)).over(wDay))
        .filter(col("wcnt") === 7)
        .select((dayofweek(col("day")) - 1).cast("long").as("dow"),
          (col("cents") * 7).as("y7"),
          (col("cents") * 7 - col("wsum")).as("d7"))
      val perDow = interior.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_j"),
          sum(col("d7").cast(dec)).as("s_j"),
          sum((col("d7").cast(dec) * col("d7").cast(dec)).cast(dec))
            .as("sdd_j"),
          sum(col("y7").cast(dec)).as("sy_j"),
          sum((col("y7").cast(dec) * col("y7").cast(dec)).cast(dec))
            .as("syy_j"))
        // B_j = S_j²/n_j: S_j < 2^53 so the double is exact; one
        // multiply + one divide, both correctly rounded
        .withColumn("b_j",
          col("s_j").cast("double") * col("s_j").cast("double")
            / col("n_j").cast("double"))
      val bCols = (0 to 6).map(j =>
        max(when(col("dow") === j, col("b_j"))).as(s"b$j"))
      val aggs = Seq(
        sum(col("n_j")).as("n"),
        sum(col("s_j")).as("sd"), sum(col("sdd_j")).as("sdd"),
        sum(col("sy_j")).as("sy"), sum(col("syy_j")).as("syy")) ++ bCols
      perDow.agg(aggs.head, aggs.tail: _*)
        .withColumn("sum_b",
          expr("(((((b0 + b1) + b2) + b3) + b4) + b5) + b6"))
        .withColumn("nd", col("n").cast("double"))
        .withColumn("var_y",
          (col("syy").cast("double") - col("sy").cast("double")
            * col("sy").cast("double") / col("nd")) / col("nd"))
        .withColumn("var_d",
          (col("sdd").cast("double") - col("sd").cast("double")
            * col("sd").cast("double") / col("nd")) / col("nd"))
        .withColumn("var_r",
          (col("sdd").cast("double") - col("sum_b")) / col("nd"))
        .select(col("n").cast("long").as("n_days"),
          greatest(lit(0.0), lit(1.0) - col("var_d") / col("var_y"))
            .as("trend_strength"),
          greatest(lit(0.0), lit(1.0) - col("var_r") / col("var_d"))
            .as("seasonal_strength"),
          col("var_y"), col("var_d"), col("var_r"))
    }),

    // CHOW STRUCTURAL-BREAK TEST — does ONE revenue trend line fit the
    // whole ~7-year weekly series, or do the two halves want different
    // lines? Fit y~w pooled and per half (split at the series midpoint
    // week, data-derived), F = ((RSS_p − RSS₁ − RSS₂)/2) /
    // ((RSS₁+RSS₂)/(n−4)); decision via the asymptotic 2F ~ χ²₂ 95%
    // literal (5.991464547107979 — parses to the identical double in
    // both engines). SCALE-DEPENDENT finding (the q187 class): the
    // break is invisible in the thinned series (F = 0.37/0.18 at
    // sf0.001/0.01) and rejects at sf0.1 (F = 3.63) — the two halves
    // of the dense series really do carry different slopes, which is
    // also why q193's residual autocorrelation appears only there.
    // All six moment sets come from ONE pass with conditional sums;
    // every centered combo is exact DECIMAL(38,0)/HUGEINT (n·Syy ≈
    // 6e18 at sf0.1 — past long range, the q187 lesson pre-applied).
    // Base moments accumulate in DECIMAL, with the y² product itself
    // computed decimal-first (y.cast(dec) * y): the long Σy² would
    // overflow near sf1 and per-row y² near sf50; neither bound
    // exists now (DuckDB's SUM(BIGINT)→HUGEINT twin was always exact).
    // Scale shape: fact rows collapse to the calendar-bounded week
    // grid first; the midpoint min/max window and the 19-sum
    // aggregate both run over ~350 rows at ANY scale.
    "q192_chow_test" -> ((s, d) => {
      val wAll = Window.partitionBy(lit(1))
      val seg = OrderRevenue.weeklyRevenue(s, d)
        .withColumn("wmin", min(col("w")).over(wAll))
        .withColumn("wmax", max(col("w")).over(wAll))
        .withColumn("mid", expr("(wmin + wmax + 1) div 2"))
      def mm(p: Column, sfx: String) = Seq(
        sum(when(p, 1L).otherwise(0L)).cast(dec).as("n" + sfx),
        sum(when(p, col("w")).otherwise(0L)).cast(dec).as("sx" + sfx),
        sum(when(p, col("y")).otherwise(0L)).cast(dec).as("sy" + sfx),
        sum(when(p, col("w") * col("w")).otherwise(0L).cast(dec))
          .as("sxx" + sfx),
        sum(when(p, col("w") * col("y")).otherwise(0L).cast(dec))
          .as("sxy" + sfx),
        sum(when(p, col("y").cast(dec) * col("y")).otherwise(0L).cast(dec))
          .as("syy" + sfx))
      val sums = mm(lit(true), "p") ++ mm(col("w") < col("mid"), "1") ++
        mm(col("w") >= col("mid"), "2") :+ max(col("mid")).as("mid")
      val m = seg.agg(sums.head, sums.tail: _*)
      def combos(sfx: String) = Seq(
        (col("n" + sfx) * col("syy" + sfx) -
          col("sy" + sfx) * col("sy" + sfx)).as("a" + sfx),
        (col("n" + sfx) * col("sxy" + sfx) -
          col("sx" + sfx) * col("sy" + sfx)).as("b" + sfx),
        (col("n" + sfx) * col("sxx" + sfx) -
          col("sx" + sfx) * col("sx" + sfx)).as("c" + sfx))
      m.select(Seq(col("np"), col("n1"), col("n2"), col("mid")) ++
          combos("p") ++ combos("1") ++ combos("2"): _*)
        .withColumn("rss_pooled",
          rssCol(col("np"), col("ap"), col("bp"), col("cp")))
        .withColumn("rss_1", rssCol(col("n1"), col("a1"), col("b1"), col("c1")))
        .withColumn("rss_2", rssCol(col("n2"), col("a2"), col("b2"), col("c2")))
        .withColumn("rss_split", col("rss_1") + col("rss_2"))
        .withColumn("f_stat",
          ((col("rss_pooled") - col("rss_1") - col("rss_2")) / lit(2.0)) /
            (col("rss_split") /
              (col("np").cast("double") - lit(4.0))))
        .select(col("np").cast("long").as("n_weeks"),
          col("mid").as("split_week"),
          col("rss_pooled"), col("rss_split"), col("f_stat"),
          (lit(2.0) * col("f_stat") > lit(5.991464547107979))
            .as("reject_95"))
    }),

    // DURBIN–WATSON — are the OLS residuals of the weekly trend fit
    // independent? DW = Σ(Δe)²/Σe² computed WITHOUT materializing a
    // single residual: Δe = Δy − β·Δw expands to exact long sums
    // (ΣΔy², Σ(Δy·Δw), ΣΔw² — gap weeks enter through Δw, so sf0.001's
    // 7 calendar gaps need no contiguity guard, unlike q156's ACF),
    // and Σe² = (a − b²/c)/n from the same centered-moment carrier as
    // q192. Measured: DW ≈ 2.01/2.03 at sf0.001/0.01 (independent) but
    // 1.56 at sf0.1 (ρ ≈ +0.22) — POSITIVE residual autocorrelation in
    // the dense series, the classic signature of a misspecified mean
    // (same-sign residual stretches on either side of the break q192
    // detects at exactly and only that SF). Scale shape: one fact
    // rollup to the week grid, one single-partition lag window over
    // ~350 rows, one 9-sum aggregate row.
    "q193_durbin_watson" -> ((s, d) => {
      val wSeq = Window.orderBy(col("w"))
      val b0 = OrderRevenue.weeklyRevenue(s, d)
        .withColumn("dy", col("y") - lag(col("y"), 1).over(wSeq))
        .withColumn("dx", col("w") - lag(col("w"), 1).over(wSeq))
      b0.agg(
          count(lit(1)).cast(dec).as("n"),
          sum(col("w")).cast(dec).as("sx"),
          sum(col("y")).cast(dec).as("sy"),
          sum((col("w") * col("w")).cast(dec)).as("sxx"),
          sum((col("w") * col("y")).cast(dec)).as("sxy"),
          sum(col("y").cast(dec) * col("y")).as("syy"),
          sum(col("dy").cast(dec) * col("dy")).as("sdd"),
          sum((col("dy") * col("dx")).cast(dec)).as("sdx"),
          sum((col("dx") * col("dx")).cast(dec)).as("sxx2"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("rss", rssCol(col("n"),
          col("n") * col("syy") - col("sy") * col("sy"),
          col("n") * col("sxy") - col("sx") * col("sy"),
          col("n") * col("sxx") - col("sx") * col("sx")))
        .withColumn("dw",
          (col("sdd").cast("double") -
            lit(2.0) * col("slope") * col("sdx").cast("double") +
            col("slope") * col("slope") * col("sxx2").cast("double")) /
            col("rss"))
        .withColumn("rho_approx", lit(1.0) - col("dw") / lit(2.0))
        .select(col("n").cast("long").as("n_weeks"), col("slope"),
          col("dw"), col("rho_approx"))
    }),

    // PARTIAL CORRELATION — which order-shape correlations survive
    // controlling the third variable? On the q111 per-order carrier
    // (a = line count, b = total quantity, r = revenue dollars):
    // r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) from the three
    // pairwise Pearson r's, each assembled from exact centered
    // DECIMAL(38,0) moments in one pass. The finding mirrors q183's
    // partial-effect decomposition from the correlation side:
    // quantity~revenue (raw r = 0.74) collapses to ≈ 0 given line
    // count — total quantity predicts revenue ONLY through how many
    // lines an order has — while lines~revenue keeps r ≈ 0.65 given
    // quantity (each line contributes price mass beyond its units).
    // Scale shape: one per-order
    // rollup exchange, ten moments map-side-combined to a single row,
    // a 3-row unpivot out.
    "q194_partial_corr" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("a"),
          sum(expr("CAST(round(l_quantity) AS BIGINT)")).as("b"),
          expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT)) div 100")
            .as("r"))
      val m = per.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("a")).cast(dec).as("sa"),
        sum(col("b")).cast(dec).as("sb"),
        sum(col("r")).cast(dec).as("sr"),
        sum(col("a") * col("a")).cast(dec).as("saa"),
        sum(col("b") * col("b")).cast(dec).as("sbb"),
        sum(col("r") * col("r")).cast(dec).as("srr"),
        sum(col("a") * col("b")).cast(dec).as("sab"),
        sum(col("a") * col("r")).cast(dec).as("sar"),
        sum(col("b") * col("r")).cast(dec).as("sbr"))
      def cv(x: String, y: String) =
        (col("n") * col(s"s$x$y") - col(s"s$x") * col(s"s$y")).cast("double")
      def vv(x: String) =
        (col("n") * col(s"s$x$x") - col(s"s$x") * col(s"s$x")).cast("double")
      def rr(x: String, y: String) = {
        val (lo, hi) = if (x <= y) (x, y) else (y, x)
        cv(lo, hi) / (sqrt(vv(x)) * sqrt(vv(y)))
      }
      def partial(x: String, y: String, z: String) =
        (rr(x, y) - rr(x, z) * rr(y, z)) /
          sqrt((lit(1.0) - rr(x, z) * rr(x, z)) *
            (lit(1.0) - rr(y, z) * rr(y, z)))
      m.select(col("n").cast("long").as("n_orders"), explode(array(
          struct(lit("lines").as("var_a"), lit("quantity").as("var_b"),
            lit("revenue").as("control"), rr("a", "b").as("r_raw"),
            partial("a", "b", "r").as("r_partial")),
          struct(lit("lines").as("var_a"), lit("revenue").as("var_b"),
            lit("quantity").as("control"), rr("a", "r").as("r_raw"),
            partial("a", "r", "b").as("r_partial")),
          struct(lit("quantity").as("var_a"), lit("revenue").as("var_b"),
            lit("lines").as("control"), rr("b", "r").as("r_raw"),
            partial("b", "r", "a").as("r_partial")))).as("p"))
        .select(col("n_orders"), col("p.var_a").as("var_a"),
          col("p.var_b").as("var_b"), col("p.control").as("control"),
          col("p.r_raw").as("r_raw"), col("p.r_partial").as("r_partial"))
        .orderBy(col("var_a"), col("var_b"))
    }),

    // LEVERAGE + COOK'S DISTANCE — which weeks does the trend fit
    // hinge on? Per week t: leverage h_t = 1/n + (n·w_t − Sx)²/(n·c)
    // and Cook's D_t = e_t²·h_t/(2·s²(1−h_t)²), with n·e_t =
    // (n·y_t − Sy) − β·(n·w_t − Sx) — every ingredient an exact long
    // (row-side) or exact decimal combo (moment-side), β and s² =
    // RSS/(n−2) the only doubles, assembled in one fixed sequence.
    // Emits the top-10 most influential weeks (deterministic: doubles
    // are bit-identical cross-engine, ties broken by week). Influence
    // concentrates where revenue spikes sit at the series edges — the
    // weeks an analyst should eyeball before trusting q58's slope.
    // Scale shape: moments via single-partition window sums over the
    // ~350-row calendar grid (q159's allowlisted class), top-10 via
    // TakeOrdered, never a full sort.
    "q195_influence" -> ((s, d) => {
      val st = OrderRevenue.weeklyOlsMoments(s, d)
        .withColumn("rss",
          (col("aa").cast("double") -
            col("bb").cast("double") * col("bb").cast("double") /
              col("cc").cast("double")) / col("n").cast("double"))
        .withColumn("s2",
          col("rss") / (col("n") - lit(2L)).cast("double"))
        .withColumn("v", col("n") * col("w") - col("sx"))
        .withColumn("u", col("n") * col("y") - col("sy"))
        .withColumn("resid",
          (col("u").cast("double") - col("beta") * col("v").cast("double")) /
            col("n").cast("double"))
        .withColumn("leverage",
          lit(1.0) / col("n").cast("double") +
            (col("v") * col("v")).cast("double") /
              (col("n") * col("cc")).cast("double"))
        .withColumn("cook_d",
          (col("resid") * col("resid") * col("leverage")) /
            (lit(2.0) * col("s2") * (lit(1.0) - col("leverage")) *
              (lit(1.0) - col("leverage"))))
      st.select(col("w"), col("y"), col("resid"), col("leverage"),
          col("cook_d"))
        .orderBy(col("cook_d").desc, col("w"))
        .limit(10)
    }),

    // SUP-F (QUANDT) BREAK LOCALIZATION — q192 assumes the break sits
    // at the series midpoint; this finds it: the Chow F computed at
    // EVERY candidate split week (15%–85% trimming) from ONE
    // cumulative-moment window pass — prefix sums give segment 1's
    // moments, totals-minus-prefix give segment 2's, so all ~240
    // candidate fits cost one window sort, not 240 scans. Decision
    // literal 5.86 = the QLR 5% critical value for q = 2 restrictions
    // at 15% trimming (F form). sup-F ≥ the midpoint F by
    // construction; ties on the max break at the earliest week.
    // Measured: sup-F = 2.37/5.27/5.42 across the gate SFs, never
    // clearing 5.86 — the proper search-penalized test does NOT
    // confirm the break q192's fixed-midpoint χ² flags at sf0.1
    // (F = 3.63 there), and the argmax week is unstable across SFs
    // (423/403/207): a marginal, poorly-localized break — exactly
    // the distinction sup-F exists to draw. Same exact
    // DECIMAL(38,0)/HUGEINT carrier discipline as q192. Scale shape:
    // everything after the fact rollup runs over the ~350-row
    // calendar grid (two single-partition windows + one aggregate).
    "q198_supf_break" -> ((s, d) => {
      val wOrd = Window.orderBy(col("w"))
      val wSeq = wOrd.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      val st = OrderRevenue.weeklyRevenue(s, d)
        .withColumn("t", row_number().over(wOrd).cast("long"))
        .withColumn("csx", sum(col("w")).over(wSeq))
        .withColumn("csy", sum(col("y")).over(wSeq))
        .withColumn("csxx", sum(col("w") * col("w")).over(wSeq))
        .withColumn("csxy", sum((col("w") * col("y")).cast(dec)).over(wSeq))
        .withColumn("csyy", sum(col("y").cast(dec) * col("y")).over(wSeq))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("tsx", sum(col("w")).over(wAll))
        .withColumn("tsy", sum(col("y")).over(wAll))
        .withColumn("tsxx", sum(col("w") * col("w")).over(wAll))
        .withColumn("tsxy", sum((col("w") * col("y")).cast(dec)).over(wAll))
        .withColumn("tsyy", sum(col("y").cast(dec) * col("y")).over(wAll))
      def seg(nc: Column, sx: Column, sy: Column, sxx: Column,
          sxy: Column, syy: Column) = (
        (nc.cast(dec) * syy - sy.cast(dec) * sy.cast(dec)),
        (nc.cast(dec) * sxy.cast(dec) - sx.cast(dec) * sy.cast(dec)),
        (nc.cast(dec) * sxx.cast(dec) - sx.cast(dec) * sx.cast(dec)))
      val withF = {
        val (a1, b1, c1) = seg(col("t"), col("csx"), col("csy"),
          col("csxx"), col("csxy"), col("csyy"))
        val (a2, b2, c2) = seg(col("n") - col("t"),
          col("tsx") - col("csx"), col("tsy") - col("csy"),
          col("tsxx") - col("csxx"), col("tsxy") - col("csxy"),
          col("tsyy") - col("csyy"))
        val (ap, bp, cp) = seg(col("n"), col("tsx"), col("tsy"),
          col("tsxx"), col("tsxy"), col("tsyy"))
        val rss1 = rssCol(col("t"), a1, b1, c1)
        val rss2 = rssCol(col("n") - col("t"), a2, b2, c2)
        val rssP = rssCol(col("n"), ap, bp, cp)
        st.withColumn("f",
          when(lit(100L) * col("t") >= lit(15L) * col("n") &&
               lit(100L) * col("t") <= lit(85L) * col("n"),
            ((rssP - rss1 - rss2) / lit(2.0)) /
              ((rss1 + rss2) / (col("n").cast("double") - lit(4.0)))))
          .withColumn("sup_f", max(col("f")).over(wAll))
      }
      withF
        .groupBy(col("sup_f"))
        .agg(max(col("n")).as("n_weeks"),
          sum(when(col("f").isNotNull, 1L).otherwise(0L))
            .as("n_candidates"),
          min(when(col("f") === col("sup_f"), col("w")))
            .as("break_week"))
        .select(col("n_weeks"), col("n_candidates"), col("break_week"),
          col("sup_f"),
          (col("sup_f") > lit(5.86)).as("reject_95"))
    }),

    // NEWEY–WEST (HAC) STANDARD ERRORS — q193 measured positive
    // residual autocorrelation at sf0.1 (ρ ≈ +0.22); this prices it:
    // the trend slope's OLS, HC0 (White), and HAC (Bartlett kernel,
    // L = 4) standard errors side by side. With v = n(x−x̄) and
    // n·ê = u − βv from exact longs, Var_HC0(β) = Σv²ê²/C² and
    // Var_HAC adds 2(1−l/5)·Σ q_t q_{t−l} lag terms over the
    // score series q = v·ê (lags over the OBSERVED sequence, the
    // q193 gap contract). Score products are intrinsically-float
    // (no libm) and sum through DECIMAL(38,6) — order-free, and
    // scale 6 keeps Σ|q²| ≈ 2e25 far inside precision 38 where a
    // (38,15) cast would overflow. Measured: the robust/OLS SE ratio
    // grows with scale exactly as q192/q193's structure does —
    // 1.00/1.04/1.39 at the three gate SFs — and at sf0.1 the
    // inflation is almost all HC0 (5433 vs 5469 HAC of a 3925 OLS
    // SE): the break-induced residual-variance structure, not the
    // ρ ≈ 0.22 lag correlation, is what the naive SE misprices.
    // Scale shape: the q195 window-moment frame over the ~350-row
    // grid, 4 lag columns, one aggregate row.
    "q199_hac_se" -> ((s, d) => {
      val dec6 = org.apache.spark.sql.types.DecimalType(38, 6)
      val wOrd = Window.orderBy(col("w"))
      val st = OrderRevenue.weeklyOlsMoments(s, d)
        .withColumn("v", col("n") * col("w") - col("sx"))
        .withColumn("u", col("n") * col("y") - col("sy"))
        .withColumn("eh",
          (col("u").cast("double") - col("beta") * col("v").cast("double")) /
            col("n").cast("double"))
        .withColumn("q", col("v").cast("double") * col("eh"))
      val lagged = (1 to 4).foldLeft(st)((df, l) =>
        df.withColumn(s"q$l", lag(col("q"), l).over(wOrd)))
      val m = lagged.agg(
        max(col("n")).as("n"),
        max(col("cc")).as("cc"),
        max(col("bb")).as("bb"),
        max(col("aa")).as("aa"),
        sum((col("q") * col("q")).cast(dec6)).cast("double").as("s0"),
        sum((col("q") * col("q1")).cast(dec6)).cast("double").as("s1"),
        sum((col("q") * col("q2")).cast(dec6)).cast("double").as("s2"),
        sum((col("q") * col("q3")).cast(dec6)).cast("double").as("s3"),
        sum((col("q") * col("q4")).cast(dec6)).cast("double").as("s4"))
      m.withColumn("beta",
          col("bb").cast("double") / col("cc").cast("double"))
        .withColumn("rss",
          (col("aa").cast("double") -
            col("bb").cast("double") * col("bb").cast("double") /
              col("cc").cast("double")) / col("n").cast("double"))
        .withColumn("se_ols",
          sqrt((col("rss") / (col("n") - lit(2L)).cast("double")) *
            col("n").cast("double") / col("cc").cast("double")))
        .withColumn("se_hc0",
          sqrt(col("s0") /
            (col("cc").cast("double") * col("cc").cast("double"))))
        .withColumn("se_hac",
          sqrt((col("s0") +
            lit(2.0) * lit(0.8) * col("s1") +
            lit(2.0) * lit(0.6) * col("s2") +
            lit(2.0) * lit(0.4) * col("s3") +
            lit(2.0) * lit(0.2) * col("s4")) /
            (col("cc").cast("double") * col("cc").cast("double"))))
        .select(col("n").cast("long").as("n_weeks"), col("beta"),
          col("se_ols"), col("se_hc0"), col("se_hac"),
          (col("beta") / col("se_ols")).as("t_ols"),
          (col("beta") / col("se_hac")).as("t_hac"))
    }),

    // GRANGER CAUSALITY (both directions, one lag frame) — does
    // weekly order COUNT help forecast weekly REVENUE beyond
    // revenue's own lag, and vice versa? Unrestricted y_t ~ (y_{t-1},
    // x_{t-1}) vs restricted y_t ~ y_{t-1}; F = (RSS_r − RSS_u) /
    // (RSS_u/(n−3)). Both directions SHARE the regressor pair
    // (y_{t-1}, x_{t-1}) — only the target differs — so one 14-moment
    // aggregate feeds two Cramer solves (the q183 centered
    // DECIMAL(38,0) algebra; divisions only at the final
    // projections). The finding: the two series are near-collinear
    // proxies (orders ARE revenue on this generator), so each
    // direction's cross-lag adds little beyond the own lag — F small
    // vs F(1, n−3) ≈ 3.87 — the "correlation is not incremental
    // predictability" lesson measured. Scale shape: one fact-join
    // exchange to the ~350-row grid, one lag window over the grid,
    // 14 moments map-side-combined to a single row.
    "q200_granger_causality" -> ((s: SparkSession, d: String) =>
      grangerFromWeekly(OrderRevenue.weeklyPair(s, d))),

    // ENGLE–GRANGER COINTEGRATION — do weekly revenue and weekly
    // order count share ONE stochastic trend? Stage 1 fits the levels
    // (y on x, exact moments); stage 2 runs the Dickey–Fuller
    // regression Δe_t on e_{t-1} over the stage-1 residuals. The
    // trick that keeps it cross-engine exact: the residual sums
    // Σe²_{t-1}, Σe_{t-1}e_t, Σe²_t EXPAND into 15 lagged
    // integer cross-moments (e = y − a − bx is affine, so every
    // product is a fixed polynomial in a, b and exact sums) — no
    // per-row residual ever materializes, so there is nothing to
    // quantize; a and b are the only doubles and both engines
    // assemble them through the identical expression sequence
    // (staged CTEs on the DuckDB side, the q194 repeated-
    // subexpression rule). The finding: orders and revenue are
    // cointegrated by construction (every order contributes both),
    // and the EG t ≈ −13 rejects no-cointegration at any table
    // value — the measured counterpart of q200's "the cross-lag adds
    // nothing": the two series are one trend, so differencing either
    // against the other is stationary. Scale shape: one fact-join
    // exchange to the ~350-row grid, one lag window over the grid,
    // 21 moments map-side-combined to a single row, two broadcast
    // 1-row frames crossed.
    "q201_engle_granger" -> ((s: SparkSession, d: String) => {
      val wk = OrderRevenue.weeklyPair(s, d)
      val wSeq = Window.orderBy(col("w"))
      val lagf = wk
        .withColumn("yl", lag(col("yv"), 1).over(wSeq))
        .withColumn("xl", lag(col("xv"), 1).over(wSeq))
        .filter(col("yl").isNotNull)
      val m1 = wk.agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("xv").cast(dec)).as("sx"),
        sum(col("yv").cast(dec)).as("sy"),
        sum(col("xv").cast(dec) * col("xv")).as("sxx"),
        sum(col("xv").cast(dec) * col("yv")).as("sxy"),
        sum(col("yv").cast(dec) * col("yv")).as("syy"))
      val m2 = lagf.agg(
        count(lit(1)).cast(dec).as("np"),
        sum(col("yl").cast(dec)).as("syl"),
        sum(col("yv").cast(dec)).as("syc"),
        sum(col("xl").cast(dec)).as("sxl"),
        sum(col("xv").cast(dec)).as("sxc"),
        sum(col("yl").cast(dec) * col("yl")).as("syll"),
        sum(col("yv").cast(dec) * col("yv")).as("sycc"),
        sum(col("xl").cast(dec) * col("xl")).as("sxll"),
        sum(col("xv").cast(dec) * col("xv")).as("sxcc"),
        sum(col("xl").cast(dec) * col("yl")).as("sxyl"),
        sum(col("xv").cast(dec) * col("yv")).as("sxyc"),
        sum(col("yl").cast(dec) * col("yv")).as("sylc"),
        sum(col("yl").cast(dec) * col("xv")).as("sylxc"),
        sum(col("xl").cast(dec) * col("yv")).as("sxlyc"),
        sum(col("xl").cast(dec) * col("xv")).as("sxlc"))
      def D(c: String): org.apache.spark.sql.Column = col(c).cast("double")
      m1.crossJoin(broadcast(m2))
        .withColumn("b",
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("a",
          (D("sy") - col("b") * D("sx")) / D("n"))
        .withColumn("r2_levels",
          ((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy")))
            .cast("double") /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))
              .cast("double"))
        .withColumn("s_ll",
          D("syll") - lit(2.0) * col("b") * D("sxyl") +
            col("b") * col("b") * D("sxll") -
            lit(2.0) * col("a") * D("syl") +
            lit(2.0) * col("a") * col("b") * D("sxl") +
            col("a") * col("a") * D("np"))
        .withColumn("s_cc",
          D("sycc") - lit(2.0) * col("b") * D("sxyc") +
            col("b") * col("b") * D("sxcc") -
            lit(2.0) * col("a") * D("syc") +
            lit(2.0) * col("a") * col("b") * D("sxc") +
            col("a") * col("a") * D("np"))
        .withColumn("s_lc",
          D("sylc") - col("b") * (D("sylxc") + D("sxlyc")) +
            col("b") * col("b") * D("sxlc") -
            col("a") * (D("syl") + D("syc")) +
            col("a") * col("b") * (D("sxl") + D("sxc")) +
            col("a") * col("a") * D("np"))
        .withColumn("phi", (col("s_lc") - col("s_ll")) / col("s_ll"))
        .withColumn("d2",
          (col("s_cc") - lit(2.0) * col("s_lc")) + col("s_ll"))
        .withColumn("s2",
          (col("d2") - col("phi") * (col("s_lc") - col("s_ll"))) /
            (D("np") - lit(1.0)))
        .withColumn("t_eg",
          col("phi") / sqrt(col("s2") / col("s_ll")))
        .select(col("n").cast("long").as("n_weeks"),
          col("np").cast("long").as("n_lag"),
          col("a").as("alpha"), col("b").as("beta"),
          col("r2_levels"), col("phi"), col("t_eg"))
    }),

    // PAGE–HINKLEY drift: scale shape — one fact-keyed day rollup
    // (map-side combine), then every window runs over the CALENDAR
    // DAY GRID (~2.4k rows at any data scale); the (S_K, K) baseline
    // is a 1-row broadcast. Alarm fires iff the mean since the
    // calibration window has sagged/run above μ0 + δ by more than
    // λ = 10·μ0 of accumulated deficit.
    "q202_page_hinkley" -> ((s, d) => {
      val daily = dailyRevenue(s, d)
      val wSeq = Window.orderBy(col("day"))
      val wPre = wSeq.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val ord = daily
        .withColumn("t", row_number().over(wSeq))
        .withColumn("p", sum(col("x").cast(dec)).over(wPre))
      val base = ord.filter(col("t") <= 30)
        .agg(sum(col("x").cast(dec)).as("sk"),
          count(lit(1)).cast(dec).as("k"))
      ord.crossJoin(broadcast(base))
        .withColumn("mt",
          lit(200).cast(dec) * col("k") * col("p") -
            lit(201).cast(dec) * col("t").cast(dec) * col("sk"))
        .withColumn("e", col("mt") - min(col("mt")).over(wPre))
        .select(
          date_add(to_date(lit("1970-01-01")), col("day"))
            .cast("string").as("dt"),
          col("x").as("revenue_cents"),
          (col("e").cast("double") /
            (lit(200.0) * col("k").cast("double"))).as("ph_cents"),
          (col("e") > lit(2000).cast(dec) * col("sk")).as("is_alarm"))
        .orderBy(col("dt"))
    }))

  def oracleSql: Map[String, String] = Map(

    // HUGEINT moments are DuckDB's exact-128-bit twin of Spark's
    // DECIMAL(38,0); both cast exact integers to double before the same
    // IEEE op sequence, so slope/intercept match bit-for-bit
    "q58_group_linear_fit" ->
      """WITH t AS (SELECT l_returnflag,
           CAST(round(l_quantity * 100) AS HUGEINT) AS xc,
           CAST(round(l_extendedprice * 100) AS HUGEINT) AS yc
           FROM lineitem),
         a AS (SELECT l_returnflag, COUNT(1) AS n,
           SUM(xc) AS sx, SUM(yc) AS sy,
           SUM(xc * xc) AS sxx, SUM(xc * yc) AS sxy
           FROM t GROUP BY l_returnflag)
         SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n * 100 AS DOUBLE) AS intercept
         FROM a ORDER BY l_returnflag""",

    "q60_gapfill_locf" ->
      """WITH e AS (SELECT *, date_trunc('hour', ts) AS hr FROM events),
         hourly AS (SELECT user_id, hr, COUNT(1) AS n,
                      MAX(event_id) AS last_eid,
                      arg_max(event_type, event_id) AS last_type
                    FROM e GROUP BY 1, 2),
         bounds AS (SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi
                    FROM hourly GROUP BY 1),
         grid AS (SELECT user_id,
                    UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
                  FROM bounds)
         SELECT g.user_id, g.hr, COALESCE(h.n, 0) AS n,
                last_value(h.last_eid IGNORE NULLS) OVER w AS locf_eid,
                last_value(h.last_type IGNORE NULLS) OVER w AS locf_type
         FROM grid g LEFT JOIN hourly h
           ON h.user_id = g.user_id AND h.hr = g.hr
         WINDOW w AS (PARTITION BY g.user_id ORDER BY g.hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY g.user_id, g.hr""",

    "q88_wow_trend" ->
      """WITH wk AS (SELECT o_orderpriority,
                            CAST(date_trunc('week', o_orderdate) AS TIMESTAMP)
                              AS week,
                            SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS rev_cents
                     FROM orders GROUP BY 1, 2),
         lagged AS (SELECT *, lag(rev_cents, 1) OVER (
                      PARTITION BY o_orderpriority ORDER BY week)
                      AS prev_cents FROM wk)
         SELECT o_orderpriority, week,
                CAST(rev_cents AS DOUBLE) / 100.0 AS rev,
                CAST(prev_cents AS DOUBLE) / 100.0 AS prev_rev,
                CAST(rev_cents - prev_cents AS DOUBLE)
                  / CAST(prev_cents AS DOUBLE) AS wow_pct
         FROM lagged ORDER BY o_orderpriority, week""",

    "q92_dow_seasonality" ->
      """WITH o AS (SELECT date_part('dow', o_orderdate) AS dow,
             CAST(o_orderdate AS DATE) AS day,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         byd AS (SELECT dow, COUNT(DISTINCT day) AS n_days,
                        CAST(SUM(cents) AS BIGINT) AS cents
                 FROM o GROUP BY 1),
         tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tot_cents,
                        CAST(SUM(n_days) AS BIGINT) AS tot_days
                 FROM byd)
         SELECT CAST(dow AS BIGINT) AS dow, n_days,
                CAST(cents AS DOUBLE) / 100.0 AS revenue,
                CAST(cents AS DOUBLE) / CAST(n_days AS DOUBLE) / 100.0
                  AS daily_avg,
                (CAST(cents AS DOUBLE) / CAST(n_days AS DOUBLE))
                  / (CAST(tot_cents AS DOUBLE) / CAST(tot_days AS DOUBLE))
                  AS seasonal_index
         FROM byd, tot ORDER BY dow""",

    "q104_ewma_revenue" -> {
      val num = (1 to 7).map(j =>
        s"COALESCE(lag(cents, $j) OVER w, 0) * ${1L << (7 - j)}")
        .mkString("cents * 128 + ", " + ", "")
      val den = (1 to 7).map(j =>
        s"CASE WHEN lag(cents, $j) OVER w IS NULL THEN 0 ELSE ${1L << (7 - j)} END")
        .mkString("128 + ", " + ", "")
      s"""WITH weekly AS (SELECT r_name,
             CAST(datediff('day', DATE '1970-01-01', o_orderdate) // 7
               AS BIGINT) AS wk,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, wk, CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST($num AS DOUBLE)
             / (CAST($den AS DOUBLE) * 100.0) AS ewma_revenue
         FROM weekly
         WINDOW w AS (PARTITION BY r_name ORDER BY wk)
         ORDER BY r_name, wk"""
    },

    "q108_seasonal_anomaly" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS dt,
             CAST(hour(ts) AS INT) AS hr FROM events),
         cnts AS (SELECT dt, hr, COUNT(1) AS cnt FROM ev GROUP BY 1, 2),
         grid AS (SELECT CAST(gs.g AS DATE) AS dt, h.hr
           FROM (SELECT unnest(generate_series(
                   (SELECT MIN(dt) FROM ev),
                   (SELECT MAX(dt) FROM ev),
                   INTERVAL 1 DAY)) AS g) gs
           CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS hr) h),
         full_cells AS (SELECT grid.dt, CAST(grid.hr AS INT) AS hr,
             CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt,
             CAST(datediff('day', DATE '1970-01-01', grid.dt) % 7
               AS INT) AS dow
           FROM grid LEFT JOIN cnts
             ON grid.dt = cnts.dt AND grid.hr = cnts.hr),
         scored AS (SELECT dt, hr, dow, cnt,
             CAST(COUNT(1) OVER w AS BIGINT) AS n,
             CAST(SUM(cnt) OVER w AS BIGINT) AS s,
             CAST(SUM(CAST(cnt AS HUGEINT) * cnt) OVER w AS HUGEINT)
               AS ss
           FROM full_cells
           WINDOW w AS (PARTITION BY dow, hr))
         SELECT CAST(dt AS VARCHAR) AS dt, hr, dow, cnt,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           CAST(CAST(n AS HUGEINT) * cnt - s AS DOUBLE)
             / sqrt(CAST(CAST(n AS HUGEINT) * ss
                 - CAST(s AS HUGEINT) * s AS DOUBLE)) AS z
         FROM scored
         WHERE CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s > 0
           AND (CAST(n AS HUGEINT) * cnt - s)
             * (CAST(n AS HUGEINT) * cnt - s)
             > 2 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
         ORDER BY dt, hr""",

    "q120_linear_interpolation" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
             CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM events GROUP BY 1, 2),
         seg AS (SELECT user_id, us, cents,
             lead(us) OVER w AS nu, lead(cents) OVER w AS nc
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY us)),
         g AS (SELECT user_id, us, cents, nu, nc,
             UNNEST(generate_series(us // 3600000000 + 1,
               nu // 3600000000)) AS hidx
           FROM seg
           WHERE nu IS NOT NULL
             AND us // 3600000000 + 1 <= nu // 3600000000)
         SELECT user_id, CAST(hidx AS BIGINT) AS hour_idx,
           (CAST(cents AS DOUBLE) + CAST(nc - cents AS DOUBLE)
             * (CAST(hidx * 3600000000 - us AS DOUBLE)
                / CAST(nu - us AS DOUBLE))) / 100.0 AS value_interp
         FROM g ORDER BY user_id, hour_idx""",

    // the same prefix-sum-minus-running-min identity, exact BIGINT
    // arithmetic scaled by 10n so the mean's division never happens
    "q127_cusum_drift" ->
      s"""WITH $DailyRevenueCte,
         tot AS (SELECT COUNT(1) AS n, CAST(SUM(x) AS BIGINT) AS t
           FROM daily),
         dev AS (SELECT day, x, n, t, 10 * n * x - 11 * t AS y
           FROM daily CROSS JOIN tot),
         pre AS (SELECT day, x, n, t,
             CAST(SUM(y) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
           FROM dev),
         cus AS (SELECT day, x, n, t,
             p - LEAST(CAST(0 AS BIGINT), CAST(MIN(p) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS BIGINT)) AS s
           FROM pre)
         SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS VARCHAR)
             AS dt,
           x AS revenue_cents,
           CAST(s AS DOUBLE) / (10.0 * CAST(n AS DOUBLE))
             AS cusum_cents,
           s > 20 * t AS is_drift
         FROM cus ORDER BY dt""",

    "q131_theil_sen_trend" ->
      """WITH monthly AS (SELECT n_name AS nation,
        |      (year(CAST(o_orderdate AS DATE)) - 1995) * 12 +
        |        month(CAST(o_orderdate AS DATE)) - 1 AS mon,
        |      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
        |        AS BIGINT) AS cents
        |    FROM orders JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey
        |    GROUP BY 1, 2),
        |  pairs AS (SELECT a.nation,
        |      CAST(b.cents - a.cents AS DOUBLE) /
        |        CAST(b.mon - a.mon AS DOUBLE) AS slope
        |    FROM monthly a JOIN monthly b
        |      ON a.nation = b.nation AND a.mon < b.mon),
        |  ranked AS (SELECT nation, slope,
        |      ROW_NUMBER() OVER (PARTITION BY nation ORDER BY slope)
        |        AS rn,
        |      COUNT(1) OVER (PARTITION BY nation) AS np
        |    FROM pairs),
        |  ts AS (SELECT nation, MAX(np) AS n_pairs,
        |      SUM(slope) / COUNT(1) AS ts_slope_cents
        |    FROM ranked
        |    WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        |    GROUP BY 1),
        |  mom AS (SELECT nation, COUNT(1) AS n_months,
        |      CAST(SUM(mon) AS BIGINT) AS sx,
        |      CAST(SUM(cents) AS BIGINT) AS sy,
        |      CAST(SUM(mon * cents) AS BIGINT) AS sxy,
        |      CAST(SUM(mon * mon) AS BIGINT) AS sxx
        |    FROM monthly GROUP BY 1),
        |  ols AS (SELECT nation, n_months,
        |      CAST(n_months * sxy - sx * sy AS DOUBLE) /
        |        CAST(n_months * sxx - sx * sx AS DOUBLE)
        |        AS ols_slope_cents
        |    FROM mom)
        |SELECT o.nation, o.n_months, t.n_pairs, t.ts_slope_cents,
        |  o.ols_slope_cents
        |FROM ols o JOIN ts t ON o.nation = t.nation
        |ORDER BY o.nation""".stripMargin,

    "q145_quantile_coverage" ->
      """WITH wk AS (SELECT
        |    CAST(datediff('day', DATE '1992-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) // 7 AS wk,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |  grid AS (SELECT wk, cents, CAST(COUNT(1) AS BIGINT) AS cnt
        |    FROM wk GROUP BY 1, 2),
        |  pri AS (SELECT wk + off AS twk, cents, cnt
        |    FROM grid, UNNEST(generate_series(1, 8)) AS t(off)),
        |  pg AS (SELECT twk, cents, CAST(SUM(cnt) AS BIGINT) AS pcnt
        |    FROM pri GROUP BY 1, 2),
        |  cm AS (SELECT twk, cents, pcnt,
        |    CAST(SUM(pcnt) OVER (PARTITION BY twk ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(pcnt) OVER (PARTITION BY twk) AS BIGINT) AS tot
        |  FROM pg),
        |  bounds AS (SELECT twk, MAX(tot) AS n_prior,
        |    MIN(CASE WHEN 10 * cum >= tot THEN cents END) AS p10,
        |    MIN(CASE WHEN 10 * cum >= 9 * tot THEN cents END) AS p90
        |  FROM cm GROUP BY 1),
        |  cov AS (SELECT g.wk, b.n_prior, b.p10, b.p90,
        |    CAST(SUM(g.cnt) AS BIGINT) AS n_cur,
        |    CAST(SUM(CASE WHEN g.cents >= b.p10 AND g.cents <= b.p90
        |      THEN g.cnt ELSE 0 END) AS BIGINT) AS n_inside
        |  FROM grid g JOIN bounds b ON g.wk = b.twk
        |  GROUP BY 1, 2, 3, 4)
        |SELECT wk, n_prior, p10, p90, n_cur, n_inside,
        |  CAST(n_inside AS DOUBLE) / CAST(n_cur AS DOUBLE) AS coverage
        |FROM cov
        |ORDER BY wk""".stripMargin,

    "q155_theil_sen" ->
      s"""WITH ${OrderRevenue.nationWeeklyRevenueSql},
        |  sl AS (SELECT a.nation,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.w - a.w AS DOUBLE) AS slope
        |  FROM wk a JOIN wk b ON a.nation = b.nation AND a.w < b.w),
        |  sm AS (SELECT nation, slope,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY slope)
        |      AS BIGINT) AS rn,
        |    CAST(COUNT(1) OVER (PARTITION BY nation) AS BIGINT) AS np
        |  FROM sl),
        |  ts AS (SELECT nation, MAX(np) AS n_pairs,
        |    MIN(CASE WHEN 2 * rn >= np THEN slope END) AS ts_slope
        |  FROM sm GROUP BY 1),
        |  wc AS (SELECT nation, CAST(COUNT(1) AS BIGINT) AS n_weeks
        |    FROM wk GROUP BY 1)
        |SELECT t.nation, w.n_weeks, t.n_pairs, t.ts_slope
        |FROM ts t JOIN wc w ON t.nation = w.nation
        |ORDER BY t.nation""".stripMargin,

    "q156_acf_ljung_box" ->
      """WITH wk AS (SELECT
        |    datediff('day', DATE '1992-01-01', o.o_orderdate) // 7 AS w,
        |    CAST(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) // 100 AS HUGEINT) AS x
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1),
        |  led AS (SELECT x,
        |    lead(x, 1) OVER (ORDER BY w) AS x1,
        |    lead(x, 2) OVER (ORDER BY w) AS x2,
        |    lead(x, 3) OVER (ORDER BY w) AS x3,
        |    lead(x, 4) OVER (ORDER BY w) AS x4,
        |    lead(x, 5) OVER (ORDER BY w) AS x5,
        |    lead(x, 6) OVER (ORDER BY w) AS x6
        |  FROM wk),
        |  ag AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(x) AS s1, SUM(x * x) AS s2,
        |    SUM(x * x1) AS p1,
        |    SUM(CASE WHEN x1 IS NOT NULL THEN x + x1 END) AS h1,
        |    SUM(x * x2) AS p2,
        |    SUM(CASE WHEN x2 IS NOT NULL THEN x + x2 END) AS h2,
        |    SUM(x * x3) AS p3,
        |    SUM(CASE WHEN x3 IS NOT NULL THEN x + x3 END) AS h3,
        |    SUM(x * x4) AS p4,
        |    SUM(CASE WHEN x4 IS NOT NULL THEN x + x4 END) AS h4,
        |    SUM(x * x5) AS p5,
        |    SUM(CASE WHEN x5 IS NOT NULL THEN x + x5 END) AS h5,
        |    SUM(x * x6) AS p6,
        |    SUM(CASE WHEN x6 IS NOT NULL THEN x + x6 END) AS h6
        |  FROM led),
        |  lg AS (
        |    SELECT n, s1, s2, 1 AS lag, p1 AS p, h1 AS h FROM ag
        |    UNION ALL SELECT n, s1, s2, 2, p2, h2 FROM ag
        |    UNION ALL SELECT n, s1, s2, 3, p3, h3 FROM ag
        |    UNION ALL SELECT n, s1, s2, 4, p4, h4 FROM ag
        |    UNION ALL SELECT n, s1, s2, 5, p5, h5 FROM ag
        |    UNION ALL SELECT n, s1, s2, 6, p6, h6 FROM ag),
        |  st AS (SELECT CAST(n AS BIGINT) AS n, lag,
        |    n * n * p - n * s1 * h + (n - lag) * s1 * s1 AS num,
        |    n * n * s2 - n * s1 * s1 AS den
        |  FROM lg),
        |  rr AS (SELECT n, lag,
        |    CAST(CAST(num AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(den AS VARCHAR) AS DOUBLE) AS acf
        |  FROM st),
        |  lb AS (SELECT n, lag, acf,
        |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) *
        |      SUM(acf * acf / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)))
        |        OVER (ORDER BY lag
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS lb_q
        |  FROM rr)
        |SELECT lag, n, acf, lb_q,
        |  lb_q > CASE lag WHEN 1 THEN 3.8415 WHEN 2 THEN 5.9915
        |    WHEN 3 THEN 7.8147 WHEN 4 THEN 9.4877 WHEN 5 THEN 11.0705
        |    ELSE 12.5916 END AS reject_95
        |FROM lb ORDER BY lag""".stripMargin,

    "q159_pettitt_changepoint" ->
      s"""WITH ${OrderRevenue.weeklyRevenueSql},
        |  rk AS (SELECT w,
        |    CAST(RANK() OVER (ORDER BY y) AS BIGINT) AS rk,
        |    CAST(COUNT(1) OVER (PARTITION BY y) AS BIGINT) AS ties
        |  FROM wk),
        |  r2 AS (SELECT w, 2 * (rk - 1) + ties + 1 AS r2 FROM rk),
        |  st AS (SELECT w,
        |    CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT) AS t,
        |    CAST(SUM(r2) OVER (ORDER BY w
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS s2,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS n
        |  FROM r2),
        |  au AS (SELECT w, n,
        |    CASE WHEN t < n THEN abs(s2 - t * (n + 1)) ELSE 0 END AS abs_u
        |  FROM st),
        |  kk AS (SELECT w, n, abs_u,
        |    CAST(MAX(abs_u) OVER () AS BIGINT) AS k_stat FROM au),
        |  fin AS (SELECT k_stat, MAX(n) AS n,
        |    MIN(CASE WHEN abs_u = k_stat THEN w END) AS cp_week
        |  FROM kk GROUP BY 1),
        |  lp AS (SELECT n, k_stat, cp_week,
        |    -6.0 * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE) /
        |      CAST(n * n * n + n * n AS DOUBLE) AS log_p_term
        |  FROM fin)
        |SELECT n, k_stat, cp_week, log_p_term,
        |  CAST(CAST(least(1.0, 2.0 * exp(log_p_term)) AS DECIMAL(18,12))
        |    AS DOUBLE) AS p_approx,
        |  log_p_term < -3.6888794541139363 AS reject_95
        |FROM lp""".stripMargin,

    "q160_runs_test" ->
      s"""WITH ${OrderRevenue.weeklyRevenueSql},
        |  md AS (SELECT w, y,
        |    CAST(RANK() OVER (ORDER BY y) AS BIGINT) +
        |      CAST(COUNT(1) OVER (PARTITION BY y) AS BIGINT) - 1
        |      AS cum_le,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS n
        |  FROM wk),
        |  m2 AS (SELECT w, y,
        |    MIN(CASE WHEN 2 * cum_le >= n THEN y END) OVER () AS median
        |  FROM md),
        |  sg AS (SELECT w, (y > median) AS up FROM m2 WHERE y <> median),
        |  bd AS (SELECT
        |    CASE WHEN lag(up) OVER (ORDER BY w) IS NULL
        |      OR lag(up) OVER (ORDER BY w) <> up THEN 1 ELSE 0 END
        |      AS boundary,
        |    CASE WHEN up THEN 1 ELSE 0 END AS is_up
        |  FROM sg),
        |  ag AS (SELECT CAST(SUM(boundary) AS BIGINT) AS runs,
        |    CAST(SUM(is_up) AS BIGINT) AS n_above,
        |    CAST(COUNT(1) - SUM(is_up) AS BIGINT) AS n_below
        |  FROM bd),
        |  dd AS (SELECT runs, n_above, n_below,
        |    CAST(n_above AS DOUBLE) AS m, CAST(n_below AS DOUBLE) AS k
        |  FROM ag),
        |  ee AS (SELECT runs, n_above, n_below, m, k,
        |    1.0 + 2.0 * m * k / (m + k) AS expected_runs,
        |    2.0 * m * k * (2.0 * m * k - m - k) /
        |      ((m + k) * (m + k) * (m + k - 1.0)) AS var_runs
        |  FROM dd)
        |SELECT n_above, n_below, runs, expected_runs,
        |  (CAST(runs AS DOUBLE) - expected_runs) / sqrt(var_runs) AS z,
        |  abs((CAST(runs AS DOUBLE) - expected_runs) / sqrt(var_runs))
        |    > 1.96 AS reject_95
        |FROM ee""".stripMargin,

    "q162_mann_kendall" ->
      s"""WITH ${OrderRevenue.mannKendallSql},
        |  ti AS (SELECT nation, CAST(COUNT(1) AS BIGINT) AS n_values,
        |    CAST(SUM(c) AS BIGINT) AS n_weeks,
        |    CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY 1),
        |  vv AS (SELECT s.nation, t.n_weeks, s.s_stat,
        |    CAST(t.n_weeks * (t.n_weeks - 1) * (2 * t.n_weeks + 5)
        |      - t.tie_term AS DOUBLE) / 18.0 AS var_s
        |  FROM sa s JOIN ti t ON s.nation = t.nation)
        |SELECT nation, n_weeks, s_stat, var_s,
        |  CASE WHEN s_stat > 0
        |      THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |    WHEN s_stat < 0
        |      THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |    ELSE 0.0 END AS z,
        |  abs(CASE WHEN s_stat > 0
        |      THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |    WHEN s_stat < 0
        |      THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |    ELSE 0.0 END) > 1.96 AS reject_95
        |FROM vv ORDER BY nation""".stripMargin,

    "q167_bh_fdr" ->
      s"""WITH ${OrderRevenue.mannKendallSql},
        |  ti AS (SELECT nation, CAST(SUM(c) AS BIGINT) AS n_weeks,
        |    CAST(SUM(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term
        |  FROM tg GROUP BY 1),
        |  vv AS (SELECT s.nation, s.s_stat,
        |    CAST(t.n_weeks * (t.n_weeks - 1) * (2 * t.n_weeks + 5)
        |      - t.tie_term AS DOUBLE) / 18.0 AS var_s
        |  FROM sa s JOIN ti t ON s.nation = t.nation),
        |  zz AS (SELECT nation,
        |    CASE WHEN s_stat > 0
        |        THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |      WHEN s_stat < 0
        |        THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |      ELSE 0.0 END AS z
        |  FROM vv),
        |  px AS (SELECT nation, z, abs(z) AS x,
        |    1.0 / (1.0 + 0.2316419 * abs(z)) AS t,
        |    0.3989422804014327 * exp(-0.5 * abs(z) * abs(z)) AS phi
        |  FROM zz),
        |  pp AS (SELECT nation, z,
        |    CAST(CAST(least(1.0, 2.0 * phi *
        |      (((((1.330274429 * t - 1.821255978) * t +
        |        1.781477937) * t - 0.356563782) * t +
        |        0.319381530) * t)) AS DECIMAL(18,12)) AS DOUBLE) AS p
        |  FROM px),
        |  rk AS (SELECT nation, z, p,
        |    CAST(ROW_NUMBER() OVER (ORDER BY p, nation) AS BIGINT)
        |      AS rank,
        |    CAST(COUNT(1) OVER () AS BIGINT) AS m
        |  FROM pp),
        |  th AS (SELECT nation, z, p, rank,
        |    CAST(rank AS DOUBLE) * 0.10 / CAST(m AS DOUBLE)
        |      AS bh_threshold
        |  FROM rk),
        |  mk AS (SELECT *,
        |    MAX(CASE WHEN p <= bh_threshold THEN rank END) OVER ()
        |      AS max_k
        |  FROM th)
        |SELECT nation, z, p, rank, bh_threshold,
        |  COALESCE(rank <= max_k, false) AS reject_fdr10,
        |  p <= 0.05 AS naive_reject_95
        |FROM mk ORDER BY rank""".stripMargin,

    "q176_forecast_backtest" ->
      (backtestCte +
        """,
          |  e AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_eval,
          |    CAST(SUM(ABS(y - naive)) AS BIGINT) AS s_naive,
          |    CAST(SUM(ABS(y - mean4)) AS BIGINT) AS s_mean4,
          |    CAST(SUM(ABS(y - drift)) AS BIGINT) AS s_drift
          |  FROM f),
          |  m AS (SELECT UNNEST(['naive', 'mean4', 'drift']) AS model,
          |    UNNEST([s_naive, s_mean4, s_drift]) AS abs_err_sum,
          |    n_eval, s_naive
          |  FROM e)
          |SELECT model, n_eval, abs_err_sum,
          |  CAST(abs_err_sum AS DOUBLE) / CAST(n_eval AS DOUBLE)
          |    AS mae,
          |  CASE WHEN s_naive = 0 THEN NULL
          |    ELSE CAST(abs_err_sum AS DOUBLE) / CAST(s_naive AS DOUBLE)
          |  END AS mase
          |FROM m
          |ORDER BY model""".stripMargin),

    "q177_diebold_mariano" ->
      (backtestCte +
        """,
          |  dd AS (SELECT ABS(y - naive) - ABS(y - mean4) AS dt
          |    FROM f),
          |  ag AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_eval,
          |    CAST(SUM(dt) AS BIGINT) AS s1,
          |    CAST(SUM(dt * dt) AS BIGINT) AS s2
          |  FROM dd),
          |  st AS (SELECT n_eval, s1,
          |    CAST(s1 AS DOUBLE) / CAST(n_eval AS DOUBLE) AS d_bar,
          |    CAST(n_eval * s2 - s1 * s1 AS DOUBLE) /
          |      CAST(n_eval * (n_eval - 1) AS DOUBLE) AS var_d
          |  FROM ag),
          |  fin AS (SELECT n_eval, s1, d_bar, var_d,
          |    d_bar / sqrt(var_d / CAST(n_eval AS DOUBLE)) AS dm_stat
          |  FROM st)
          |SELECT n_eval, s1, d_bar, var_d, dm_stat,
          |  ABS(dm_stat) > 1.96 AS reject_95
          |FROM fin""".stripMargin),

    "q178_wilcoxon_signed_rank" ->
      (backtestCte +
        """,
          |  dd AS (SELECT ABS(y - naive) - ABS(y - mean4) AS dt
          |    FROM f WHERE ABS(y - naive) - ABS(y - mean4) != 0),
          |  grid AS (SELECT ABS(dt) AS ad,
          |    CAST(SUM(CASE WHEN dt > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS cpos,
          |    CAST(SUM(CASE WHEN dt < 0 THEN 1 ELSE 0 END) AS BIGINT)
          |      AS cneg
          |  FROM dd GROUP BY 1),
          |  rk AS (SELECT ad, cpos, cneg, cpos + cneg AS t,
          |    COALESCE(CAST(SUM(cpos + cneg) OVER (ORDER BY ad
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |      AS BIGINT), 0) AS below
          |  FROM grid),
          |  ag AS (SELECT CAST(SUM(t) AS BIGINT) AS n_nonzero,
          |    CAST(SUM((cpos - cneg) * (2 * below + t + 1)) AS BIGINT)
          |      AS t2_stat,
          |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
          |  FROM rk),
          |  st AS (SELECT n_nonzero, t2_stat, tie3,
          |    (2 * n_nonzero * (n_nonzero + 1) * (2 * n_nonzero + 1))
          |      // 3 - tie3 // 3 AS var2
          |  FROM ag),
          |  fin AS (SELECT n_nonzero, t2_stat, tie3, var2,
          |    CAST(t2_stat AS DOUBLE) / sqrt(CAST(var2 AS DOUBLE)) AS z
          |  FROM st)
          |SELECT n_nonzero, t2_stat, tie3, var2, z,
          |  ABS(z) > 1.96 AS reject_95
          |FROM fin""".stripMargin),

    "q179_siegel_slope" ->
      s"""WITH ${OrderRevenue.nationWeeklyRevenueSql},
        |  sl AS (SELECT a.nation, a.w AS wi, b.w AS wj,
        |    CAST(b.y - a.y AS DOUBLE) / CAST(b.w - a.w AS DOUBLE)
        |      AS slope
        |  FROM wk a JOIN wk b ON a.nation = b.nation AND a.w != b.w),
        |  sm AS (SELECT nation, wi, slope,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY nation, wi
        |      ORDER BY slope, wj) AS BIGINT) AS rn,
        |    CAST(COUNT(1) OVER (PARTITION BY nation, wi) AS BIGINT)
        |      AS np
        |  FROM sl),
        |  pw AS (SELECT nation, wi,
        |    MIN(CASE WHEN 2 * rn >= np THEN slope END) AS med_i
        |  FROM sm GROUP BY 1, 2),
        |  om AS (SELECT nation, med_i,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY nation
        |      ORDER BY med_i, wi) AS BIGINT) AS rn,
        |    CAST(COUNT(1) OVER (PARTITION BY nation) AS BIGINT) AS np
        |  FROM pw)
        |SELECT nation, MAX(np) AS n_weeks,
        |  MIN(CASE WHEN 2 * rn >= np THEN med_i END) AS siegel_slope
        |FROM om GROUP BY nation
        |ORDER BY nation""".stripMargin,

    "q183_multiple_regression" ->
      """WITH per AS (SELECT l_orderkey,
        |    CAST(COUNT(1) AS HUGEINT) AS x1,
        |    CAST(SUM(CAST(round(l_discount * 100) AS BIGINT))
        |      AS HUGEINT) AS x2,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      // 100 AS HUGEINT) AS y
        |  FROM lineitem GROUP BY 1),
        |  m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
        |    SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
        |    SUM(x1 * x2) AS s12, SUM(x1 * y) AS s1y,
        |    SUM(x2 * y) AS s2y, SUM(y * y) AS syy
        |  FROM per),
        |  cm AS (SELECT n, s1, s2, sy,
        |    n * s11 - s1 * s1 AS m11,
        |    n * s22 - s2 * s2 AS m22,
        |    n * s12 - s1 * s2 AS m12,
        |    n * s1y - s1 * sy AS b1v,
        |    n * s2y - s2 * sy AS b2v,
        |    n * syy - sy * sy AS syy_c
        |  FROM m),
        |  dt AS (SELECT *, m11 * m22 - m12 * m12 AS det FROM cm),
        |  bt AS (SELECT n, s1, s2, sy, b1v, b2v, syy_c,
        |    CAST(CAST(m22 * b1v - m12 * b2v AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(det AS VARCHAR) AS DOUBLE) AS beta1,
        |    CAST(CAST(m11 * b2v - m12 * b1v AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST(det AS VARCHAR) AS DOUBLE) AS beta2
        |  FROM dt),
        |  fin AS (SELECT CAST(n AS BIGINT) AS n_orders,
        |    (CAST(CAST(sy AS VARCHAR) AS DOUBLE) -
        |      beta1 * CAST(CAST(s1 AS VARCHAR) AS DOUBLE) -
        |      beta2 * CAST(CAST(s2 AS VARCHAR) AS DOUBLE)) /
        |      CAST(CAST(n AS VARCHAR) AS DOUBLE) AS beta0,
        |    beta1, beta2,
        |    (beta1 * CAST(CAST(b1v AS VARCHAR) AS DOUBLE) +
        |      beta2 * CAST(CAST(b2v AS VARCHAR) AS DOUBLE)) /
        |      CAST(CAST(syy_c AS VARCHAR) AS DOUBLE) AS r2
        |  FROM bt)
        |SELECT n_orders, beta0, beta1, beta2, r2 FROM fin""".stripMargin,

    "q188_walkforward_ols" ->
      s"""WITH $weeklySql,
        |  cw AS (SELECT w, y,
        |    COALESCE(CAST(COUNT(y) OVER pri AS BIGINT), 0) AS cn,
        |    COALESCE(CAST(SUM(w) OVER pri AS BIGINT), 0) AS sx,
        |    COALESCE(CAST(SUM(y) OVER pri AS BIGINT), 0) AS sy,
        |    COALESCE(CAST(SUM(w * w) OVER pri AS BIGINT), 0) AS sxx,
        |    COALESCE(CAST(SUM(w * y) OVER pri AS BIGINT), 0) AS sxy,
        |    LAG(y, 1) OVER (ORDER BY w) AS y_prev
        |  FROM wk
        |  WINDOW pri AS (ORDER BY w
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |  fit AS (SELECT w, y, y_prev,
        |    CAST(cn * sxy - sx * sy AS DOUBLE) /
        |      CAST(cn * sxx - sx * sx AS DOUBLE) AS beta,
        |    cn, sx, sy
        |  FROM cw WHERE cn >= 8),
        |  pred AS (SELECT w, y, y_prev, beta,
        |    (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE)) /
        |      CAST(cn AS DOUBLE) AS alpha
        |  FROM fit),
        |  fin AS (SELECT w, y,
        |    alpha + beta * CAST(w AS DOUBLE) AS yhat,
        |    ABS(y - y_prev) AS abs_err_naive
        |  FROM pred)
        |SELECT w, y, yhat, ABS(CAST(y AS DOUBLE) - yhat) AS abs_err,
        |  abs_err_naive
        |FROM fin
        |ORDER BY w""".stripMargin,

    // the SAME left fold as the Spark aggregate() HOF, operation for
    // operation, as a recursive CTE; list_transform's lambda index is
    // 1-based (Spark's transform index is 0-based, hence j - 1)
    "q189_holt_winters" ->
      s"""WITH RECURSIVE $DenseDailyCtes,
        |  arr AS (SELECT LIST(CAST(cents AS DOUBLE) ORDER BY day) AS a,
        |    CAST(COUNT(1) AS INT) AS n FROM ser),
        |  ini AS (SELECT a, n,
        |    ((((((a[1]+a[2])+a[3])+a[4])+a[5])+a[6])+a[7]) / 7.0 AS m1,
        |    ((((((a[8]+a[9])+a[10])+a[11])+a[12])+a[13])+a[14]) / 7.0
        |      AS m2 FROM arr),
        |  ini2 AS (SELECT a, n, m1, (m2 - m1) / 7.0 AS trd0,
        |    list_transform(generate_series(1, 7),
        |      j -> ((a[j] - m1) + (a[j + 7] - m2)) / 2.0) AS s0
        |  FROM ini),
        |  rec AS (
        |    SELECT 14 AS t, m1 AS lvl, trd0 AS trd, s0 AS s,
        |      CAST(0.0 AS DOUBLE) AS sse
        |    FROM ini2
        |    UNION ALL
        |    SELECT r.t + 1,
        |      (0.25 * (i.a[r.t + 1] - r.s[(r.t % 7) + 1])
        |        + 0.75 * (r.lvl + r.trd)),
        |      0.125 * ((0.25 * (i.a[r.t + 1] - r.s[(r.t % 7) + 1])
        |        + 0.75 * (r.lvl + r.trd)) - r.lvl) + 0.875 * r.trd,
        |      list_transform(r.s, (v, j) -> CASE WHEN j - 1 = r.t % 7
        |        THEN 0.125 * (i.a[r.t + 1]
        |          - (0.25 * (i.a[r.t + 1] - r.s[(r.t % 7) + 1])
        |            + 0.75 * (r.lvl + r.trd))) + 0.875 * v
        |        ELSE v END),
        |      r.sse + (i.a[r.t + 1]
        |          - ((r.lvl + r.trd) + r.s[(r.t % 7) + 1]))
        |        * (i.a[r.t + 1]
        |          - ((r.lvl + r.trd) + r.s[(r.t % 7) + 1]))
        |    FROM rec r, ini2 i WHERE r.t < i.n),
        |  fin AS (SELECT r.*, i.n FROM rec r, ini2 i WHERE r.t = i.n)
        |SELECT CAST(h AS BIGINT) AS h,
        |  (lvl + CAST(h AS DOUBLE) * trd
        |    + s[((t + h - 1) % 7) + 1]) / 100.0 AS forecast,
        |  lvl / 100.0 AS level, trd / 100.0 AS trend,
        |  sqrt(sse / CAST(n - 14 AS DOUBLE)) / 100.0 AS rmse
        |FROM fin, UNNEST(generate_series(1, 7)) AS u(h)
        |ORDER BY h""".stripMargin,

    // same fixed-order fold as the Spark aggregate() HOF; scalar state
    // so the recursion carries plain columns (anchor casts pin types)
    "q190_croston" ->
      """WITH RECURSIVE daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
        |    CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem WHERE l_partkey = 1 GROUP BY 1),
        |  b AS (SELECT MIN(CAST(l_shipdate AS DATE)) AS lo,
        |    MAX(CAST(l_shipdate AS DATE)) AS hi FROM lineitem),
        |  grid AS (SELECT CAST(UNNEST(generate_series(lo, hi,
        |      INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |  ser AS (SELECT g.day, COALESCE(d.qty, 0) AS qty
        |    FROM grid g LEFT JOIN daily d USING (day)),
        |  arr AS (SELECT LIST(CAST(qty AS DOUBLE) ORDER BY day) AS a,
        |    CAST(COUNT(1) AS INT) AS n FROM ser),
        |  tot AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), a),
        |      (acc, y) -> acc + y) AS tot FROM arr),
        |  rec AS (
        |    SELECT 0 AS t, CAST(0.0 AS DOUBLE) AS z,
        |      CAST(0.0 AS DOUBLE) AS p, 1 AS q, FALSE AS seen, 0 AS nd
        |    UNION ALL
        |    SELECT r.t + 1,
        |      CASE WHEN i.a[r.t + 1] > 0.0 THEN (CASE WHEN r.seen
        |        THEN r.z + 0.25 * (i.a[r.t + 1] - r.z)
        |        ELSE i.a[r.t + 1] END) ELSE r.z END,
        |      CASE WHEN i.a[r.t + 1] > 0.0 THEN (CASE WHEN r.seen
        |        THEN r.p + 0.25 * (CAST(r.q AS DOUBLE) - r.p)
        |        ELSE CAST(r.q AS DOUBLE) END) ELSE r.p END,
        |      CASE WHEN i.a[r.t + 1] > 0.0 THEN 1 ELSE r.q + 1 END,
        |      r.seen OR i.a[r.t + 1] > 0.0,
        |      r.nd + CASE WHEN i.a[r.t + 1] > 0.0 THEN 1 ELSE 0 END
        |    FROM rec r, arr i WHERE r.t < i.n),
        |  fin AS (SELECT r.* FROM rec r, arr i WHERE r.t = i.n)
        |SELECT CAST(i.n AS BIGINT) AS n_days,
        |  CAST(f.nd AS BIGINT) AS n_demands,
        |  CASE WHEN f.seen THEN f.z END AS demand_size,
        |  CASE WHEN f.seen THEN f.p END AS mean_interval,
        |  CASE WHEN f.seen THEN f.z / f.p END AS croston_rate,
        |  t.tot / CAST(i.n AS DOUBLE) AS exact_rate
        |FROM fin f, arr i, tot t""".stripMargin,

    // HUGEINT carriers everywhere; big sums go HUGEINT->VARCHAR->DOUBLE
    // (q150's DuckDB int128 double-rounding workaround); the 7-term
    // sum_b parenthesization matches Spark exactly
    "q191_seasonal_strength" ->
      s"""WITH $DenseDailyCtes,
        |  w AS (SELECT day, cents,
        |    SUM(cents) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
        |    COUNT(1) OVER (ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wcnt
        |  FROM ser),
        |  i AS (SELECT date_part('dow', day) AS dow,
        |    7 * cents AS y7, 7 * cents - wsum AS d7
        |  FROM w WHERE wcnt = 7),
        |  pd AS (SELECT dow, COUNT(1) AS n_j,
        |    SUM(CAST(d7 AS HUGEINT)) AS s_j,
        |    SUM(CAST(d7 AS HUGEINT) * CAST(d7 AS HUGEINT)) AS sdd_j,
        |    SUM(CAST(y7 AS HUGEINT)) AS sy_j,
        |    SUM(CAST(y7 AS HUGEINT) * CAST(y7 AS HUGEINT)) AS syy_j
        |  FROM i GROUP BY 1),
        |  pd2 AS (SELECT *,
        |    CAST(CAST(s_j AS VARCHAR) AS DOUBLE)
        |      * CAST(CAST(s_j AS VARCHAR) AS DOUBLE)
        |      / CAST(n_j AS DOUBLE) AS b_j
        |  FROM pd),
        |  comb AS (SELECT SUM(n_j) AS n,
        |    SUM(s_j) AS sd, SUM(sdd_j) AS sdd,
        |    SUM(sy_j) AS sy, SUM(syy_j) AS syy,
        |    MAX(CASE WHEN dow = 0 THEN b_j END) AS b0,
        |    MAX(CASE WHEN dow = 1 THEN b_j END) AS b1,
        |    MAX(CASE WHEN dow = 2 THEN b_j END) AS b2,
        |    MAX(CASE WHEN dow = 3 THEN b_j END) AS b3,
        |    MAX(CASE WHEN dow = 4 THEN b_j END) AS b4,
        |    MAX(CASE WHEN dow = 5 THEN b_j END) AS b5,
        |    MAX(CASE WHEN dow = 6 THEN b_j END) AS b6
        |  FROM pd2),
        |  fin AS (SELECT n,
        |    (((((b0 + b1) + b2) + b3) + b4) + b5) + b6 AS sum_b,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sd AS VARCHAR) AS DOUBLE) AS sdD,
        |    CAST(CAST(sdd AS VARCHAR) AS DOUBLE) AS sddD,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syD,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyD
        |  FROM comb),
        |  v AS (SELECT n, nd, sum_b,
        |    (syyD - syD * syD / nd) / nd AS var_y,
        |    (sddD - sdD * sdD / nd) / nd AS var_d,
        |    (sddD - sum_b) / nd AS var_r
        |  FROM fin)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |  GREATEST(CAST(0.0 AS DOUBLE), 1.0 - var_d / var_y)
        |    AS trend_strength,
        |  GREATEST(CAST(0.0 AS DOUBLE), 1.0 - var_r / var_d)
        |    AS seasonal_strength,
        |  var_y, var_d, var_r
        |FROM v""".stripMargin,

      "q192_chow_test" -> {
        def mm(pred: String, sfx: String) =
          s"""CAST(SUM(CASE WHEN $pred THEN 1 ELSE 0 END) AS HUGEINT)
             AS n$sfx,
             CAST(SUM(CASE WHEN $pred THEN w ELSE 0 END) AS HUGEINT)
             AS sx$sfx,
             CAST(SUM(CASE WHEN $pred THEN y ELSE 0 END) AS HUGEINT)
             AS sy$sfx,
             CAST(SUM(CASE WHEN $pred THEN w * w ELSE 0 END) AS HUGEINT)
             AS sxx$sfx,
             CAST(SUM(CASE WHEN $pred THEN w * y ELSE 0 END) AS HUGEINT)
             AS sxy$sfx,
             CAST(SUM(CASE WHEN $pred THEN y * y ELSE 0 END) AS HUGEINT)
             AS syy$sfx"""
        def combos(sfx: String) =
          s"""n$sfx * syy$sfx - sy$sfx * sy$sfx AS a$sfx,
             n$sfx * sxy$sfx - sx$sfx * sy$sfx AS b$sfx,
             n$sfx * sxx$sfx - sx$sfx * sx$sfx AS c$sfx"""
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           sg AS (SELECT w, y,
             (MIN(w) OVER () + MAX(w) OVER () + 1) // 2 AS mid FROM wk),
           m AS (SELECT MAX(mid) AS mid,
             ${mm("TRUE", "p")}, ${mm("w < mid", "1")},
             ${mm("w >= mid", "2")} FROM sg),
           cm AS (SELECT np, n1, n2, mid,
             ${combos("p")}, ${combos("1")}, ${combos("2")} FROM m),
           rs AS (SELECT np, mid,
             ${rss("np", "ap", "bp", "cp")} AS rss_pooled,
             ${rss("n1", "a1", "b1", "c1")} AS rss_1,
             ${rss("n2", "a2", "b2", "c2")} AS rss_2 FROM cm),
           fin AS (SELECT CAST(np AS BIGINT) AS n_weeks, mid AS split_week,
             rss_pooled, rss_1 + rss_2 AS rss_split,
             ((rss_pooled - rss_1 - rss_2) / CAST(2 AS DOUBLE)) /
               ((rss_1 + rss_2) / (${vd("np")} - CAST(4 AS DOUBLE)))
               AS f_stat
           FROM rs)
           SELECT n_weeks, split_week, rss_pooled, rss_split, f_stat,
             CAST(2 AS DOUBLE) * f_stat >
               CAST(5.991464547107979 AS DOUBLE) AS reject_95
           FROM fin"""
      },

      "q193_durbin_watson" ->
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           lg AS (SELECT w, y,
             y - LAG(y, 1) OVER (ORDER BY w) AS dy,
             w - LAG(w, 1) OVER (ORDER BY w) AS dx FROM wk),
           m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
             CAST(SUM(w) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(w * w) AS HUGEINT) AS sxx,
             CAST(SUM(w * y) AS HUGEINT) AS sxy,
             CAST(SUM(y * y) AS HUGEINT) AS syy,
             CAST(SUM(dy * dy) AS HUGEINT) AS sdd,
             CAST(SUM(dy * dx) AS HUGEINT) AS sdx,
             CAST(SUM(dx * dx) AS HUGEINT) AS sxx2 FROM lg),
           bt AS (SELECT n, sdd, sdx, sxx2,
             ${vd("n * sxy - sx * sy")} / ${vd("n * sxx - sx * sx")}
               AS slope,
             ${rss("n", "n * syy - sy * sy", "n * sxy - sx * sy",
                "n * sxx - sx * sx")} AS rss FROM m),
           fin AS (SELECT CAST(n AS BIGINT) AS n_weeks, slope,
             (${vd("sdd")} - CAST(2 AS DOUBLE) * slope * ${vd("sdx")} +
               slope * slope * ${vd("sxx2")}) / rss AS dw FROM bt)
           SELECT n_weeks, slope, dw,
             CAST(1 AS DOUBLE) - dw / CAST(2 AS DOUBLE) AS rho_approx
           FROM fin""",

      "q194_partial_corr" -> {
        def cv(x: String, y: String) = vd(s"n * s$x$y - s$x * s$y")
        def vv(x: String) = vd(s"n * s$x$x - s$x * s$x")
        def rr(x: String, y: String) = {
          val (lo, hi) = if (x <= y) (x, y) else (y, x)
          s"${cv(lo, hi)} / (sqrt(${vv(x)}) * sqrt(${vv(y)}))"
        }
        // the pairwise r's are staged (MATERIALIZED) and the partials
        // reference the aliases: inlining the rr subtrees into each
        // partial let DuckDB's rewriter drift 1 ulp off the naive
        // left-to-right sequence Spark codegen executes
        def partial(xy: String, xz: String, yz: String) =
          s"""($xy - $xz * $yz) /
             sqrt((CAST(1 AS DOUBLE) - $xz * $xz) *
               (CAST(1 AS DOUBLE) - $yz * $yz))"""
        s"""WITH per AS (SELECT l_orderkey,
             CAST(COUNT(1) AS HUGEINT) AS a,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS b,
             CAST(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) // 100 AS HUGEINT) AS r
           FROM lineitem GROUP BY 1),
           m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
             SUM(a) AS sa, SUM(b) AS sb, SUM(r) AS sr,
             SUM(a * a) AS saa, SUM(b * b) AS sbb, SUM(r * r) AS srr,
             SUM(a * b) AS sab, SUM(a * r) AS sar, SUM(b * r) AS sbr
           FROM per),
           rs AS MATERIALIZED (SELECT CAST(n AS BIGINT) AS n_orders,
             ${rr("a", "b")} AS rab, ${rr("a", "r")} AS rar,
             ${rr("b", "r")} AS rbr FROM m),
           rows3 AS (
             SELECT n_orders, 'lines' AS var_a, 'quantity' AS var_b,
               'revenue' AS control, rab AS r_raw,
               ${partial("rab", "rar", "rbr")} AS r_partial FROM rs
             UNION ALL
             SELECT n_orders, 'lines', 'revenue', 'quantity', rar,
               ${partial("rar", "rab", "rbr")} FROM rs
             UNION ALL
             SELECT n_orders, 'quantity', 'revenue', 'lines', rbr,
               ${partial("rbr", "rab", "rar")} FROM rs)
           SELECT n_orders, var_a, var_b, control, r_raw, r_partial
           FROM rows3 ORDER BY var_a, var_b"""
      },

      "q195_influence" ->
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           st AS (SELECT w, y,
             CAST(COUNT(1) OVER () AS HUGEINT) AS n,
             CAST(SUM(w) OVER () AS HUGEINT) AS sx,
             CAST(SUM(y) OVER () AS HUGEINT) AS sy,
             CAST(SUM(w * w) OVER () AS HUGEINT) AS sxx,
             CAST(SUM(w * y) OVER () AS HUGEINT) AS sxy,
             CAST(SUM(y * y) OVER () AS HUGEINT) AS syy FROM wk),
           cm AS (SELECT w, y, n, sx, sy,
             n * sxx - sx * sx AS cc,
             n * sxy - sx * sy AS bb,
             n * syy - sy * sy AS aa FROM st),
           bt AS (SELECT w, y, n, sx, sy, cc,
             ${vd("bb")} / ${vd("cc")} AS beta,
             (${vd("aa")} - ${vd("bb")} * ${vd("bb")} / ${vd("cc")}) /
               ${vd("n")} AS rss FROM cm),
           rowd AS (SELECT w, y, n, cc, beta,
             rss / CAST(CAST(n - 2 AS BIGINT) AS DOUBLE) AS s2,
             n * w - sx AS v, n * y - sy AS u FROM bt),
           ind AS (SELECT w, y,
             (${vd("u")} - beta * ${vd("v")}) / ${vd("n")} AS resid,
             CAST(1 AS DOUBLE) / ${vd("n")} +
               ${vd("v * v")} / ${vd("n * cc")} AS leverage,
             s2 FROM rowd),
           fin AS (SELECT w, y, resid, leverage,
             (resid * resid * leverage) /
               (CAST(2 AS DOUBLE) * s2 * (CAST(1 AS DOUBLE) - leverage) *
                 (CAST(1 AS DOUBLE) - leverage)) AS cook_d FROM ind)
           SELECT w, y, resid, leverage, cook_d FROM fin
           ORDER BY cook_d DESC, w LIMIT 10""",

      "q198_supf_break" -> {
        def combos(nc: String, sx: String, sy: String, sxx: String,
            sxy: String, syy: String, sfx: String) =
          s"""$nc * $syy - $sy * $sy AS a$sfx,
             $nc * $sxy - $sx * $sy AS b$sfx,
             $nc * $sxx - $sx * $sx AS c$sfx"""
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           st AS (SELECT w, y,
             CAST(ROW_NUMBER() OVER (ORDER BY w) AS BIGINT) AS t,
             CAST(SUM(w) OVER seq AS HUGEINT) AS csx,
             CAST(SUM(y) OVER seq AS HUGEINT) AS csy,
             CAST(SUM(w * w) OVER seq AS HUGEINT) AS csxx,
             CAST(SUM(w * y) OVER seq AS HUGEINT) AS csxy,
             CAST(SUM(y * y) OVER seq AS HUGEINT) AS csyy,
             CAST(COUNT(1) OVER () AS BIGINT) AS n,
             CAST(SUM(w) OVER () AS HUGEINT) AS tsx,
             CAST(SUM(y) OVER () AS HUGEINT) AS tsy,
             CAST(SUM(w * w) OVER () AS HUGEINT) AS tsxx,
             CAST(SUM(w * y) OVER () AS HUGEINT) AS tsxy,
             CAST(SUM(y * y) OVER () AS HUGEINT) AS tsyy
           FROM wk WINDOW seq AS (ORDER BY w
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
           cm AS (SELECT w, t, n,
             ${combos("CAST(t AS HUGEINT)", "csx", "csy", "csxx",
                "csxy", "csyy", "1")},
             ${combos("CAST(n - t AS HUGEINT)", "(tsx - csx)",
                "(tsy - csy)", "(tsxx - csxx)", "(tsxy - csxy)",
                "(tsyy - csyy)", "2")},
             ${combos("CAST(n AS HUGEINT)", "tsx", "tsy", "tsxx",
                "tsxy", "tsyy", "p")}
           FROM st),
           rs AS MATERIALIZED (SELECT w, t, n,
             ${rss("t", "a1", "b1", "c1")} AS rss_1,
             ${rss("(n - t)", "a2", "b2", "c2")} AS rss_2,
             ${rss("n", "ap", "bp", "cp")} AS rss_p
           FROM cm),
           fx AS (SELECT w, t, n,
             CASE WHEN 100 * t >= 15 * n AND 100 * t <= 85 * n THEN
               ((rss_p - rss_1 - rss_2) / CAST(2 AS DOUBLE)) /
               ((rss_1 + rss_2) /
                 (CAST(n AS DOUBLE) - CAST(4 AS DOUBLE)))
             END AS f
           FROM rs),
           mx AS (SELECT *, MAX(f) OVER () AS sup_f FROM fx)
           SELECT CAST(MAX(n) AS BIGINT) AS n_weeks,
             CAST(SUM(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_candidates,
             MIN(CASE WHEN f = sup_f THEN w END) AS break_week,
             sup_f, sup_f > 5.86 AS reject_95
           FROM mx GROUP BY sup_f"""
      },

      "q199_hac_se" ->
        s"""WITH ${OrderRevenue.weeklyRevenueSql},
           st AS (SELECT w, y,
             CAST(COUNT(1) OVER () AS BIGINT) AS n,
             CAST(SUM(w) OVER () AS HUGEINT) AS sx,
             CAST(SUM(y) OVER () AS HUGEINT) AS sy,
             CAST(SUM(w * w) OVER () AS HUGEINT) AS sxx,
             CAST(SUM(w * y) OVER () AS HUGEINT) AS sxy,
             CAST(SUM(y * y) OVER () AS HUGEINT) AS syy FROM wk),
           cm AS (SELECT w, y, n,
             n * sxx - sx * sx AS cc,
             n * sxy - sx * sy AS bb,
             n * syy - sy * sy AS aa,
             n * w - sx AS v, n * y - sy AS u FROM st),
           bt AS (SELECT w, n, cc, bb, aa, v, u,
             ${vd("bb")} / ${vd("cc")} AS beta FROM cm),
           qs AS (SELECT w, n, cc, bb, aa,
             ${vd("v")} * ((${vd("u")} - beta * ${vd("v")}) / ${vd("n")})
               AS q FROM bt),
           lg AS (SELECT n, cc, bb, aa, q,
             LAG(q, 1) OVER (ORDER BY w) AS q1,
             LAG(q, 2) OVER (ORDER BY w) AS q2,
             LAG(q, 3) OVER (ORDER BY w) AS q3,
             LAG(q, 4) OVER (ORDER BY w) AS q4 FROM qs),
           m AS (SELECT MAX(n) AS n, MAX(cc) AS cc, MAX(bb) AS bb,
             MAX(aa) AS aa,
             ${vd("SUM(CAST(q * q AS DECIMAL(38, 6)))")} AS s0,
             ${vd("SUM(CAST(q * q1 AS DECIMAL(38, 6)))")} AS s1,
             ${vd("SUM(CAST(q * q2 AS DECIMAL(38, 6)))")} AS s2,
             ${vd("SUM(CAST(q * q3 AS DECIMAL(38, 6)))")} AS s3,
             ${vd("SUM(CAST(q * q4 AS DECIMAL(38, 6)))")} AS s4
           FROM lg),
           fin AS (SELECT CAST(n AS BIGINT) AS n_weeks,
             ${vd("bb")} / ${vd("cc")} AS beta,
             (${vd("aa")} - ${vd("bb")} * ${vd("bb")} / ${vd("cc")}) /
               ${vd("n")} AS rss,
             s0, s1, s2, s3, s4, cc, n FROM m),
           se AS (SELECT n_weeks, beta,
             sqrt((rss / CAST(CAST(n - 2 AS BIGINT) AS DOUBLE)) *
               ${vd("n")} / ${vd("cc")}) AS se_ols,
             sqrt(s0 / (${vd("cc")} * ${vd("cc")})) AS se_hc0,
             sqrt((s0 +
               CAST(2 AS DOUBLE) * CAST(0.8 AS DOUBLE) * s1 +
               CAST(2 AS DOUBLE) * CAST(0.6 AS DOUBLE) * s2 +
               CAST(2 AS DOUBLE) * CAST(0.4 AS DOUBLE) * s3 +
               CAST(2 AS DOUBLE) * CAST(0.2 AS DOUBLE) * s4) /
               (${vd("cc")} * ${vd("cc")})) AS se_hac
           FROM fin)
           SELECT n_weeks, beta, se_ols, se_hc0, se_hac,
             beta / se_ols AS t_ols, beta / se_hac AS t_hac
           FROM se""",

    "q200_granger_causality" ->
      s"""WITH ${OrderRevenue.weeklyPairSql},
        |  lg AS (SELECT yv, xv,
        |    LAG(yv) OVER (ORDER BY w) AS yl,
        |    LAG(xv) OVER (ORDER BY w) AS xl
        |  FROM wk QUALIFY yl IS NOT NULL),
        |  m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(yl) AS s1, SUM(xl) AS s2, SUM(yv) AS sy, SUM(xv) AS sx,
        |    SUM(yl * yl) AS s11, SUM(xl * xl) AS s22,
        |    SUM(yl * xl) AS s12, SUM(yl * yv) AS s1y,
        |    SUM(xl * yv) AS s2y, SUM(yl * xv) AS s1x,
        |    SUM(xl * xv) AS s2x, SUM(yv * yv) AS syy,
        |    SUM(xv * xv) AS sxx
        |  FROM lg),
        |  c AS (SELECT n,
        |    n * s11 - s1 * s1 AS m11, n * s22 - s2 * s2 AS m22,
        |    n * s12 - s1 * s2 AS m12,
        |    n * s1y - s1 * sy AS b1y, n * s2y - s2 * sy AS b2y,
        |    n * s1x - s1 * sx AS b1x, n * s2x - s2 * sx AS b2x,
        |    n * syy - sy * sy AS syy_c, n * sxx - sx * sx AS sxx_c
        |  FROM m),
        |  dt AS (SELECT *, m11 * m22 - m12 * m12 AS det FROM c),
        |  r AS (SELECT n,
        |    (CAST(CAST(m22 * b1y - m12 * b2y AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(b1y AS VARCHAR) AS DOUBLE) +
        |     CAST(CAST(m11 * b2y - m12 * b1y AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(b2y AS VARCHAR) AS DOUBLE)) /
        |      (CAST(CAST(det AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(syy_c AS VARCHAR) AS DOUBLE)) AS r2u_y,
        |    (CAST(CAST(b1y AS VARCHAR) AS DOUBLE) *
        |     CAST(CAST(b1y AS VARCHAR) AS DOUBLE)) /
        |      (CAST(CAST(m11 AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(syy_c AS VARCHAR) AS DOUBLE)) AS r2r_y,
        |    (CAST(CAST(m22 * b1x - m12 * b2x AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(b1x AS VARCHAR) AS DOUBLE) +
        |     CAST(CAST(m11 * b2x - m12 * b1x AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(b2x AS VARCHAR) AS DOUBLE)) /
        |      (CAST(CAST(det AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(sxx_c AS VARCHAR) AS DOUBLE)) AS r2u_x,
        |    (CAST(CAST(b2x AS VARCHAR) AS DOUBLE) *
        |     CAST(CAST(b2x AS VARCHAR) AS DOUBLE)) /
        |      (CAST(CAST(m22 AS VARCHAR) AS DOUBLE) *
        |       CAST(CAST(sxx_c AS VARCHAR) AS DOUBLE)) AS r2r_x
        |  FROM dt)
        |SELECT CAST(n AS BIGINT) AS n_weeks, r2u_y, r2r_y,
        |  (r2u_y - r2r_y) / (1.0 - r2u_y) *
        |    (CAST(CAST(n AS VARCHAR) AS DOUBLE) - 3.0) AS f_x_causes_y,
        |  r2u_x, r2r_x,
        |  (r2u_x - r2r_x) / (1.0 - r2u_x) *
        |    (CAST(CAST(n AS VARCHAR) AS DOUBLE) - 3.0) AS f_y_causes_x
        |FROM r""".stripMargin,

    "q201_engle_granger" ->
      s"""WITH ${OrderRevenue.weeklyPairSql},
        |  lg AS (SELECT yv, xv,
        |    LAG(yv) OVER (ORDER BY w) AS yl,
        |    LAG(xv) OVER (ORDER BY w) AS xl
        |  FROM wk QUALIFY yl IS NOT NULL),
        |  m1 AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
        |    SUM(xv) AS sx, SUM(yv) AS sy, SUM(xv * xv) AS sxx,
        |    SUM(xv * yv) AS sxy, SUM(yv * yv) AS syy FROM wk),
        |  m2 AS (SELECT CAST(COUNT(1) AS HUGEINT) AS np,
        |    SUM(yl) AS syl, SUM(yv) AS syc, SUM(xl) AS sxl,
        |    SUM(xv) AS sxc, SUM(yl * yl) AS syll, SUM(yv * yv) AS sycc,
        |    SUM(xl * xl) AS sxll, SUM(xv * xv) AS sxcc,
        |    SUM(xl * yl) AS sxyl, SUM(xv * yv) AS sxyc,
        |    SUM(yl * yv) AS sylc, SUM(yl * xv) AS sylxc,
        |    SUM(xl * yv) AS sxlyc, SUM(xl * xv) AS sxlc FROM lg),
        |  ab AS MATERIALIZED (SELECT m1.n, m1.sx, m1.sy, m1.sxx,
        |    m1.sxy, m1.syy, m2.*,
        |    CAST(CAST(m1.n * m1.sxy - m1.sx * m1.sy AS VARCHAR)
        |      AS DOUBLE) /
        |      CAST(CAST(m1.n * m1.sxx - m1.sx * m1.sx AS VARCHAR)
        |        AS DOUBLE) AS b,
        |    CAST(CAST((m1.n * m1.sxy - m1.sx * m1.sy) *
        |        (m1.n * m1.sxy - m1.sx * m1.sy) AS VARCHAR) AS DOUBLE) /
        |      CAST(CAST((m1.n * m1.sxx - m1.sx * m1.sx) *
        |        (m1.n * m1.syy - m1.sy * m1.sy) AS VARCHAR) AS DOUBLE)
        |      AS r2_levels
        |  FROM m1 CROSS JOIN m2),
        |  ab2 AS MATERIALIZED (SELECT *,
        |    (CAST(CAST(sy AS VARCHAR) AS DOUBLE) -
        |      b * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) /
        |      CAST(CAST(n AS VARCHAR) AS DOUBLE) AS a FROM ab),
        |  ss AS MATERIALIZED (SELECT *,
        |    CAST(CAST(syll AS VARCHAR) AS DOUBLE)
        |      - 2.0 * b * CAST(CAST(sxyl AS VARCHAR) AS DOUBLE)
        |      + b * b * CAST(CAST(sxll AS VARCHAR) AS DOUBLE)
        |      - 2.0 * a * CAST(CAST(syl AS VARCHAR) AS DOUBLE)
        |      + 2.0 * a * b * CAST(CAST(sxl AS VARCHAR) AS DOUBLE)
        |      + a * a * CAST(CAST(np AS VARCHAR) AS DOUBLE) AS s_ll,
        |    CAST(CAST(sycc AS VARCHAR) AS DOUBLE)
        |      - 2.0 * b * CAST(CAST(sxyc AS VARCHAR) AS DOUBLE)
        |      + b * b * CAST(CAST(sxcc AS VARCHAR) AS DOUBLE)
        |      - 2.0 * a * CAST(CAST(syc AS VARCHAR) AS DOUBLE)
        |      + 2.0 * a * b * CAST(CAST(sxc AS VARCHAR) AS DOUBLE)
        |      + a * a * CAST(CAST(np AS VARCHAR) AS DOUBLE) AS s_cc,
        |    CAST(CAST(sylc AS VARCHAR) AS DOUBLE)
        |      - b * (CAST(CAST(sylxc AS VARCHAR) AS DOUBLE)
        |             + CAST(CAST(sxlyc AS VARCHAR) AS DOUBLE))
        |      + b * b * CAST(CAST(sxlc AS VARCHAR) AS DOUBLE)
        |      - a * (CAST(CAST(syl AS VARCHAR) AS DOUBLE)
        |             + CAST(CAST(syc AS VARCHAR) AS DOUBLE))
        |      + a * b * (CAST(CAST(sxl AS VARCHAR) AS DOUBLE)
        |                 + CAST(CAST(sxc AS VARCHAR) AS DOUBLE))
        |      + a * a * CAST(CAST(np AS VARCHAR) AS DOUBLE) AS s_lc
        |  FROM ab2),
        |  ph AS MATERIALIZED (SELECT *,
        |    (s_lc - s_ll) / s_ll AS phi,
        |    (s_cc - 2.0 * s_lc) + s_ll AS d2 FROM ss),
        |  s2t AS MATERIALIZED (SELECT *,
        |    (d2 - phi * (s_lc - s_ll)) /
        |      (CAST(CAST(np AS VARCHAR) AS DOUBLE) - 1.0) AS s2
        |  FROM ph)
        |SELECT CAST(n AS BIGINT) AS n_weeks, CAST(np AS BIGINT) AS n_lag,
        |  a AS alpha, b AS beta, r2_levels, phi,
        |  phi / sqrt(s2 / s_ll) AS t_eg
        |FROM s2t""".stripMargin,

    "q202_page_hinkley" ->
      s"""WITH $DailyRevenueCte,
         ord AS (SELECT day, x,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS t,
             CAST(SUM(CAST(x AS HUGEINT)) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS p
           FROM daily),
         base AS (SELECT CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sk,
             CAST(COUNT(1) AS HUGEINT) AS k
           FROM ord WHERE t <= 30),
         m AS (SELECT day, x, t, k, sk,
             200 * k * p - 201 * t * sk AS mt
           FROM ord CROSS JOIN base),
         ph AS (SELECT day, x, k, sk,
             mt - CAST(MIN(mt) OVER (ORDER BY day
               ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS e
           FROM m)
         SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS VARCHAR)
             AS dt,
           x AS revenue_cents,
           CAST(CAST(e AS VARCHAR) AS DOUBLE) /
             (200.0 * CAST(CAST(k AS VARCHAR) AS DOUBLE)) AS ph_cents,
           e > 2000 * sk AS is_alarm
         FROM ph ORDER BY dt""")
}
