package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Parity, Tables}
import graft.functions.HashFunctions.md5Hash60Sql

/** The order-revenue statistics family's shared frames. Each frame
  * that several queries read is built here once, as a Spark builder
  * with the DuckDB CTE text that mirrors it right beside it. Callers
  * share a frame up to the point where their aggregates diverge and
  * derive the rest themselves; nothing is cached across queries. Each
  * SQL fragment renders exactly the text its callers' oracles carry,
  * and is placed after a `WITH ` or a two-space `|  ` margin.
  */
private[graft] object OrderRevenue extends OperatorFamily {

  // ---- per-order rollup ----------------------------------------------

  /** Per-order line count and exact revenue cents
    * (l_orderkey, n_items, cents): the family's one fact rollup.
    * Callers that read only one aggregate get the other pruned. */
  def perOrder(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))

  /** DuckDB twin of [[perOrder]]: CTE `per`. */
  val perOrderSql: String =
    """per AS (SELECT l_orderkey, COUNT(1) AS n_items,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1)""".stripMargin

  /** Order-size bucket of an item count: narrow ≤ 2, mid 3–5, wide ≥ 6
    * — a split that separates revenue on this corpus (q108 rule). */
  def sizeBucket(nItems: Column): Column =
    when(nItems <= 2, lit("narrow"))
      .when(nItems <= 5, lit("mid"))
      .otherwise(lit("wide"))

  /** Per-order whole-dollar revenue tagged with its size bucket
    * (value, grp) — the k-sample contrast of q139/q140/q147/q163/
    * q165/q166. */
  def orderSizeBuckets(s: SparkSession, d: String): DataFrame =
    perOrder(s, d).select(expr("cents div 100").as("value"),
      sizeBucket(col("n_items")).as("grp"))

  /** DuckDB twin of [[orderSizeBuckets]]: CTEs `per`, `s`. */
  val orderSizeBucketsSql: String =
    s"""$perOrderSql,
       |  s AS (SELECT cents // 100 AS value,
       |    CASE WHEN n_items <= 2 THEN 'narrow'
       |         WHEN n_items <= 5 THEN 'mid'
       |         ELSE 'wide' END AS grp
       |    FROM per)""".stripMargin

  /** The two-sample contrast (value, wide) of q134 and q184–q186:
    * per-order whole-dollar revenue of wide (≥ 6 items) vs narrow
    * (≤ 2) orders. */
  def orderWidthValues(s: SparkSession, d: String): DataFrame =
    perOrder(s, d)
      .filter(col("n_items") <= 2 || col("n_items") >= 6)
      .select(expr("cents div 100").as("value"),
        (col("n_items") >= 6).as("wide"))

  /** DuckDB twin of [[orderWidthValues]]: CTEs `per`, `tagged`. */
  val orderWidthValuesSql: String =
    """per AS (SELECT l_orderkey, COUNT(1) AS n_items,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) // 100 AS value
      |  FROM lineitem GROUP BY 1
      |  HAVING COUNT(1) <= 2 OR COUNT(1) >= 6),
      |  tagged AS (SELECT value, n_items >= 6 AS wide FROM per)""".stripMargin

  /** Per-distinct-value wide/narrow counts (value, ca, cb, t) over
    * [[orderWidthValues]] — the rank grid of q134, q184 and q185. */
  def widthCounts(s: SparkSession, d: String): DataFrame =
    orderWidthValues(s, d).groupBy(col("value"))
      .agg(sum(when(col("wide"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("wide"), 1L).otherwise(0L)).as("cb"))
      .withColumn("t", col("ca") + col("cb"))

  /** DuckDB twin of [[widthCounts]]: [[orderWidthValuesSql]] plus CTE
    * `grid` (value, ca, cb). */
  val widthCountsSql: String =
    s"""$orderWidthValuesSql,
       |  grid AS (SELECT value,
       |    CAST(SUM(CASE WHEN wide THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ca,
       |    CAST(SUM(CASE WHEN NOT wide THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cb
       |  FROM tagged GROUP BY 1)""".stripMargin

  /** [[perOrder]] tagged with the customer's nation
    * (nation, n_items, cents). */
  def perOrderNation(s: SparkSession, d: String): DataFrame =
    perOrder(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("n_items"), col("cents"))

  /** Per-nation whole-dollar value grid (nation, v, c) — the input of
    * the q151–q154 order-statistic screens. */
  def nationValueGrid(s: SparkSession, d: String): DataFrame =
    perOrderNation(s, d)
      .select(col("nation"), expr("cents div 100").as("v"))
      .groupBy(col("nation"), col("v"))
      .agg(count(lit(1)).as("c"))

  /** DuckDB twin of [[nationValueGrid]]: CTEs `per`, `pts`, `grid`. */
  val nationValueGridSql: String =
    """per AS (SELECT l_orderkey,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |  pts AS (SELECT n.n_name AS nation, p.rev // 100 AS v
      |  FROM per p
      |  JOIN orders o ON p.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
      |  grid AS (SELECT nation, v, CAST(COUNT(1) AS BIGINT) AS c
      |    FROM pts GROUP BY 1, 2)""".stripMargin

  /** [[nationValueGrid]] with the per-nation cumulative count `cum`
    * (rows at or below v) and total `n` — the order-statistic lookups
    * of q151, q153 and q154 read values off it by the q73 grid rule. */
  def nationValueCum(s: SparkSession, d: String): DataFrame = {
    val wCum = Window.partitionBy(col("nation")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("nation"))
    nationValueGrid(s, d)
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wTot))
  }
  /** DuckDB twin of [[nationValueCum]]: [[nationValueGridSql]]'s CTEs
    * plus `cm` (nation, v, c, cum, n). */
  val nationValueCumSql: String = nationValueGridSql +
    """,
      |  cm AS (SELECT nation, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY nation ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY nation) AS BIGINT) AS n
      |  FROM grid)""".stripMargin


  /** The blocked design of q148 Friedman and q168 Page: the three size
    * buckets ranked by mean order revenue inside each nation (ties
    * broken by bucket name), rank sums over the nation blocks — one
    * row (n_blocks, r_narrow, r_mid, r_wide). */
  def blockRankSums(s: SparkSession, d: String): DataFrame = {
    val obs = perOrderNation(s, d)
      .select(col("nation"), sizeBucket(col("n_items")).as("grp"),
        col("cents"))
      .groupBy(col("nation"), col("grp"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("tot"))
      .withColumn("mean",
        col("tot").cast("double") / col("n_g").cast("double"))
    val w = Window.partitionBy(col("nation"))
      .orderBy(col("mean"), col("grp"))
    obs.withColumn("rk", row_number().over(w).cast("long"))
      .agg(countDistinct(col("nation")).as("n_blocks"),
        sum(when(col("grp") === "narrow", col("rk"))).as("r_narrow"),
        sum(when(col("grp") === "mid", col("rk"))).as("r_mid"),
        sum(when(col("grp") === "wide", col("rk"))).as("r_wide"))
  }

  /** DuckDB twin of [[blockRankSums]]: CTEs `per`, `j`, `m`, `r`,
    * `agg`. */
  val blockRankSumsSql: String =
    s"""$perOrderSql,
       |  j AS (SELECT n.n_name AS nation,
       |    CASE WHEN p.n_items <= 2 THEN 'narrow'
       |         WHEN p.n_items <= 5 THEN 'mid'
       |         ELSE 'wide' END AS grp,
       |    p.cents
       |  FROM per p
       |  JOIN orders o ON p.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |  m AS (SELECT nation, grp, CAST(COUNT(1) AS BIGINT) AS n_g,
       |    CAST(SUM(cents) AS BIGINT) AS tot
       |  FROM j GROUP BY 1, 2),
       |  r AS (SELECT nation, grp,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY nation
       |      ORDER BY CAST(tot AS DOUBLE) / CAST(n_g AS DOUBLE), grp)
       |      AS BIGINT) AS rk
       |  FROM m),
       |  agg AS (SELECT
       |    CAST(COUNT(DISTINCT nation) AS BIGINT) AS n_blocks,
       |    CAST(SUM(CASE WHEN grp = 'narrow' THEN rk END) AS BIGINT)
       |      AS r_narrow,
       |    CAST(SUM(CASE WHEN grp = 'mid' THEN rk END) AS BIGINT)
       |      AS r_mid,
       |    CAST(SUM(CASE WHEN grp = 'wide' THEN rk END) AS BIGINT)
       |      AS r_wide
       |  FROM r)""".stripMargin

  /** One-way ANOVA moment sums over per-bucket (grp, n_g, sx, sxx)
    * rows: totals n, sx_all, sxx_all and the narrow/mid/wide splits
    * na..nc of n_g and sa..sc of sx — q140 on order revenue, q165 on
    * absolute deviations from the bucket medians. */
  def bucketMomentSums: Seq[Column] = Seq(
    sum(col("n_g")).as("n"),
    sum(col("sx")).as("sx_all"),
    sum(col("sxx")).as("sxx_all"),
    sum(when(col("grp") === "narrow", col("n_g"))).as("na"),
    sum(when(col("grp") === "mid", col("n_g"))).as("nb"),
    sum(when(col("grp") === "wide", col("n_g"))).as("nc"),
    sum(when(col("grp") === "narrow", col("sx"))).as("sa"),
    sum(when(col("grp") === "mid", col("sx"))).as("sb"),
    sum(when(col("grp") === "wide", col("sx"))).as("sc"))

  /** The exact one-way F over a [[bucketMomentSums]] row: SSB =
    * Σ(Sx_g²/n_g) − Sx²/N and SSW = Σx² − Σ(Sx_g²/n_g) assemble in
    * doubles with a fixed 3-term sequence identical in both engines;
    * F = (SSB/2)/(SSW/(N − 3)). Adds nd, gsum, ssb, ssw, f_stat. */
  def oneWayF(sums: DataFrame): DataFrame =
    sums
      .withColumn("nd", col("n").cast("double"))
      .withColumn("gsum",
        col("sa").cast("double") * col("sa").cast("double") /
          col("na").cast("double") +
        col("sb").cast("double") * col("sb").cast("double") /
          col("nb").cast("double") +
        col("sc").cast("double") * col("sc").cast("double") /
          col("nc").cast("double"))
      .withColumn("ssb",
        col("gsum") - col("sx_all").cast("double") *
          col("sx_all").cast("double") / col("nd"))
      .withColumn("ssw", col("sxx_all").cast("double") - col("gsum"))
      .withColumn("f_stat",
        col("ssb") / lit(2.0) /
          (col("ssw") / (col("nd") - lit(3.0))))

  // ---- rank grids over (value, grp) rows -----------------------------

  /** Per-distinct-value group counts over (value: Long, grp: String)
    * rows: one column `c<x>` per group (x = a, b, c, … in `groups`
    * order) and their total `t`. */
  def groupCounts(rows: DataFrame, groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 26, "2..26 groups")
    val counts = groups.zipWithIndex.map { case (g, i) =>
      sum(when(col("grp") === g, 1L).otherwise(0L))
        .as(s"c${('a' + i).toChar}")
    }
    rows.groupBy(col("value"))
      .agg(counts.head, counts.tail: _*)
      .withColumn("t", counts.indices
        .map(i => col(s"c${('a' + i).toChar}")).reduce(_ + _))
  }

  /** [[groupCounts]] plus the exact 2× midrank carrier over the pooled
    * distinct-value grid: `below` counts the rows strictly below the
    * value, `r2` = 2·below + t + 1. One cumulative window. */
  def midrankGrid(rows: DataFrame, groups: Seq[String]): DataFrame = {
    val wBelow = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    groupCounts(rows, groups)
      .withColumn("below", coalesce(sum(col("t")).over(wBelow), lit(0L)))
      .withColumn("r2", lit(2L) * col("below") + col("t") + 1L)
  }

  /** DuckDB twin of [[groupCounts]] over [[orderSizeBuckets]]: CTEs
    * `per`, `s`, `ev`, `g`. */
  val bucketCountsSql: String =
    s"""$orderSizeBucketsSql,
       |  ev AS (SELECT value,
       |    CAST(SUM(CASE WHEN grp = 'narrow' THEN 1 ELSE 0
       |      END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN grp = 'mid' THEN 1 ELSE 0
       |      END) AS BIGINT) AS cb,
       |    CAST(SUM(CASE WHEN grp = 'wide' THEN 1 ELSE 0
       |      END) AS BIGINT) AS cc
       |  FROM s GROUP BY 1),
       |  g AS (SELECT value, ca, cb, cc, ca + cb + cc AS t FROM ev)""".stripMargin

  /** DuckDB twin of [[midrankGrid]] over [[orderSizeBuckets]] with the
    * per-bucket rank sums q139 and q163 both take: CTEs up to `agg`
    * (na, nb, nc, ra2, rb2, rc2, tie3). */
  val midrankSumsSql: String =
    s"""$bucketCountsSql,
       |  grid AS (SELECT ca, cb, cc, t,
       |    COALESCE(CAST(SUM(t) OVER (ORDER BY value
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) AS below
       |  FROM g),
       |  r AS (SELECT ca, cb, cc, t, 2 * below + t + 1 AS r2 FROM grid),
       |  agg AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
       |    CAST(SUM(cb) AS BIGINT) AS nb,
       |    CAST(SUM(cc) AS BIGINT) AS nc,
       |    CAST(SUM(ca * r2) AS BIGINT) AS ra2,
       |    CAST(SUM(cb * r2) AS BIGINT) AS rb2,
       |    CAST(SUM(cc * r2) AS BIGINT) AS rc2,
       |    CAST(SUM(t * t * t - t) AS BIGINT) AS tie3 FROM r)""".stripMargin

  // ---- Poisson bootstrap weights -------------------------------------

  /** Deterministic Poisson(1) weights shared by q164 (mean bootstrap)
    * and q170 (median bootstrap): the portable 60-bit md5 hash of
    * (orderkey, replicate) mapped to [0,1), inverted through hardcoded
    * Poisson(1) CDF literals (tail truncated at 9, mass < 1.2e-6).
    * Both queries AND their DuckDB oracles replay the same
    * construction, so the entire bootstrap — CI included — is
    * hash-checked; an RNG bootstrap never could be. Deterministic by
    * key, so weights are stable under task retry (spec-pinned). */
  val poissonCdf: Seq[Double] = Seq(0.36787944117144233,
    0.7357588823428847, 0.9196986029286058, 0.9810118431238463,
    0.9963401531726563, 0.9994058151824183, 0.999916758850712,
    0.9999897508033253, 0.999998874797402)

  def poissonU(okey: Column, b: Column): Column =
    graft.functions.HashFunctions.md5Hash60(concat(
      okey.cast("string"), lit(":"), b.cast("string")))
      .cast("double") / lit(1152921504606846976.0) // 2^60

  def poissonW(u: Column): Column =
    poissonCdf.zipWithIndex.reverse.foldLeft(lit(9L)) {
      case (acc, (c, k)) => when(u < lit(c), lit(k.toLong)).otherwise(acc)
    }

  /** Per-order whole-dollar revenue (l_orderkey, v) — the sample the
    * q164/q170 bootstraps resample. */
  def orderValues(s: SparkSession, d: String): DataFrame =
    perOrder(s, d)
      .select(col("l_orderkey"), expr("cents div 100").as("v"))

  /** [[orderValues]] rows `per` fanned out to `b` bootstrap replicates
    * with their Poisson weight (l_orderkey, v, b, u, w). The SMALL
    * per-order frame is spread before the ×b hash fan-out, not the
    * fact scan: AQE coalesces the few-MB rollup exchange to one
    * partition, which would run all b·|orders| md5s single-task; the
    * explicit repartition pins the fan-out stage at session
    * parallelism for the price of one |orders|-row narrow exchange. */
  def poissonReplicates(per: DataFrame, b: Int): DataFrame =
    per.repartition(per.sparkSession.sparkContext.defaultParallelism)
      .select(col("l_orderkey"), col("v"),
        explode(sequence(lit(1), lit(b))).as("b"))
      .withColumn("u", poissonU(col("l_orderkey"), col("b")))
      .withColumn("w", poissonW(col("u")))

  /** DuckDB twin of [[poissonReplicates]] for b = 32: CTEs `per`
    * (l_orderkey, v), `reps`, `hu`, `ww` (b, v, w). */
  val poissonReplicatesSql: String = {
    val cases = poissonCdf.zipWithIndex.map { case (c, k) =>
      s"WHEN u < $c THEN $k"
    }
    s"""per AS (SELECT l_orderkey,
       |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
       |      AS BIGINT) // 100 AS v
       |  FROM lineitem GROUP BY 1),
       |  reps AS (SELECT p.l_orderkey, p.v, bb.b
       |  FROM per p CROSS JOIN
       |    (SELECT unnest(generate_series(1, 32)) AS b) bb),
       |  hu AS (SELECT v, b,
       |    ${md5Hash60Sql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(b AS VARCHAR)")}
       |      / 1152921504606846976.0 AS u
       |  FROM reps),
       |  ww AS (SELECT b, v,
       |    CASE ${cases.mkString("\n      ")}
       |      ELSE 9 END AS w
       |  FROM hu)""".stripMargin
  }

  // ---- weekly revenue grids ------------------------------------------

  /** Week index of `o_orderdate`: whole weeks since 1992-01-01. */
  def orderWeek: Column =
    expr("CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7")

  /** [[perOrder]] joined to its order (cents, o_custkey, o_orderdate):
    * the frame every weekly grid aggregates. Aggregating the fact
    * table to per-order cents BEFORE the orders join (guide §2.3,
    * aggregate-before-shuffle) makes the orderkey exchange carry
    * |orders| partial sums instead of |lineitem| raw rows; the sum of
    * per-order long sums is the flat long sum, divided once. */
  private def orderCents(s: SparkSession, d: String): DataFrame =
    perOrder(s, d)
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))

  /** The global weekly revenue series (w, y: whole dollars) — one
    * calendar-bounded row per observed week (~350 at ANY data scale),
    * so every single-partition window downstream runs over the grid,
    * never over fact rows. */
  def weeklyRevenue(s: SparkSession, d: String): DataFrame =
    orderCents(s, d)
      .groupBy(orderWeek.as("w"))
      .agg(expr("sum(cents) div 100").as("y"))

  /** [[weeklyRevenue]] with the whole-series OLS moments of y on w as
    * grid-wide window sums — n, sx, sy, sxx, and sxy, syy on the
    * DECIMAL(38,0) carrier — the centred products cc = n·Sxx − Sx²,
    * bb = n·Sxy − Sx·Sy, aa = n·Syy − Sy² and the slope beta = bb/cc:
    * the fit q195 and q199 diagnose. */
  def weeklyOlsMoments(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val wAll = Window.partitionBy(lit(1))
    weeklyRevenue(s, d)
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("w")).over(wAll))
      .withColumn("sy", sum(col("y")).over(wAll))
      .withColumn("sxx", sum(col("w") * col("w")).over(wAll))
      .withColumn("sxy", sum((col("w") * col("y")).cast(dec)).over(wAll))
      .withColumn("syy", sum(col("y").cast(dec) * col("y")).over(wAll))
      .withColumn("cc", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("bb", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("aa", col("n").cast(dec) * col("syy") -
        col("sy").cast(dec) * col("sy").cast(dec))
      .withColumn("beta",
        col("bb").cast("double") / col("cc").cast("double"))
  }

  /** DuckDB twin of [[weeklyRevenue]]: CTE `wk` (w, y). */
  val weeklyRevenueSql: String =
    """wk AS (SELECT
      |    datediff('day', DATE '1992-01-01', o.o_orderdate) // 7 AS w,
      |    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) // 100 AS y
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY 1)""".stripMargin

  /** The weekly two-series carrier of q200/q201 (w, yv, xv): revenue in
    * WHOLE THOUSANDS of dollars (kept small so 4th-order moment
    * products stay ~1e25 at sf0.1 — thirteen orders of precision-38
    * headroom) and the order count per observed week. The per-order
    * rows are unique, so the per-week COUNT DISTINCT of order keys is
    * a plain count(1) — no Expand pass. */
  def weeklyPair(s: SparkSession, d: String): DataFrame =
    orderCents(s, d)
      .groupBy(orderWeek.as("w"))
      .agg(expr("sum(cents) div 100000").as("yv"),
        count(lit(1)).as("xv"))

  /** DuckDB twin of [[weeklyPair]]: CTE `wk` (w, yv, xv). */
  val weeklyPairSql: String =
    """wk AS (SELECT
      |    CAST(datediff('day', DATE '1992-01-01', o_orderdate)
      |      AS BIGINT) // 7 AS w,
      |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
      |      // 100000 AS HUGEINT) AS yv,
      |    CAST(COUNT(DISTINCT l_orderkey) AS HUGEINT) AS xv
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1)""".stripMargin

  /** The (nk = c_nationkey, w, y) weekly revenue grid shared by q155
    * Theil–Sen, q162/q167 Mann–Kendall and q179 Siegel: calendar-
    * bounded (~350 weeks per nation at ANY data scale), so pairwise
    * joins downstream are grid², never rows². Materialized once —
    * every consumer self-joins it. It keys on the int nation key, not
    * the n_name string: consumers join [[nationNames]] back over their
    * |nations|-row results (key↔name is 1:1, so grouping by nk groups
    * exactly as n_name does), and no string rides the hot exchanges. */
  def nationWeeklyRevenue(s: SparkSession, d: String): DataFrame =
    Materialize.LocalCheckpoint(
      orderCents(s, d)
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nk"), orderWeek.as("w"))
        .agg(expr("sum(cents) div 100").as("y")))

  /** The |nations|-row (nk, nation) name lookup consumers of
    * [[nationWeeklyRevenue]] broadcast-join back AFTER their
    * per-nation aggregates. */
  def nationNames(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .select(col("n_nationkey").as("nk"), col("n_name").as("nation"))

  /** DuckDB twin of [[nationWeeklyRevenue]] joined to [[nationNames]]:
    * CTE `wk` (nation, w, y). */
  val nationWeeklyRevenueSql: String =
    """wk AS (SELECT n.n_name AS nation,
      |    datediff('day', DATE '1992-01-01', o.o_orderdate) // 7 AS w,
      |    CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) // 100 AS y
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY 1, 2)""".stripMargin

  /** Per-nation Mann–Kendall trend statistics over
    * [[nationWeeklyRevenue]] — q162, and the test battery q167
    * corrects for multiplicity: S = Σ sign(y_j − y_i) over week pairs,
    * tie-corrected Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 and the
    * continuity-corrected z. S, n and the tie term are exact longs;
    * the only doubles are the final division and one sqrt. Returns
    * (nation, n_values, n_weeks, s_stat, var_s, z). */
  def mannKendall(s: SparkSession, d: String): DataFrame = {
    val wk = nationWeeklyRevenue(s, d)
    val sAgg = wk.as("a").join(wk.as("b"),
        col("a.nk") === col("b.nk") && col("a.w") < col("b.w"))
      .select(col("a.nk").as("nk"),
        signum(col("b.y") - col("a.y")).cast("long").as("sgn"))
      .groupBy(col("nk"))
      .agg(sum(col("sgn")).as("s_stat"))
    val ties = wk.groupBy(col("nk"), col("y"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("nk"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("c")).as("n_weeks"),
        sum(col("c") * (col("c") - 1L) * (lit(2L) * col("c") + 5L))
          .as("tie_term"))
    sAgg.join(ties, "nk")
      .join(broadcast(nationNames(s, d)), "nk")
      .withColumn("var_s",
        (col("n_weeks") * (col("n_weeks") - 1L) *
          (lit(2L) * col("n_weeks") + 5L) - col("tie_term"))
          .cast("double") / lit(18.0))
      .withColumn("z",
        when(col("s_stat") > 0L,
          (col("s_stat") - 1L).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0L,
            (col("s_stat") + 1L).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .select(col("nation"), col("n_values"), col("n_weeks"),
        col("s_stat"), col("var_s"), col("z"))
  }

  /** DuckDB twin of [[mannKendall]] up to the divergence of its two
    * oracles: CTEs `wk`, `sa` (nation, s_stat), `tg` (nation, y, c). */
  val mannKendallSql: String =
    s"""$nationWeeklyRevenueSql,
       |  sa AS (SELECT a.nation,
       |    CAST(SUM(CASE WHEN b.y > a.y THEN 1
       |      WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM wk a JOIN wk b ON a.nation = b.nation AND a.w < b.w
       |  GROUP BY 1),
       |  tg AS (SELECT nation, y, CAST(COUNT(1) AS BIGINT) AS c
       |    FROM wk GROUP BY 1, 2)""".stripMargin

  // ---- period split ----------------------------------------------------

  /** The calendar midpoint of the order-date range as a 1-row frame
    * (mid, in days since 1970-01-01): q112/q121 split their two periods
    * at it. */
  def midDay(s: SparkSession, d: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    Tables.orders(s, d)
      .agg(min(datediff(col("o_orderdate").cast("date"), epoch))
        .as("lo"),
        max(datediff(col("o_orderdate").cast("date"), epoch)).as("hi"))
      .select(expr("CAST((lo + hi + 1) div 2 AS INT)").as("mid"))
  }

  /** DuckDB twin of [[midDay]]: CTE `bounds` (mid). */
  val MidDayCte: String =
    """bounds AS (SELECT CAST((MIN(datediff('day',
               DATE '1970-01-01', CAST(o_orderdate AS DATE)))
             + MAX(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE))) + 1) // 2 AS INT) AS mid
           FROM orders)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MARKET-BASKET association rules (support / confidence / lift)
    // over order baskets, with a-priori pruning: items below the
    // support floor are removed BEFORE pairing, so the quadratic
    // blow-up is bounded by (max basket size)^2 x surviving items —
    // the standard frequent-itemset shape. Scale: the basket frame
    // shuffles once on l_orderkey (the self-join key); per-order pair
    // fan-out is C(basket,2) with TPC-H baskets of ~4-7 lines, so the
    // exchange grows linearly with orders. The per-item count frame is
    // |parts|-sized — broadcast to both the pruning semi-join and the
    // rule stats join, so the big side never reshuffles on partkey.
    "q84_market_basket" -> ((s, d) => {
      val minItem = 20L // item support floor (a-priori prune)
      val minPair = 3L  // rule support floor
      // baskets built IN-ROW (one l_orderkey exchange, the q107/q130
      // round-12 edge-build shape) and cut once: the frame feeds the
      // item counts, the basket total, and the pair fan-out — the old
      // distinct + self-join recomputed the (order, part) exchange
      // three times and shuffled both sides of the pair join
      val baskets = Materialize.LocalCheckpoint(Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps")))
      val cnt = baskets.select(explode(col("ps")).as("l_partkey"))
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      val freq = Materialize.LocalCheckpoint(cnt.filter(col("c") >= minItem))
      // basket total as a 1-row broadcast (scalar rides the plan — no
      // separate driver-side count job)
      val nb = baskets.agg(count(lit(1)).as("n_baskets"))
      // pair fan-out over the FULL basket (no in-row a-priori prune:
      // at this support floor most parts are frequent, and a per-row
      // array_intersect against the ~|parts| frequent set costs
      // O(basket × |freq|) — measured 75 s at sf0.1; the ca/cb inner
      // joins below filter pairs to frequent×frequent anyway, and
      // pair_cnt is a global count the prune never changed)
      val pairs = baskets
        .select(explode(expr(
          "CASE WHEN size(ps) >= 2 THEN flatten(transform(" +
            "sequence(1, size(ps) - 1), i -> transform(" +
            "slice(ps, i + 1, size(ps) - i), " +
            "y -> struct(element_at(ps, i) AS part_a, y AS part_b)))) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<part_a: BIGINT, " +
            "part_b: BIGINT>>) END")).as("e"))
        .select(col("e.part_a").as("part_a"), col("e.part_b").as("part_b"))
        .groupBy(col("part_a"), col("part_b"))
        .agg(count(lit(1)).as("pair_cnt"))
        .filter(col("pair_cnt") >= minPair)
      val ca = broadcast(freq.select(col("l_partkey").as("part_a"),
        col("c").as("cnt_a")))
      val cb = broadcast(freq.select(col("l_partkey").as("part_b"),
        col("c").as("cnt_b")))
      pairs.join(ca, "part_a").join(cb, "part_b")
        .crossJoin(broadcast(nb))
        .select(col("part_a"), col("part_b"), col("pair_cnt"),
          col("cnt_a"), col("cnt_b"),
          (col("pair_cnt").cast("double") / col("n_baskets").cast("double"))
            .as("support"),
          (col("pair_cnt").cast("double") / col("cnt_a").cast("double"))
            .as("conf_a_b"),
          (col("pair_cnt").cast("double") / col("cnt_b").cast("double"))
            .as("conf_b_a"),
          (col("pair_cnt").cast("double") * col("n_baskets").cast("double")
            / (col("cnt_a").cast("double") * col("cnt_b").cast("double")))
            .as("lift"))
        .orderBy(col("part_a"), col("part_b"))
    }),

    // EQUI-DEPTH decile gain table: customers ranked by lifetime
    // spend, cut into 10 equal-count buckets (ntile over a
    // deterministic total order — spend desc, custkey asc so ties
    // never make the bucketing engine-dependent), then per-decile
    // revenue share and cumulative share (the "top 10% of customers
    // drive X% of revenue" curve). Shape: one customer-keyed
    // aggregate, then the EXACT global ntile computed from a
    // range-partitioned two-phase rank (Packing.orderedPrefixSum +
    // ntileFromRank) — no single-task window anywhere: the range
    // exchange is the same one a global orderBy pays, every local
    // window is per-range-partition, and the only unpartitioned
    // window runs over the numShufflePartitions-row offset table.
    // The final agg is 10 rows.
    "q86_decile_gain" -> ((s, d) => {
      // spend carried as integer cents end-to-end (q68 rule: double
      // sums are order-dependent across engines; integer sums are
      // exact and make the ntile order unambiguous)
      val spend = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
          .as("s_cents"))
      // exact NTILE over |customers| WITHOUT a single-task window:
      // range-partitioned global rank + the closed-form bucket rule
      // (Packing.orderedPrefixSum/ntileFromRank)
      val nTot = spend.agg(count(lit(1)).as("n_total"))
      val dec = Packing.orderedPrefixSum(spend,
          Seq(col("s_cents").desc, col("o_custkey")), "s_cents")
        .crossJoin(broadcast(nTot))
        .withColumn("decile",
          Packing.ntileFromRank(col("rnk"), col("n_total"), 10)
            .cast("int"))
      val byDec = dec.groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("s_cents")).as("rev_cents"))
      val wc = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy()
      byDec
        .withColumn("rev", col("rev_cents").cast("double") / lit(100.0))
        .withColumn("pct", col("rev_cents").cast("double")
          / sum(col("rev_cents")).over(wt).cast("double"))
        .withColumn("cum_pct",
          sum(col("rev_cents")).over(wc).cast("double")
            / sum(col("rev_cents")).over(wt).cast("double"))
        .select(col("decile"), col("n_cust"), col("rev"), col("pct"),
          col("cum_pct"))
        .orderBy(col("decile"))
    }),

    // ABC / PARETO classification: parts ranked by revenue, classified
    // A (first 80% of cumulative revenue), B (to 95%), C (tail) — the
    // classic inventory-stratification table behind "which 20% of SKUs
    // make 80% of revenue". Scale: the only full-data exchange is the
    // per-part aggregate (partial agg collapses lineitem map-side to
    // |parts| rows); the exact cumulative-revenue curve then comes
    // from the range-partitioned two-phase prefix sum
    // (Packing.orderedPrefixSum) — per-range local windows plus a
    // numShufflePartitions-row offset table, never a single task
    // holding the |parts| frame. Revenue is integer cents end-to-end;
    // the two divisions happen at the final projection.
    "q89_abc_pareto" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
          * lit(100d)).cast("long")).as("cents"))
      val tot = rev.agg(sum(col("cents")).as("tot_cents"))
      // exact cum-share curve WITHOUT a single-task global window: the
      // two-phase range-partitioned prefix sum (Packing.orderedPrefixSum,
      // m08's pattern over an arbitrary total order)
      Packing.orderedPrefixSum(rev,
          Seq(col("cents").desc, col("l_partkey")), "cents")
        .withColumnRenamed("cum", "cum_cents")
        .crossJoin(broadcast(tot))
        .withColumn("cum_share",
          col("cum_cents").cast("double") / col("tot_cents").cast("double"))
        .withColumn("abc_class",
          when(col("cum_share") <= 0.80, "A")
            .when(col("cum_share") <= 0.95, "B")
            .otherwise("C"))
        .groupBy(col("abc_class"))
        .agg(count(lit(1)).as("n_parts"),
          (sum(col("cents")).cast("double") / lit(100.0)).as("revenue"),
          (sum(col("cents")).cast("double")
            / first(col("tot_cents")).cast("double")).as("rev_share"))
        .orderBy(col("abc_class"))
    }),

    // OPEN-ORDER backlog AGING: every not-fully-shipped order bucketed
    // by age against the corpus's last order date — the
    // operations-review table ("how much value is stuck, and for how
    // long"). Scale: the reference date is a 1-row broadcast scalar
    // (no driver-side max), ages are integer days computed in-row, and
    // the rollup is priority x bucket (tiny). Value is integer cents.
    "q90_order_aging" -> ((s, d) => {
      val o = Tables.orders(s, d).filter(col("o_orderstatus") =!= "F")
      val ref = Tables.orders(s, d)
        .agg(max(to_date(col("o_orderdate"))).as("ref_day"))
      o.crossJoin(broadcast(ref))
        .withColumn("age_days",
          datediff(col("ref_day"), to_date(col("o_orderdate"))))
        .withColumn("age_bucket",
          when(col("age_days") <= 365, "y0_1")
            .when(col("age_days") <= 1095, "y1_3")
            .otherwise("y3_plus"))
        .groupBy(col("o_orderpriority"), col("age_bucket"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(round(col("o_totalprice") * lit(100)).cast("long"))
            .cast("double") / lit(100.0)).as("open_value"),
          max(col("age_days")).cast("long").as("oldest_days"))
        .orderBy(col("o_orderpriority"), col("age_bucket"))
    }),

    // Cross-border TRADE matrix (the TPC-H Q7 shape): revenue between
    // every (supplier nation, customer nation) pair where the two
    // differ — the classic two-dimension star rollup through BOTH
    // dimension chains (lineitem→supplier→nation and lineitem→orders→
    // customer→nation). Scale: the one fact-fact join (lineitem ⋈
    // orders on orderkey) shuffles on the natural co-partition key —
    // bucketing both on orderkey (q55) removes even that; every
    // dimension hop is a broadcast (customer broadcasts at these SFs;
    // at 100 TB it becomes a shuffle equi-join on o_custkey, same plan
    // otherwise). Revenue is integer cents; the rollup is
    // |nations|² rows.
    "q93_trade_matrix" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
          * lit(100d)).cast("long").as("cents"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"))
      val cust = Tables.customer(s, d).select(col("c_custkey"),
        col("c_nationkey").as("cust_nk"))
      val supp = Tables.supplier(s, d).select(col("s_suppkey"),
        col("s_nationkey").as("supp_nk"))
      val nat = Tables.nation(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("supp_nk") === col("snk"))
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("cust_nk") === col("cnk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"))
        .agg(count(lit(1)).as("n_lines"),
          (sum(col("cents")).cast("double") / lit(100.0)).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"))
    }),

    // ORDER-SIZE histogram: the distribution of lines per order plus
    // each size's share of orders and of revenue — the basket-shape
    // profile read next to q84's association rules (pair fan-out
    // there is C(basket, 2); this is the table that bounds it) and
    // the input to batch-size tuning anywhere per-order work fans
    // out. Scale: one orderkey-keyed aggregate collapses lineitem
    // map-side; the histogram frame is ≤ max-basket-size rows and the
    // share window runs over it, never the facts. Integer cents.
    "q94_order_size_histogram" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
            * lit(100d)).cast("long")).as("cents"))
      val hist = per.groupBy(col("n_lines"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
      val w = Window.partitionBy()
      hist.withColumn("order_share",
          col("n_orders").cast("double")
            / sum(col("n_orders")).over(w).cast("double"))
        .withColumn("revenue_share",
          col("cents").cast("double")
            / sum(col("cents")).over(w).cast("double"))
        .select(col("n_lines"), col("n_orders"),
          (col("cents").cast("double") / lit(100.0)).as("revenue"),
          col("order_share"), col("revenue_share"))
        .orderBy(col("n_lines"))
    }),

    // Supplier FULFILLMENT-LAG profile by nation: days from order
    // placement to line shipment, and the slow-fulfillment rate
    // (lag > 90 days), rolled up per supplier nation — the
    // logistics-SLA table behind "which supply region is slipping".
    // Scale shape: the one fact-fact join (lineitem × orders) carries
    // only (orderkey, suppkey, shipdate) vs (orderkey, orderdate) —
    // 8-byte keys plus a date each side, never fact width; lag/slow
    // are row-local integer date arithmetic after the join; supplier
    // joins on its key and nation broadcasts; the rollup
    // partial-aggregates map-side to |nations| rows. Integer sums
    // end-to-end, two divisions at the final projection. At warehouse
    // scale, bucket both fact tables by orderkey (q55's layout) and
    // this join goes exchange-free.
    "q97_fulfillment_lag" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .withColumn("lag_days",
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
        .withColumn("slow",
          when(col("lag_days") > 90L, 1L).otherwise(0L))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("lag_days")).as("total_lag_days"),
          max(col("lag_days")).as("max_lag_days"),
          sum(col("slow")).as("n_slow"))
        .withColumn("mean_lag_days",
          col("total_lag_days").cast("double")
            / col("n_items").cast("double"))
        .withColumn("slow_rate",
          col("n_slow").cast("double") / col("n_items").cast("double"))
        .select(col("n_name"), col("n_items"), col("total_lag_days"),
          col("max_lag_days"), col("n_slow"), col("mean_lag_days"),
          col("slow_rate"))
        .orderBy(col("n_name"))
    }),

    // REVENUE CONCENTRATION per region: Herfindahl–Hirschman index over
    // supplier revenue shares, plus the top-supplier share — the
    // market-structure table behind "is this supply region dominated
    // by one vendor". HHI = sum(rev_i^2) / (sum rev_i)^2 computed on
    // exact integer cents (decimal(18,0) squared fits decimal(37,0);
    // DuckDB mirrors in HUGEINT), so both engines round the SAME exact
    // integers to double at the final projection — no order-dependent
    // float accumulation. Scale shape: supplier revenue is one
    // map-side-combined exchange on l_suppkey (8-byte key + long);
    // supplier→nation→region is a key join plus two dim broadcasts;
    // the final agg is |regions| rows.
    "q100_hhi_concentration" -> ((s, d) => {
      val dec = DecimalType(18, 0)
      val rev = Tables.lineitem(s, d)
        .select(col("l_suppkey"),
          graft.Parity.cents2(col("l_extendedprice")).as("c"))
        .groupBy(col("l_suppkey")).agg(sum(col("c")).as("rev_cents"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))
      val geo = broadcast(Tables.nation(s, d)
        .join(Tables.region(s, d),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("r_name")))
      rev.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(geo, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("rev_cents")).as("tot_cents"),
          sum(col("rev_cents").cast(dec) * col("rev_cents").cast(dec))
            .as("sumsq"),
          max(col("rev_cents")).as("max_cents"))
        .select(col("r_name"), col("n_suppliers"),
          (col("tot_cents").cast("double") / lit(100.0)).as("revenue"),
          (col("sumsq").cast("double")
            / (col("tot_cents").cast("double")
              * col("tot_cents").cast("double"))).as("hhi"),
          (col("max_cents").cast("double")
            / col("tot_cents").cast("double")).as("top_share"))
        .orderBy(col("r_name"))
    }),

    // DISCOUNT-BAND effectiveness: lineitems bucketed by discount
    // percent, with volume, gross revenue, the discount's cost and its
    // share of gross per band — the promotion-pricing table behind
    // "does a deeper discount actually move volume" (discount appears
    // everywhere else only as a revenue multiplier; here it is the
    // DIMENSION). Carriers are integer cents (the q68 rule); the
    // per-row discount cost rounds the same IEEE product in both
    // engines (round(px·disc·100), the q89 precedent). Scale
    // shape: one map-side-combined exchange to ~11 bands; every
    // division happens on the tiny final frame.
    "q102_discount_effectiveness" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(
          round(col("l_discount") * lit(100)).cast("int").as("disc_pct"),
          graft.Parity.cents2(col("l_quantity")).as("qc"),
          graft.Parity.cents2(col("l_extendedprice")).as("gc"),
          round(col("l_extendedprice") * col("l_discount") * lit(100))
            .cast("long").as("dc"))
        .groupBy(col("disc_pct"))
        .agg(count(lit(1)).as("n_lines"), sum(col("qc")).as("sq"),
          sum(col("gc")).as("sg"), sum(col("dc")).as("sd"))
        .select(col("disc_pct"), col("n_lines"),
          (col("sq").cast("double") / lit(100.0)
            / col("n_lines").cast("double")).as("avg_qty"),
          (col("sg").cast("double") / lit(100.0)).as("gross_revenue"),
          (col("sd").cast("double") / lit(100.0)).as("discount_cost"),
          (col("sd").cast("double") / col("sg").cast("double"))
            .as("cost_share"))
        .orderBy(col("disc_pct"))
    }),

    // RATIO-TO-REPORT: each nation's revenue share of its region plus
    // its within-region rank — the classic share-of-total window pair
    // (q02 aggregates regions; this decomposes them). Revenue rides
    // exact cents (q104 rule); the share division is the only double
    // op and both engines divide the same two exact integers. Rank
    // orders by the exact cents value (ties impossible to mis-order:
    // deterministic tie-break on n_name is part of the sort). Scale
    // shape: one exchange on o_custkey for the customer join,
    // nation/region broadcast; partial-agg to |nations| rows; windows
    // run over that tiny frame.
    "q109_revenue_share" -> ((s, d) => {
      val geo = broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name")))
      val byNation = Tables.orders(s, d)
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .join(geo, col("o_custkey") === col("c_custkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("cents")).as("cents"))
      val wr = Window.partitionBy(col("r_name"))
      byNation
        .withColumn("region_cents", sum(col("cents")).over(wr))
        .withColumn("rnk", rank().over(
          wr.orderBy(col("cents").desc, col("n_name"))))
        .select(col("r_name"), col("n_name"),
          (col("cents").cast("double") / 100.0).as("revenue"),
          (col("cents").cast("double") /
            col("region_cents").cast("double")).as("share"),
          col("rnk").cast("int").as("rnk"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // PRICE-VOLUME-MIX decomposition — the FP&A bridge that explains a
    // revenue change between two periods as three additive effects per
    // market segment: volume (total quantity growth at constant mix
    // and price), mix (segment share shift at old prices), and price
    // (unit-price change on new volume). The identity
    // volume + mix + price = Δrevenue holds exactly in the reals and
    // to double rounding here (pinned in spec). Periods split at the
    // calendar midpoint of the order-date range — a 1-row broadcast
    // scalar against the fact stream (the q69/q90 pattern), never a
    // driver round-trip. All carriers are exact integer cents /
    // quantities; every effect is one shared-structure double
    // expression, so both engines agree bit-for-bit. Scale shape: one
    // exchange on o_custkey for the segment join (customer side
    // co-partitioned), partial-agg to |segments|×2 cells; the totals
    // window runs over 5 rows.
    "q112_price_volume_mix" -> ((s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val bounds = midDay(s, d)
      val base = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          round(col("l_quantity")).cast("long").as("q"),
          round(col("l_extendedprice") * 100).cast("long").as("r"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), epoch).as("day"),
          col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d).select(col("c_custkey"),
          col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(bounds), lit(true))
        .withColumn("period", when(col("day") < col("mid"), 1)
          .otherwise(2))
      val seg = base.groupBy(col("segment")).agg(
        sum(when(col("period") === 1, col("q")).otherwise(0L)).as("q1"),
        sum(when(col("period") === 2, col("q")).otherwise(0L)).as("q2"),
        sum(when(col("period") === 1, col("r")).otherwise(0L)).as("r1"),
        sum(when(col("period") === 2, col("r")).otherwise(0L)).as("r2"))
      val w = Window.partitionBy()
      val dd = (c: Column) => c.cast("double")
      seg
        .withColumn("tq1", sum(col("q1")).over(w))
        .withColumn("tq2", sum(col("q2")).over(w))
        .filter(col("q1") > 0 && col("q2") > 0)
        .select(col("segment"),
          (dd(col("r1")) / 100.0).as("rev1"),
          (dd(col("r2")) / 100.0).as("rev2"),
          (dd(col("r2") - col("r1")) / 100.0).as("delta"),
          (dd(col("tq2") - col("tq1")) * (dd(col("q1")) / dd(col("tq1")))
            * (dd(col("r1")) / dd(col("q1"))) / 100.0)
            .as("volume_effect"),
          (dd(col("tq2")) * (dd(col("q2")) / dd(col("tq2"))
              - dd(col("q1")) / dd(col("tq1")))
            * (dd(col("r1")) / dd(col("q1"))) / 100.0).as("mix_effect"),
          (dd(col("q2")) * (dd(col("r2")) / dd(col("q2"))
              - dd(col("r1")) / dd(col("q1"))) / 100.0).as("price_effect"))
        .orderBy(col("segment"))
    }),

    // SKYLINE (Pareto frontier) of suppliers on (mean item price, mean
    // ship lag) — "no supplier is both cheaper and faster". The means
    // are QUANTIZED to exact milli-unit integers with integral
    // division ((Σ·1000) div n — deterministic in both engines, no
    // float averages), and dominance is then decided by two windows
    // over the sorted frame instead of the naive O(n²) dominance
    // self-join: a supplier is dominated iff a STRICTLY-cheaper row
    // has lag ≤ its own (RANGE frame to cost−1) or an equal-cost row
    // has strictly smaller lag (per-cost partition min) — the
    // sort-based 2-D skyline sweep, O(n log n) at any scale. Scale
    // shape: one exchange keyed on l_orderkey for the order join, one
    // on l_suppkey for the partial-agg; the windows run over the
    // |suppliers| dimension frame.
    "q113_supplier_skyline" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_shipdate").cast("date").as("sd"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          sum(datediff(col("sd"), col("od")).cast("long")).as("sl"))
        .select(col("l_suppkey").as("suppkey"), col("n").as("n_items"),
          expr("CAST((CAST(sc AS DECIMAL(38,0)) * 1000) div n AS BIGINT)")
            .as("cost_milli"),
          expr("CAST((CAST(sl AS DECIMAL(38,0)) * 1000) div n AS BIGINT)")
            .as("lag_milli"))
      val wCheaper = Window.orderBy(col("cost_milli"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSameCost = Window.partitionBy(col("cost_milli"))
      per
        .withColumn("m1", min(col("lag_milli")).over(wCheaper))
        .withColumn("m2", min(col("lag_milli")).over(wSameCost))
        .select(col("suppkey"), col("n_items"), col("cost_milli"),
          col("lag_milli"),
          ((col("m1").isNull || col("m1") > col("lag_milli")) &&
            col("m2") === col("lag_milli")).as("is_skyline"))
        .orderBy(col("suppkey"))
    }),

    // ORDER BACKLOG curve: per calendar day of the DENSE day grid, how
    // many orders opened, how many fully shipped (every lineitem
    // shipped — the order's max ship date), and the running open-order
    // backlog — the operations curve behind q90's point-in-time aging
    // snapshot (q90 buckets ONE day; this is the whole trajectory).
    // All integer counts; the cumulative windows run ordered over the
    // calendar frame (a few thousand rows at any corpus scale — a
    // single-partition window over the GRID is the correct plan, the
    // t28 stance, because the grid does not grow with the fact table).
    // Scale shape: opens and closes each partial-aggregate to
    // |days|-sized frames before any exchange (closes first reduce
    // lineitem on l_orderkey); the grid explodes from a 1-row bounds
    // aggregate of those frames, never from the facts.
    "q115_order_backlog_curve" -> ((s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val opens = Tables.orders(s, d)
        .select(datediff(col("o_orderdate").cast("date"), epoch)
          .as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_opened"))
      val closes = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          datediff(col("l_shipdate").cast("date"), epoch).as("sd"))
        .groupBy(col("l_orderkey")).agg(max(col("sd")).as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n_closed"))
      val grid = opens.select(col("day"))
        .unionAll(closes.select(col("day")))
        .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(opens, Seq("day"), "left")
        .join(closes, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_opened"), lit(0L)).as("n_opened"),
          coalesce(col("n_closed"), lit(0L)).as("n_closed"))
        .withColumn("backlog",
          sum(col("n_opened") - col("n_closed")).over(w))
        .select(date_add(epoch, col("day")).cast("string").as("dt"),
          col("n_opened"), col("n_closed"), col("backlog"))
        .orderBy(col("dt"))
    }),

    // FULFILLMENT-LAG percentile trend: weekly p50 / p90 / max of the
    // order→ship lag — the SLO trend table (q97 profiles nations with
    // means; tail percentiles over time are what an ops review
    // actually watches, because the mean hides the tail). Exact
    // interpolated percentiles over integer lag days (the q50-proven
    // cross-engine pair: Spark `percentile` ↔ DuckDB `quantile_cont`);
    // weeks are days-since-epoch div 7 (q104 rule). Scale shape: one
    // exchange on l_orderkey for the order join, then a partial-agg
    // keyed by week; the percentile sort happens within each week's
    // group only.
    "q117_lag_percentile_trend" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          col("l_shipdate").cast("date").as("sd"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("od")),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          expr("CAST(datediff(od, DATE '1970-01-01') div 7 AS BIGINT)")
            .as("wk"),
          datediff(col("sd"), col("od")).cast("long").as("lag"))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(lag, 0.5)").as("p50"),
          expr("percentile(lag, 0.9)").as("p90"),
          max(col("lag")).as("max_lag"))
        .orderBy(col("wk"))
    }),

    // ABC-CLASS MIGRATION matrix — q89's Pareto classes made dynamic:
    // parts classified A/B/C by cumulative revenue share in each half
    // of the calendar (q112's midpoint split), cross-tabulated into
    // the class-transition matrix, with parts absent from a period in
    // class 'N'. The A→C / C→A cells are the portfolio-churn signal a
    // static Pareto cut (q89) cannot show. Same class rule as q89
    // (cum_share ≤ 0.80 / 0.95, deterministic (cents desc, partkey)
    // cumulative order); revenue per-row-rounded integer cents. Scale
    // shape: one exchange on l_orderkey for the date join, partial-agg
    // to (period, part) cells, per-period windows over the part
    // dimension frame, and a part-keyed full-outer self-join of the
    // two tiny classed frames.
    "q121_abc_migration" -> ((s, d) => {
      val epoch = to_date(lit("1970-01-01"))
      val bounds = midDay(s, d)
      val rev = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"),
          round(col("l_extendedprice") * (lit(1d) - col("l_discount"))
            * lit(100d)).cast("long").as("cents"))
        .join(Tables.orders(s, d).select(col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), epoch).as("day")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(bounds), lit(true))
        .withColumn("period", when(col("day") < col("mid"), 1)
          .otherwise(2))
        .groupBy(col("period"), col("l_partkey"))
        .agg(sum(col("cents")).as("cents"))
      val wCum = Window.partitionBy(col("period"))
        .orderBy(col("cents").desc, col("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("period"))
      // both period branches of the migration join consume this frame —
      // cut it so the fact join + windows run once (the d21 lesson)
      val classed = Materialize.LocalCheckpoint(rev
        .withColumn("cum", sum(col("cents")).over(wCum))
        .withColumn("tot", sum(col("cents")).over(wTot))
        .withColumn("cum_share",
          col("cum").cast("double") / col("tot").cast("double"))
        .select(col("period"), col("l_partkey"),
          when(col("cum_share") <= 0.80, "A")
            .when(col("cum_share") <= 0.95, "B")
            .otherwise("C").as("cls")))
      classed.filter(col("period") === 1)
        .select(col("l_partkey"), col("cls").as("c1"))
        .join(classed.filter(col("period") === 2)
          .select(col("l_partkey"), col("cls").as("c2")),
          Seq("l_partkey"), "full_outer")
        .select(coalesce(col("c1"), lit("N")).as("class_p1"),
          coalesce(col("c2"), lit("N")).as("class_p2"))
        .groupBy(col("class_p1"), col("class_p2"))
        .agg(count(lit(1)).as("n_parts"))
        .orderBy(col("class_p1"), col("class_p2"))
    }),

    // GINI COEFFICIENT + LORENZ TOP-DECILE SHARE per nation — the
    // inequality companion to q100's HHI (HHI says "how concentrated
    // among the top few", Gini measures the WHOLE distribution's
    // skew): how unequally is customer revenue distributed inside each
    // nation? Exact with no row-level sort window: per-(nation, cents)
    // counts carry cumulative counts (the q137 value-grid stance), and
    // the sorted rank-sum Σ i·x_(i) collapses per value to
    // cents·(cnt·below + cnt·(cnt+1)/2) — ties contribute their exact
    // rank run. Gini = 2·Σi·x/(n·Σx) − (n+1)/n, assembled from exact
    // longs with identical-sequence divisions; the top-10% share
    // reuses q137's interval intersection against the top-g band.
    // Scale shape: the only exchanges are the per-customer rollup and
    // the (nation, cents) grid; cumulative windows run per nation over
    // the grid.
    "q138_gini_lorenz" -> ((s, d) => {
      val custRev = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sum(Parity.cents2(col("o_totalprice"))).as("cents"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("cents"))
      val grid = custRev.groupBy(col("nation"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
      val wCum = Window.partitionBy(col("nation")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("nation"))
      val marked = grid
        .withColumn("cum", sum(col("cnt")).over(wCum))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .withColumn("g", expr("(n + 9) div 10"))
        .withColumn("ranksum",
          col("cents") * (col("cnt") * (col("cum") - col("cnt")) +
            expr("cnt * (cnt + 1) div 2")))
        .withColumn("topcnt", greatest(lit(0L),
          col("cum") - greatest(col("cum") - col("cnt"),
            col("n") - col("g"))))
      // the rank-sum rides a DECIMAL(38,0) integer carrier: per-nation
      // Σi·x_i ≤ n·Σx overflows a long near sf~10, and the grid is
      // value-sized, so the decimal add is off the fact path; integer
      // decimals cast to double bit-identically on both engines (the
      // q68 note)
      marked.groupBy(col("nation"))
        .agg(max(col("n")).as("n_customers"), max(col("g")).as("g"),
          sum(col("cents") * col("cnt")).as("total"),
          sum(col("ranksum").cast(
            org.apache.spark.sql.types.DecimalType(38, 0))).as("rs"),
          sum(col("cents") * col("topcnt")).as("top_rev"))
        .select(col("nation"), col("n_customers"),
          (lit(2.0) * col("rs").cast("double") /
            (col("n_customers").cast("double") *
              col("total").cast("double")) -
            (col("n_customers") + 1L).cast("double") /
              col("n_customers").cast("double")).as("gini"),
          (col("top_rev").cast("double") / col("total").cast("double"))
            .as("top_decile_share"))
        .orderBy(col("nation"))
    }))

  def oracleSql: Map[String, String] = Map(

    "q84_market_basket" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         cnt AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY 1),
         freq AS (SELECT * FROM cnt WHERE c >= 20),
         fb AS (SELECT b.* FROM b JOIN freq USING (l_partkey)),
         nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM b),
         pairs AS (
           SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b,
                  COUNT(*) AS pair_cnt
           FROM fb a JOIN fb b2
             ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
           GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         SELECT p.part_a, p.part_b, p.pair_cnt,
                ca.c AS cnt_a, cb.c AS cnt_b,
                CAST(p.pair_cnt AS DOUBLE) / CAST(nb.n AS DOUBLE) AS support,
                CAST(p.pair_cnt AS DOUBLE) / CAST(ca.c AS DOUBLE) AS conf_a_b,
                CAST(p.pair_cnt AS DOUBLE) / CAST(cb.c AS DOUBLE) AS conf_b_a,
                CAST(p.pair_cnt AS DOUBLE) * CAST(nb.n AS DOUBLE)
                  / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE)) AS lift
         FROM pairs p
         JOIN freq ca ON ca.l_partkey = p.part_a
         JOIN freq cb ON cb.l_partkey = p.part_b
         CROSS JOIN nb
         ORDER BY p.part_a, p.part_b""",

    "q86_decile_gain" ->
      """WITH spend AS (SELECT o_custkey,
                               SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                                 AS s_cents
                        FROM orders GROUP BY 1),
         dec AS (SELECT *, ntile(10) OVER (ORDER BY s_cents DESC, o_custkey)
                   AS decile FROM spend)
         SELECT decile, COUNT(*) AS n_cust,
                CAST(SUM(s_cents) AS DOUBLE) / 100.0 AS rev,
                CAST(SUM(s_cents) AS DOUBLE)
                  / CAST(SUM(SUM(s_cents)) OVER () AS DOUBLE) AS pct,
                CAST(SUM(SUM(s_cents)) OVER (ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / CAST(SUM(SUM(s_cents)) OVER () AS DOUBLE) AS cum_pct
         FROM dec GROUP BY 1 ORDER BY 1""",

    "q89_abc_pareto" ->
      """WITH rev AS (SELECT l_partkey,
             SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS cents
           FROM lineitem GROUP BY 1),
         cum AS (SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_cents,
             SUM(cents) OVER () AS tot_cents
           FROM rev),
         cls AS (SELECT cents, tot_cents,
             CASE WHEN CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)
                    <= 0.80 THEN 'A'
                  WHEN CAST(cum_cents AS DOUBLE) / CAST(tot_cents AS DOUBLE)
                    <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
           FROM cum)
         SELECT abc_class, COUNT(*) AS n_parts,
                CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0
                  AS revenue,
                CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE)
                  / CAST(ANY_VALUE(tot_cents) AS DOUBLE) AS rev_share
         FROM cls GROUP BY 1 ORDER BY 1""",

    "q90_order_aging" ->
      """WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_day
                      FROM orders),
         aged AS (SELECT o_orderpriority, o_totalprice,
             date_diff('day', CAST(o_orderdate AS DATE), ref.ref_day)
               AS age_days
           FROM orders, ref WHERE o_orderstatus <> 'F')
         SELECT o_orderpriority,
                CASE WHEN age_days <= 365 THEN 'y0_1'
                     WHEN age_days <= 1095 THEN 'y1_3'
                     ELSE 'y3_plus' END AS age_bucket,
                COUNT(*) AS n_orders,
                CAST(CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS DOUBLE) / 100.0 AS open_value,
                CAST(MAX(age_days) AS BIGINT) AS oldest_days
         FROM aged GROUP BY 1, 2 ORDER BY 1, 2""",

    "q93_trade_matrix" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                COUNT(*) AS n_lines,
                CAST(CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                  * 100) AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0
                  AS revenue
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation sn ON s.s_nationkey = sn.n_nationkey
         JOIN nation cn ON c.c_nationkey = cn.n_nationkey
         WHERE sn.n_name <> cn.n_name
         GROUP BY 1, 2 ORDER BY 1, 2""",

    "q94_order_size_histogram" ->
      """WITH per AS (SELECT l_orderkey, COUNT(*) AS n_lines,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS cents
           FROM lineitem GROUP BY 1),
         hist AS (SELECT n_lines, COUNT(*) AS n_orders,
                    CAST(SUM(cents) AS BIGINT) AS cents
                  FROM per GROUP BY 1)
         SELECT n_lines, n_orders,
                CAST(cents AS DOUBLE) / 100.0 AS revenue,
                CAST(n_orders AS DOUBLE)
                  / CAST(CAST(SUM(n_orders) OVER () AS BIGINT) AS DOUBLE)
                  AS order_share,
                CAST(cents AS DOUBLE)
                  / CAST(CAST(SUM(cents) OVER () AS BIGINT) AS DOUBLE)
                  AS revenue_share
         FROM hist ORDER BY n_lines""",

    "q97_fulfillment_lag" ->
      """WITH li AS (SELECT l_suppkey,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_days
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         lg AS (SELECT l_suppkey, lag_days,
           CASE WHEN lag_days > 90 THEN 1 ELSE 0 END AS slow FROM li)
         SELECT n_name, COUNT(1) AS n_items,
           CAST(SUM(lag_days) AS BIGINT) AS total_lag_days,
           MAX(lag_days) AS max_lag_days,
           CAST(SUM(slow) AS BIGINT) AS n_slow,
           CAST(CAST(SUM(lag_days) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(1) AS DOUBLE) AS mean_lag_days,
           CAST(CAST(SUM(slow) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(1) AS DOUBLE) AS slow_rate
         FROM lg
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name""",

    "q100_hhi_concentration" ->
      """WITH rev AS (SELECT l_suppkey,
             SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS rev_cents
           FROM lineitem GROUP BY 1)
         SELECT r_name, COUNT(1) AS n_suppliers,
           CAST(CAST(SUM(rev_cents) AS BIGINT) AS DOUBLE) / 100.0
             AS revenue,
           CAST(SUM(CAST(rev_cents AS HUGEINT) * rev_cents) AS DOUBLE)
             / (CAST(CAST(SUM(rev_cents) AS BIGINT) AS DOUBLE)
               * CAST(CAST(SUM(rev_cents) AS BIGINT) AS DOUBLE)) AS hhi,
           CAST(MAX(rev_cents) AS DOUBLE)
             / CAST(CAST(SUM(rev_cents) AS BIGINT) AS DOUBLE) AS top_share
         FROM rev
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",

    "q102_discount_effectiveness" ->
      """WITH b AS (SELECT
             CAST(round(l_discount * 100) AS INT) AS disc_pct,
             CAST(round(l_quantity * 100) AS BIGINT) AS qc,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS gc,
             CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)
               AS dc
           FROM lineitem)
         SELECT disc_pct, COUNT(1) AS n_lines,
           CAST(CAST(SUM(qc) AS BIGINT) AS DOUBLE) / 100.0
             / CAST(COUNT(1) AS DOUBLE) AS avg_qty,
           CAST(CAST(SUM(gc) AS BIGINT) AS DOUBLE) / 100.0
             AS gross_revenue,
           CAST(CAST(SUM(dc) AS BIGINT) AS DOUBLE) / 100.0
             AS discount_cost,
           CAST(CAST(SUM(dc) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(gc) AS BIGINT) AS DOUBLE) AS cost_share
         FROM b GROUP BY disc_pct ORDER BY disc_pct""",

    "q109_revenue_share" ->
      """WITH by_nation AS (SELECT r_name, n_name,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           GROUP BY 1, 2)
         SELECT r_name, n_name,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(cents AS DOUBLE)
             / CAST(CAST(SUM(cents) OVER (PARTITION BY r_name)
                 AS BIGINT) AS DOUBLE) AS share,
           CAST(rank() OVER (PARTITION BY r_name
             ORDER BY cents DESC, n_name) AS INT) AS rnk
         FROM by_nation
         ORDER BY r_name, n_name""",

    "q112_price_volume_mix" ->
      s"""WITH $MidDayCte,
         base AS (SELECT c_mktsegment AS segment,
             CASE WHEN datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) < mid THEN 1 ELSE 2 END
               AS period,
             CAST(round(l_quantity) AS BIGINT) AS q,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS r
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           CROSS JOIN bounds),
         seg AS (SELECT segment,
             CAST(SUM(CASE WHEN period = 1 THEN q ELSE 0 END) AS BIGINT)
               AS q1,
             CAST(SUM(CASE WHEN period = 2 THEN q ELSE 0 END) AS BIGINT)
               AS q2,
             CAST(SUM(CASE WHEN period = 1 THEN r ELSE 0 END) AS BIGINT)
               AS r1,
             CAST(SUM(CASE WHEN period = 2 THEN r ELSE 0 END) AS BIGINT)
               AS r2
           FROM base GROUP BY 1),
         tot AS (SELECT segment, q1, q2, r1, r2,
             CAST(SUM(q1) OVER () AS BIGINT) AS tq1,
             CAST(SUM(q2) OVER () AS BIGINT) AS tq2
           FROM seg)
         SELECT segment,
           CAST(r1 AS DOUBLE) / 100.0 AS rev1,
           CAST(r2 AS DOUBLE) / 100.0 AS rev2,
           CAST(r2 - r1 AS DOUBLE) / 100.0 AS delta,
           CAST(tq2 - tq1 AS DOUBLE)
             * (CAST(q1 AS DOUBLE) / CAST(tq1 AS DOUBLE))
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)) / 100.0
             AS volume_effect,
           CAST(tq2 AS DOUBLE)
             * (CAST(q2 AS DOUBLE) / CAST(tq2 AS DOUBLE)
                - CAST(q1 AS DOUBLE) / CAST(tq1 AS DOUBLE))
             * (CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)) / 100.0
             AS mix_effect,
           CAST(q2 AS DOUBLE)
             * (CAST(r2 AS DOUBLE) / CAST(q2 AS DOUBLE)
                - CAST(r1 AS DOUBLE) / CAST(q1 AS DOUBLE)) / 100.0
             AS price_effect
         FROM tot WHERE q1 > 0 AND q2 > 0
         ORDER BY segment""",

    "q113_supplier_skyline" ->
      """WITH per AS (SELECT l_suppkey AS suppkey, COUNT(1) AS n,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS sc,
             CAST(SUM(datediff('day', CAST(o_orderdate AS DATE),
               CAST(l_shipdate AS DATE))) AS BIGINT) AS sl
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1),
         qn AS (SELECT suppkey, n AS n_items,
             CAST((CAST(sc AS HUGEINT) * 1000) // n AS BIGINT)
               AS cost_milli,
             CAST((CAST(sl AS HUGEINT) * 1000) // n AS BIGINT)
               AS lag_milli
           FROM per),
         sw AS (SELECT suppkey, n_items, cost_milli, lag_milli,
             MIN(lag_milli) OVER (ORDER BY cost_milli
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
             MIN(lag_milli) OVER (PARTITION BY cost_milli) AS m2
           FROM qn)
         SELECT suppkey, n_items, cost_milli, lag_milli,
           (m1 IS NULL OR m1 > lag_milli) AND m2 = lag_milli
             AS is_skyline
         FROM sw ORDER BY suppkey""",

    "q115_order_backlog_curve" ->
      """WITH opens AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) AS day, COUNT(1) AS n_opened
           FROM orders GROUP BY 1),
         closes AS (SELECT day, COUNT(1) AS n_closed FROM
             (SELECT l_orderkey, MAX(datediff('day', DATE '1970-01-01',
                CAST(l_shipdate AS DATE))) AS day
              FROM lineitem GROUP BY 1) c
           GROUP BY 1),
         bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM
             (SELECT day FROM opens UNION ALL SELECT day FROM closes)),
         grid AS (SELECT UNNEST(generate_series(lo, hi)) AS day
           FROM bounds),
         filled AS (SELECT grid.day,
             CAST(COALESCE(n_opened, 0) AS BIGINT) AS n_opened,
             CAST(COALESCE(n_closed, 0) AS BIGINT) AS n_closed
           FROM grid
           LEFT JOIN opens ON grid.day = opens.day
           LEFT JOIN closes ON grid.day = closes.day)
         SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS VARCHAR)
             AS dt,
           n_opened, n_closed,
           CAST(SUM(n_opened - n_closed) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS backlog
         FROM filled ORDER BY dt""",

    "q117_lag_percentile_trend" ->
      """SELECT CAST(datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS wk,
           COUNT(1) AS n,
           quantile_cont(datediff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE)), 0.5) AS p50,
           quantile_cont(datediff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE)), 0.9) AS p90,
           CAST(MAX(datediff('day', CAST(o_orderdate AS DATE),
             CAST(l_shipdate AS DATE))) AS BIGINT) AS max_lag
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY wk""",

    "q121_abc_migration" ->
      s"""WITH $MidDayCte,
         rev AS (SELECT
             CASE WHEN datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) < mid THEN 1 ELSE 2 END
               AS period,
             l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
               * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           CROSS JOIN bounds
           GROUP BY 1, 2),
         classed AS (SELECT period, l_partkey,
             CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)
                    <= 0.80 THEN 'A'
                  WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)
                    <= 0.95 THEN 'B'
                  ELSE 'C' END AS cls
           FROM (SELECT period, l_partkey, cents,
               CAST(SUM(cents) OVER (PARTITION BY period
                 ORDER BY cents DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum,
               CAST(SUM(cents) OVER (PARTITION BY period) AS BIGINT)
                 AS tot
             FROM rev) t)
         SELECT COALESCE(p1.cls, 'N') AS class_p1,
           COALESCE(p2.cls, 'N') AS class_p2, COUNT(1) AS n_parts
         FROM (SELECT l_partkey, cls FROM classed WHERE period = 1) p1
         FULL OUTER JOIN
           (SELECT l_partkey, cls FROM classed WHERE period = 2) p2
           ON p1.l_partkey = p2.l_partkey
         GROUP BY 1, 2 ORDER BY class_p1, class_p2""",

    "q138_gini_lorenz" ->
      """WITH cr AS (SELECT o_custkey, CAST(SUM(CAST(round(
        |      o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |    FROM orders GROUP BY 1),
        |  cv AS (SELECT n_name AS nation, cents FROM cr
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation ON c_nationkey = n_nationkey),
        |  grid AS (SELECT nation, cents, COUNT(1) AS cnt FROM cv
        |    GROUP BY 1, 2),
        |  marked AS (SELECT nation, cents, cnt,
        |    CAST(SUM(cnt) OVER (PARTITION BY nation ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(cnt) OVER (PARTITION BY nation) AS BIGINT) AS n
        |  FROM grid),
        |  kp AS (SELECT nation, cents, cnt, cum, n, (n + 9) // 10 AS g,
        |    cents * (cnt * (cum - cnt) + cnt * (cnt + 1) // 2)
        |      AS ranksum,
        |    GREATEST(CAST(0 AS BIGINT), cum -
        |      GREATEST(cum - cnt, n - (n + 9) // 10)) AS topcnt
        |  FROM marked),
        |  agg AS (SELECT nation, MAX(n) AS n_customers,
        |    CAST(SUM(cents * cnt) AS BIGINT) AS total,
        |    CAST(SUM(ranksum) AS DOUBLE) AS rsd,
        |    CAST(SUM(cents * topcnt) AS BIGINT) AS top_rev
        |  FROM kp GROUP BY 1)
        |SELECT nation, n_customers,
        |  2.0 * rsd / (CAST(n_customers AS DOUBLE)
        |      * CAST(total AS DOUBLE))
        |    - CAST(n_customers + 1 AS DOUBLE)
        |      / CAST(n_customers AS DOUBLE) AS gini,
        |  CAST(top_rev AS DOUBLE) / CAST(total AS DOUBLE)
        |    AS top_decile_share
        |FROM agg ORDER BY nation""".stripMargin)
}
