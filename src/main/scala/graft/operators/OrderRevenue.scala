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
private[graft] object OrderRevenue {

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
}
