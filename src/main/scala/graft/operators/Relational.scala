package graft.operators

import graft.{Parity, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.HashFunctions
import graft.functions.HashFunctions.md5Hash60Sql

/** Relational operator surface (SURVEY.md §2.2): projection/filter, every
  * join shape, aggregation (hash/partial, distinct, rollup/cube/grouping
  * sets), analytic windows, sort/limit/top-k, set ops, scalar functions,
  * JSON access, subqueries, non-equi range join, as-of join, pivot,
  * explode.
  *
  * The reference delegates all of this to user code behind its
  * `ProcessEvent` slot (reference `main/consumer/ConsumerWorker.scala:99-110`,
  * stream `map`/`mapAsync` pipelines `README.md:348-358`); here each
  * capability is a declarative Spark plan so Catalyst supplies pushdown,
  * pruning, join selection, partial aggregation and whole-stage codegen.
  *
  * Scale notes (100 TB design point) are on each query: joins mark their
  * intended physical strategy (broadcast vs shuffle), aggregations rely on
  * map-side partial agg, and top-k uses per-partition limits — nothing here
  * collects to the driver.
  */
object Relational extends OperatorFamily {
  import Parity._
  /** Bucket count for q55 — fixed so plans are stable across SFs. */
  private val NumBuckets = 8

  /** Drop a managed table AND its warehouse directory. A previous
    * SparkSession may have left the data directory behind (the in-memory
    * catalog forgets the table on session exit but the files persist),
    * in which case `mode(overwrite)` alone fails with
    * LOCATION_ALREADY_EXISTS. */
  private def dropManaged(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = s.conf.get("spark.sql.warehouse.dir")
    val path = new org.apache.hadoop.fs.Path(wh, name)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) { fs.delete(path, true); () }
  }


  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Event counts per (user_id mod 10 bucket, event type), one
    * zero-filled column per type in [[EventTypes]] (q27; q59 melts it
    * back). */
  private def eventTypePivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("bucket", pmod(col("user_id"), lit(10)))
      .groupBy(col("bucket"))
      .pivot("event_type", EventTypes)
      .count()
      .select(col("bucket") +: EventTypes.map(t =>
        coalesce(col(t), lit(0L)).as(t)): _*)

  /** The as-of truth of q26 and q123. NB: not DuckDB's ASOF JOIN — ASOF
    * breaks exact-timestamp ties arbitrarily, while the Spark plans
    * deterministically pick the largest signup_id; the correlated
    * subquery pins the same tiebreak. */
  private val AsofSql =
    """SELECT p.event_id AS purchase_id, p.user_id,
           (SELECT s.event_id FROM events s
            WHERE s.event_type = 'signup' AND s.user_id = p.user_id
              AND s.ts <= p.ts
            ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS signup_id
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregation -----------------------------------------------------
    // TPC-H Q1 shape: scan-heavy group-by with 6 aggregates over 4 groups.
    // At 100 TB: partial agg makes shuffle tiny (4 groups x partitions).
    // Order-insensitive exact sums run on SCALED LONGS (2dp inputs, so
    // every measure is an exact 10^-6-scaled integer): the hot loop is
    // codegen'd long addition, ~3.6x faster than per-row decimal adds,
    // with one decimal division per group at the end — bit-identical to
    // the DuckDB decimal oracle (Parity.scaledSum scaladoc).
    "q01_pricing_summary" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val qc = cents2(col("l_quantity"))
      val epc = cents2(col("l_extendedprice"))
      val dc = cents2(col("l_discount"))
      val tc = cents2(col("l_tax"))
      l.filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          scaledSum(qc, 2).as("sum_qty"),
          scaledSum(epc, 2).as("sum_base_price"),
          scaledSum(epc * (lit(100L) - dc), 4).as("sum_disc_price"),
          scaledSum(epc * (lit(100L) - dc) * (lit(100L) + tc), 6)
            .as("sum_charge"),
          scaledAvg(qc, 2).as("avg_qty"),
          scaledAvg(epc, 2).as("avg_price"),
          scaledAvg(dc, 2).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // Projection + conjunctive filter; Catalyst pushes all three predicates
    // and the 5-column ReadSchema into the parquet scan.
    "q02_filter_project" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 30 && col("l_discount") <= 0.05
          && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("net_price"))
    }),

    // --- joins -----------------------------------------------------------
    // Dim-fact equi join; customer is the small side -> broadcast hash
    // join, zero shuffle of the fact table at any scale.
    "q03_join_broadcast_agg" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // TPC-H Q3 shape: 3-way join + agg + deterministic top-k.
    // customer (true dim) broadcast; orders is fact-proportional, so no
    // hint — AQE sizes the lineitem⋈orders edge (SMJ/shuffled-hash at
    // scale, broadcast only if the runtime stats say it fits). Top-k =
    // sort+limit, which Spark executes as per-partition TakeOrdered.
    "q04_topk_revenue" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Left outer join preserving empty groups.
    "q05_join_left_outer" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      n.join(c, col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"),
          coalesce(dsum(col("c_acctbal")), lit(0.0)).as("total_acctbal"))
        .orderBy(col("n_nationkey"))
    }),

    // Left-semi join (EXISTS): customers having at least one open order.
    "q06_join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Left-anti join (NOT EXISTS): customers with no urgent order.
    "q07_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // Full outer join of two derived key sets with membership flags.
    "q08_join_full_outer" -> ((s, d) => {
      val a = Tables.customer(s, d).filter(col("c_acctbal") > 4000)
        .select(col("c_custkey"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey")).distinct()
      a.join(b, a("c_custkey") === b("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("in_rich"),
          col("o_custkey").isNotNull.as("in_f"))
        .orderBy(col("custkey"))
    }),

    // --- distinct / multi-dim aggregation --------------------------------
    "q09_count_distinct" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_buyers"),
          countDistinct(col("o_orderpriority")).as("n_prios"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))
    }),

    // ROLLUP: subtotals + grand total; nulls replaced by 'ALL' sentinels so
    // the subtotal rows stay distinguishable and hash-stable.
    "q10_rollup" -> ((s, d) => {
      Tables.orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("revenue"), col("n"))
        .orderBy(col("status"), col("priority"))
    }),

    "q11_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy(col("returnflag"), col("linestatus"))
    }),

    // GROUPING SETS via SQL on temp views (also exercises spark.sql entry).
    "q12_grouping_sets" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("gs_customer")
      Tables.nation(s, d).createOrReplaceTempView("gs_nation")
      s.sql("""
        SELECT COALESCE(n_name, 'ALL') AS nation,
               COALESCE(c_mktsegment, 'ALL') AS segment,
               COUNT(1) AS n,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
        FROM gs_customer JOIN gs_nation ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        ORDER BY nation, segment
      """)
    }),

    // --- analytic windows ------------------------------------------------
    // Top-3 per group by ranking window; at scale this shuffles once on
    // p_brand and sorts within partitions only.
    "q13_window_topk_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("p_brand"), col("rn"), col("p_partkey"),
          col("p_retailprice"))
        .orderBy(col("p_brand"), col("rn"))
    }),

    // Running (cumulative) aggregate with an explicit ROWS frame.
    "q14_window_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("run_total"),
          row_number().over(w).as("order_seq"))
    }),

    // lag/lead analytic functions + date arithmetic between rows.
    "q15_window_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .as("days_since_prev"))
    }),

    // ntile / dense_rank / percent_rank over a global order.
    "q16_window_rank_family" -> ((s, d) => {
      val w = Window.orderBy(col("s_acctbal").desc, col("s_suppkey"))
      Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_acctbal"),
          ntile(4).over(w).as("quartile"),
          dense_rank().over(w).as("drank"),
          percent_rank().over(w).as("prank"))
        .orderBy(col("s_suppkey"))
    }),

    // --- set operations --------------------------------------------------
    "q17_union" -> ((s, d) => {
      val a = Tables.customer(s, d).filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("key"))
      val b = Tables.orders(s, d).filter(col("o_totalprice") > 450000)
        .select(col("o_custkey").as("key"))
      a.union(b).distinct().orderBy(col("key"))
    }),

    "q18_intersect" -> ((s, d) => {
      val a = Tables.customer(s, d).filter(col("c_acctbal") > 3000)
        .select(col("c_custkey").as("key"))
      val b = Tables.orders(s, d).filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_custkey").as("key"))
      a.intersect(b).orderBy(col("key"))
    }),

    "q19_except" -> ((s, d) => {
      val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"))
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select(col("o_custkey").as("key"))
      a.except(b).orderBy(col("key"))
    }),

    // --- scalar functions ------------------------------------------------
    "q20_string_fns" -> ((s, d) => {
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 8).as("prefix"),
          length(col("p_name")).as("name_len"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
          replace(col("p_type"), lit(" "), lit("_")).as("type_us"),
          lpad(col("p_brand"), 12, "#").as("brand_pad"),
          regexp_replace(col("p_name"), "[aeiou]", "*").as("devowel"))
        .orderBy(col("p_partkey"))
    }),

    "q21_date_fns" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          quarter(col("o_orderdate")).as("qtr"),
          date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
            .as("month_start"),
          datediff(col("o_orderdate"), lit("1995-01-01")).as("days_since_epoch"),
          date_add(col("o_orderdate"), 30).cast("timestamp_ntz").as("due_date"),
          last_day(col("o_orderdate")).cast("timestamp_ntz").as("month_end"))
        .orderBy(col("o_orderkey"))
    }),

    "q22_math_case" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity") / 10).as("qty_decile"),
          pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
          sqrt(col("l_extendedprice")).as("price_sqrt"),
          when(col("l_quantity") > 25, "H")
            .when(col("l_quantity") > 10, "M")
            .otherwise("L").as("qty_band"),
          greatest(col("l_tax"), col("l_discount")).as("max_rate"),
          least(col("l_tax"), col("l_discount")).as("min_rate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // JSON path extraction from the events.props payload column — the
    // Spark-side analogue of reference payload decoding
    // (`payloadAsString`, reference main/models/ConsumerEvent.scala:54-61).
    "q23_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .withColumn("k_bucket", pmod(col("k"), lit(10)))
        .groupBy(col("k_bucket"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("k_bucket"))
    }),

    // Correlated EXISTS subquery (Catalyst decorrelates to semi join).
    "q24_exists_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("sq_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("sq_lineitem")
      s.sql("""
        SELECT o_orderstatus, COUNT(1) AS n_orders
        FROM sq_orders
        WHERE EXISTS (SELECT 1 FROM sq_lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity = 50)
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
      """)
    }),

    // Non-equi (theta) band join against a tiny inline dimension ->
    // broadcast nested-loop join; the band table is O(1) so this stays
    // broadcastable at any fact scale.
    "q25_range_band_join" -> ((s, d) => {
      import s.implicits._
      val bands = Seq(
        ("b900", 900.0, 925.0), ("b925", 925.0, 950.0),
        ("b950", 950.0, 975.0), ("b975", 975.0, 1000.0))
        .toDF("band", "lo", "hi")
      Tables.part(s, d)
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_parts"),
          dsum(col("p_retailprice")).as("band_value"))
        .orderBy(col("band"))
    }),

    // As-of join: each purchase event matched to the latest signup event
    // of the same user at-or-before its timestamp. Implemented as a
    // union + running last_value partitioned by user — one shuffle on
    // user_id, no range-explosion, scales linearly (vs. the naive
    // inequality join which is quadratic per user).
    "q26_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      // side 0 = signup (sorts before purchases at identical ts to match
      // ASOF's inclusive `>=` bound), side 1 = purchase
      val signup = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), lit(0).as("side"),
          col("event_id").as("signup_id"), lit(null).cast("long").as("purchase_id"))
      val purchase = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("side"),
          lit(null).cast("long").as("signup_id"),
          col("event_id").as("purchase_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("signup_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      signup.unionByName(purchase)
        .withColumn("matched_signup",
          last(col("signup_id"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("purchase_id"), col("user_id"),
          col("matched_signup").as("signup_id"))
        .orderBy(col("purchase_id"))
    }),

    // Pivot (explicit value list keeps the output schema deterministic).
    "q27_pivot" -> ((s, d) =>
      eventTypePivot(s, d).orderBy(col("bucket"))),

    // Explode / word count (UDTF surface): lateral view of split tokens.
    "q28_explode_wordcount" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(trim(col("text")), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    // TPC-H Q5 shape: 6-table star join. Only the fixed-cardinality
    // dims (region = 5 rows, nation = 25 rows) carry a broadcast hint;
    // customer/supplier/orders all grow with SF, so AQE sizes those
    // edges at runtime (SMJ/shuffled-hash at 100 TB, broadcast only if
    // the post-filter stats say a side fits under the threshold).
    "q35_regional_revenue" -> ((s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01")
          && col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Correlated scalar subquery (decorrelated by Catalyst into a join):
    // parts priced above their brand's average.
    "q36_scalar_subquery" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("ssq_part")
      s.sql("""
        SELECT p_partkey, p_brand, p_retailprice
        FROM ssq_part p
        WHERE p_retailprice > (
          SELECT CAST(CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,6)))
                   AS DOUBLE) / COUNT(1) AS DOUBLE)
          FROM ssq_part p2 WHERE p2.p_brand = p.p_brand)
        ORDER BY p_partkey
      """)
    }),

    // Approximate aggregates — built on the engine's PORTABLE sketch
    // surface instead of `approx_count_distinct`/`percentile_approx`
    // (whose HLL++/GK internals are engine-specific and could only
    // ever get a rows-only check): distinct users per event type via
    // [[graft.functions.HllRegisterAggregate]] (q126's machinery —
    // 64-register HLL over the 60-bit md5 hash, estimate = α·m²/Z),
    // and the approximate median via the KMV bottom-128
    // [[graft.functions.QuantileSketchAggregate]] (q52's machinery —
    // the sample is a pure function of the value set, so the estimate
    // is exactly reproducible by the oracle). Scale shape: one
    // 64-byte register file + ≤128 (hash, cents) pairs per group on
    // the exchange, both map-side combinable.
    "q29_approx_aggregates" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_type"),
          HashFunctions.md5Hash60Chain(col("user_id")).as("hu"),
          round(col("value") * 100, 0).cast("long").as("v"))
        .withColumn("hv", HashFunctions.md5Hash60Chain(col("v")))
        .groupBy(col("event_type"))
        .agg(graft.functions.HllFunctions.hllRegisters(col("hu"))
          .as("regs"),
          graft.functions.QuantileSketchFunctions
            .quantileSketch(col("hv"), col("v"), 128, Seq(0.5))
            .as("qs"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          (lit(0.709365049) * lit(4096.0) * lit(36028797018963968.0) /
            expr("CAST(aggregate(regs, CAST(0 AS BIGINT), " +
              "(z, m) -> z + shiftleft(CAST(1 AS BIGINT), 55 - m)) " +
              "AS DOUBLE)")).as("approx_users"),
          (col("qs")(0) / 100.0).as("approx_median_value"),
          col("n"))
        .orderBy(col("event_type"))
    }),

    // Array higher-order functions: transform / filter / aggregate /
    // exists / array_sort / slice — all codegen'd per row, zero shuffle.
    "q37_higher_order_fns" -> ((s, d) => {
      Tables.part(s, d)
        .withColumn("ws", split(col("p_name"), " "))
        .select(col("p_partkey"),
          size(col("ws")).as("n_words"),
          expr("size(filter(ws, w -> length(w) > 5))").as("n_long"),
          expr("aggregate(transform(ws, w -> length(w)), 0, (a, x) -> a + x)")
            .as("total_len"),
          expr("array_max(transform(ws, w -> length(w)))").as("max_len"),
          expr("exists(ws, w -> w like '%ow%')").as("has_ow"),
          array_join(expr("slice(array_sort(ws), 1, 3)"), "|").as("first3"))
        .orderBy(col("p_partkey"))
    }),

    // Map functions over a JSON-decoded payload: from_json to
    // map<string,string>, map_concat with a literal map, element_at,
    // map_keys — the typed-payload-decode path of the envelope model.
    "q38_map_fns" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("m", map_concat(
          expr("from_json(props, 'map<string,string>')"),
          map(lit("type"), col("event_type"))))
        .select(col("event_id"),
          element_at(col("m"), "k").cast("int").as("k_val"),
          element_at(col("m"), "type").as("type_val"),
          size(col("m")).as("n_keys"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"))
        .orderBy(col("event_id"))
    }),

    // CSV encode/decode round-trip: to_csv of a struct, then from_csv
    // back to typed fields (the delimited-payload analogue of q32's
    // from_json decode).
    "q39_csv_roundtrip" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("line", expr(
          "to_csv(named_struct('k', o_orderkey, 'c', o_custkey, 'p', o_orderpriority))"))
        .withColumn("parsed", expr(
          "from_csv(line, 'k BIGINT, c BIGINT, p STRING')"))
        .select(col("o_orderkey"), col("line"),
          col("parsed.k").as("k"), col("parsed.c").as("c"),
          col("parsed.p").as("p"))
        .orderBy(col("o_orderkey"))
    }),

    // Interval join: purchases within 1 hour after a click by the same
    // user — the batch twin of the watermarked stream-stream join
    // (EventTimeStreamingSpec drives the unbounded form). Equi key on
    // user_id + range predicate: one shuffle on user_id, range filter
    // applied post-match — no cross join at any scale.
    "q47_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("cts"),
          col("event_id").as("click_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"),
          col("event_id").as("purchase_id"))
      c.join(p, col("user_id") === col("p_user")
          && col("pts") >= col("cts")
          && col("pts") < col("cts") + expr("INTERVAL 1 HOUR"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          ((expr("unix_micros(CAST(pts AS TIMESTAMP))")
            - expr("unix_micros(CAST(cts AS TIMESTAMP))"))
            / lit(60000000L)).cast("long").as("mins_after"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    // Multiset set operations (ALL variants): intersectAll / exceptAll /
    // union keep duplicate multiplicity; surfaced as per-key counts.
    "q48_set_ops_all" -> ((s, d) => {
      val a = Tables.orders(s, d).select(col("o_custkey").as("key"))
      val b = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"))
      def counted(df: DataFrame, op: String): DataFrame =
        df.groupBy(col("key")).agg(count(lit(1)).as("n"))
          .withColumn("op", lit(op))
      counted(a.intersectAll(b), "intersect_all")
        .unionByName(counted(a.exceptAll(b), "except_all"))
        .unionByName(counted(a.union(b), "union_all"))
        .select(col("op"), col("key"), col("n"))
        .orderBy(col("op"), col("key"))
    }),

    // Collect + arg-extreme aggregates: deterministic (sorted)
    // collect_list surfaced as a joined string, max_by/min_by.
    "q49_collect_aggregates" -> ((s, d) => {
      Tables.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(
          array_join(array_sort(collect_list(col("s_name"))), ",")
            .as("suppliers"),
          count(lit(1)).as("n"),
          max_by(col("s_name"), col("s_acctbal")).as("richest"),
          min_by(col("s_name"), col("s_acctbal")).as("poorest"))
        .orderBy(col("s_nationkey"))
    }),

    // Exact interpolated percentiles (percentile / median). l_quantity
    // holds small integers, so the interpolation arithmetic
    // (lower + (upper-lower)*frac at frac in {.25,.5,.75}) is exact in
    // both engines — bit-identical doubles.
    "q50_exact_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          median(col("l_quantity")).as("med"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // VARIANT decode: parse once, extract typed paths. A missing path is
    // SQL NULL (not an error) — schema drift tolerance the strict
    // from_json path lacks.
    "q53_variant_shred" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("var", expr("parse_json(props)"))
        .select(col("event_id"),
          expr("variant_get(var, '$.k', 'int')").as("k_val"),
          expr("variant_get(var, '$.k', 'double')").as("k_dbl"),
          expr("variant_get(var, '$.nope', 'string')").as("missing"))
        .orderBy(col("event_id"))
    }),

    // XML payload decode: encode a struct as markup, parse it back with
    // from_xml — markup twin of the q39 CSV round-trip.
    "q54_xml_decode" -> ((s, d) => {
      Tables.orders(s, d)
        .withColumn("x", concat(lit("<o><k>"), col("o_orderkey"),
          lit("</k><p>"), col("o_orderpriority"), lit("</p></o>")))
        .withColumn("parsed", expr("from_xml(x, 'k BIGINT, p STRING')"))
        .select(col("o_orderkey"), col("x"),
          col("parsed.k").as("k"), col("parsed.p").as("p"))
        .orderBy(col("o_orderkey"))
    }),

    // Co-located join on bucketed tables: pay the shuffle once at write
    // (bucketBy o_custkey / c_custkey), then every subsequent join on the
    // bucket key is exchange-free (merge hint pins SMJ so the broadcast
    // path doesn't mask the layout win at test SFs).
    "q55_bucketed_colocated_join" -> ((s, d) => {
      dropManaged(s, "graft_orders_bucketed")
      dropManaged(s, "graft_customer_bucketed")
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").format("parquet")
        .bucketBy(NumBuckets, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_orders_bucketed")
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").format("parquet")
        .bucketBy(NumBuckets, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_customer_bucketed")
      s.table("graft_orders_bucketed").hint("merge")
        .join(s.table("graft_customer_bucketed"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Parity.dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),

    // Trailing-1h event-time range frame per user: range frames bound by
    // VALUE (micros), not row position — peers at the same timestamp are
    // always in-frame together, so the result is tie-order independent.
    "q56_time_range_window" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L) // 1 hour in micros, inclusive
      Tables.events(s, d)
        .withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .select(col("event_id"), col("user_id"),
          count(lit(1)).over(w).as("n_1h"),
          sum(col("k")).over(w).as("k_sum_1h"))
        .orderBy(col("event_id"))
    }),

    // DPP: orders partitioned by o_orderpriority; the dim is a SEPARATE
    // stored table whose urgency class is plain data (not derivable from
    // the join key by constraint propagation), so the fact scan's
    // partition filter can only come from the runtime DPP subquery over
    // the broadcast dim — the exact "scan 2 of 5 partitions because the
    // dim filter said so at runtime" shape of a warehouse star join.
    "q57_dpp_partitioned_join" -> ((s, d) => {
      dropManaged(s, "graft_orders_by_priority")
      dropManaged(s, "graft_priority_dim")
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").format("parquet")
        .partitionBy("o_orderpriority")
        .saveAsTable("graft_orders_by_priority")
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("p")).distinct()
        .withColumn("cls", substring(col("p"), 1, 1).cast("int"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable("graft_priority_dim")
      val urgent = s.table("graft_priority_dim").filter(col("cls") <= 2)
      s.table("graft_orders_by_priority")
        .join(broadcast(urgent), col("o_orderpriority") === col("p"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Parity.dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // Unpivot (melt): the inverse of q27's pivot — wide per-type count
    // columns back to (bucket, event_type, n) long form, zero-filled
    // cells included. Pivot/unpivot round-trip pins both directions of
    // the reshape family; unpivot is a zero-shuffle per-row expansion.
    "q59_unpivot" -> ((s, d) =>
      eventTypePivot(s, d)
        .unpivot(Array(col("bucket")), EventTypes.map(col).toArray,
          "event_type", "n")
        .orderBy(col("bucket"), col("event_type"))),

    // DISTRIBUTION windows — ntile / percent_rank / cume_dist, the
    // last window family the inventory lacked (q16 covers the rank
    // family; q86 builds deciles by hand). Each customer's order spend
    // placed within their nation: spending quartile, percentile rank,
    // cumulative share of customers at-or-below. The window ORDER BY
    // carries the (cents, custkey) tie-break, so every row has a
    // distinct sort key — ntile's tie-splitting, percent_rank's rank
    // numerator and cume_dist's peer groups are all then deterministic
    // and engine-independent (both implement the SQL-spec definitions
    // over exact integers; the divisions are the only doubles).
    // Scale shape: one exchange on o_custkey (partial-agg first), one
    // on c_nationkey for the windows — both key on high-cardinality /
    // bounded-group columns; nothing wide rides either.
    "q110_distribution_windows" -> ((s, d) => {
      val spend = Tables.orders(s, d)
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
      val w = Window.partitionBy(col("n_name"))
        .orderBy(col("cents"), col("o_custkey"))
      spend
        .select(col("n_name"), col("o_custkey").as("custkey"),
          (col("cents").cast("double") / 100.0).as("spend"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("n_name"), col("custkey"))
    }),

    // NATIVE as-of join — q26's scenario on the custom whole-operator
    // extension ([[graft.plans.AsOfJoinNode]] + Strategy + Exec, the
    // SURVEY §2.2 ladder rung the expression/aggregate/rule extensions
    // don't reach): each purchase paired with the latest signup at or
    // before it. Where q26 UNIONS both sides and LOCF-windows the
    // merged frame, the native exec hash-co-partitions the sides on
    // user_id, sorts each by (key, time), and streams ONE merge pass
    // with O(1) state per partition — no union row inflation, no
    // window buffers. Same oracle as q26 (ties: greatest signup id) —
    // two independent formulations, one truth. Scale shape: two key
    // exchanges and per-partition sorts, exactly a sort-merge join's
    // cost envelope, and AQE splits skewed keys the same way.
    "q123_native_asof" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"))
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
          col("event_id").as("s_id"))
      graft.plans.AsOfJoin.join(purchases, signups,
          leftKey = "user_id", rightKey = "s_user", leftTime = "ts",
          rightOrderCols = Seq("s_ts", "s_id"))
        .select(col("purchase_id"), col("user_id"),
          col("s_id").as("signup_id"))
        .orderBy(col("purchase_id"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         ${dsumSql("l_quantity")} AS sum_qty,
         ${dsumSql("l_extendedprice")} AS sum_base_price,
         ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         ${davgSql("l_quantity")} AS avg_qty,
         ${davgSql("l_extendedprice")} AS avg_price,
         ${davgSql("l_discount")} AS avg_disc,
         COUNT(1) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
         l_extendedprice * (1.0 - l_discount) AS net_price
         FROM lineitem
         WHERE l_quantity >= 30 AND l_discount <= 0.05 AND l_returnflag = 'R'""",

    "q03_join_broadcast_agg" ->
      s"""SELECT c_mktsegment, ${dsumSql("o_totalprice")} AS revenue,
         COUNT(1) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q04_topk_revenue" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""",

    "q05_join_left_outer" ->
      s"""SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_customers,
         COALESCE(${dsumSql("c_acctbal")}, 0.0) AS total_acctbal
         FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
         GROUP BY n_nationkey, n_name ORDER BY n_nationkey""",

    "q06_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
         ORDER BY c_custkey""",

    "q07_join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "q08_join_full_outer" ->
      """WITH a AS (SELECT c_custkey FROM customer WHERE c_acctbal > 4000),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
         SELECT COALESCE(a.c_custkey, b.o_custkey) AS custkey,
                a.c_custkey IS NOT NULL AS in_rich,
                b.o_custkey IS NOT NULL AS in_f
         FROM a FULL OUTER JOIN b ON a.c_custkey = b.o_custkey
         ORDER BY custkey""",

    "q09_count_distinct" ->
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_buyers,
         COUNT(DISTINCT o_orderpriority) AS n_prios, COUNT(1) AS n_orders
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q10_rollup" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         COALESCE(o_orderpriority, 'ALL') AS priority,
         ${dsumSql("o_totalprice")} AS revenue, COUNT(1) AS n
         FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         ORDER BY status, priority""",

    "q11_cube" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         COALESCE(l_linestatus, 'ALL') AS linestatus,
         ${dsumSql("l_quantity")} AS sum_qty, COUNT(1) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",

    "q12_grouping_sets" ->
      """SELECT COALESCE(n_name, 'ALL') AS nation,
         COALESCE(c_mktsegment, 'ALL') AS segment, COUNT(1) AS n,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
         ORDER BY nation, segment""",

    "q13_window_topk_per_group" ->
      """SELECT p_brand, CAST(rn AS INT) AS rn, p_partkey, p_retailprice FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  ROW_NUMBER() OVER (PARTITION BY p_brand
                    ORDER BY p_retailprice DESC, p_partkey) AS rn
           FROM part) t
         WHERE rn <= 3 ORDER BY p_brand, rn""",

    "q14_window_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS run_total,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS INT) AS order_seq
         FROM orders""",

    "q15_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         LAG(o_totalprice, 1) OVER w AS prev_price,
         LEAD(o_totalprice, 1) OVER w AS next_price,
         CAST(DATE_DIFF('day',
           CAST(LAG(o_orderdate, 1) OVER w AS DATE),
           CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",

    "q16_window_rank_family" ->
      """SELECT s_suppkey, s_acctbal,
         CAST(NTILE(4) OVER w AS INT) AS quartile,
         CAST(DENSE_RANK() OVER w AS INT) AS drank,
         PERCENT_RANK() OVER w AS prank
         FROM supplier
         WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
         ORDER BY s_suppkey""",

    "q17_union" ->
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'MACHINERY'
         UNION
         SELECT o_custkey AS key FROM orders WHERE o_totalprice > 450000
         ORDER BY key""",

    "q18_intersect" ->
      """SELECT c_custkey AS key FROM customer WHERE c_acctbal > 3000
         INTERSECT
         SELECT o_custkey AS key FROM orders WHERE o_orderpriority = '2-HIGH'
         ORDER BY key""",

    "q19_except" ->
      """SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
         EXCEPT
         SELECT o_custkey AS key FROM orders WHERE o_orderstatus = 'P'
         ORDER BY key""",

    "q20_string_fns" ->
      """SELECT p_partkey, UPPER(p_name) AS uname,
         SUBSTRING(p_name, 1, 8) AS prefix,
         CAST(LENGTH(p_name) AS INT) AS name_len,
         CONCAT_WS('/', p_brand, p_type) AS brand_type,
         REPLACE(p_type, ' ', '_') AS type_us,
         LPAD(p_brand, 12, '#') AS brand_pad,
         REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g') AS devowel
         FROM part ORDER BY p_partkey""",

    "q21_date_fns" ->
      """SELECT o_orderkey,
         CAST(YEAR(o_orderdate) AS INT) AS yr,
         CAST(MONTH(o_orderdate) AS INT) AS mo,
         CAST(DAY(o_orderdate) AS INT) AS dom,
         CAST(QUARTER(o_orderdate) AS INT) AS qtr,
         DATE_TRUNC('month', o_orderdate) AS month_start,
         CAST(DATE_DIFF('day', DATE '1995-01-01',
           CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch,
         CAST(o_orderdate AS DATE) + 30 AS due_date,
         LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end
         FROM orders ORDER BY o_orderkey""",

    "q22_math_case" ->
      """SELECT l_orderkey, l_linenumber,
         CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_decile,
         l_orderkey % 7 AS key_mod7,
         SQRT(l_extendedprice) AS price_sqrt,
         CASE WHEN l_quantity > 25 THEN 'H'
              WHEN l_quantity > 10 THEN 'M' ELSE 'L' END AS qty_band,
         GREATEST(l_tax, l_discount) AS max_rate,
         LEAST(l_tax, l_discount) AS min_rate
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q23_json_extract" ->
      """WITH e AS (SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         SELECT k % 10 AS k_bucket, COUNT(1) AS n,
                MIN(k) AS min_k, MAX(k) AS max_k
         FROM e GROUP BY k % 10 ORDER BY k_bucket""",

    "q24_exists_subquery" ->
      """SELECT o_orderstatus, COUNT(1) AS n_orders
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity = 50)
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",

    "q25_range_band_join" ->
      s"""WITH bands(band, lo, hi) AS (VALUES
           ('b900', 900.0, 925.0), ('b925', 925.0, 950.0),
           ('b950', 950.0, 975.0), ('b975', 975.0, 1000.0))
         SELECT band, COUNT(1) AS n_parts,
         ${dsumSql("p_retailprice")} AS band_value
         FROM part JOIN bands
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band ORDER BY band""",

    "q26_asof_join" -> AsofSql,

    "q27_pivot" ->
      """SELECT user_id % 10 AS bucket,
         COUNT(1) FILTER (WHERE event_type = 'click') AS "click",
         COUNT(1) FILTER (WHERE event_type = 'error') AS "error",
         COUNT(1) FILTER (WHERE event_type = 'purchase') AS "purchase",
         COUNT(1) FILTER (WHERE event_type = 'signup') AS "signup",
         COUNT(1) FILTER (WHERE event_type = 'view') AS "view"
         FROM events GROUP BY user_id % 10 ORDER BY bucket""",

    "q35_regional_revenue" ->
      s"""SELECT n_name,
         ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         COUNT(1) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
           AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",

    "q36_scalar_subquery" ->
      """SELECT p_partkey, p_brand, p_retailprice
         FROM part p
         WHERE p_retailprice > (
           SELECT CAST(CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(1) AS DOUBLE)
           FROM part p2 WHERE p2.p_brand = p.p_brand)
         ORDER BY p_partkey""",

    "q28_explode_wordcount" ->
      """SELECT word, COUNT(1) AS n FROM (
           SELECT UNNEST(string_split(TRIM(text), ' ')) AS word
           FROM documents) t
         WHERE word <> ''
         GROUP BY word ORDER BY n DESC, word LIMIT 20""",

    // Replays BOTH sketches exactly: q126's 64-register HLL over the
    // 60-bit md5 hash of user_id (z includes 2^55 per unhit register,
    // identical α·m²/Z expression order) and q52's KMV bottom-128
    // distinct (h, v) sample with type-7 interpolation at p = 0.5.
    "q29_approx_aggregates" ->
      s"""WITH hashed AS (SELECT event_type,
             ${md5Hash60Sql("CAST(user_id AS VARCHAR)")} AS h
           FROM events),
         rho AS (SELECT event_type, h & 63 AS bucket,
             CASE WHEN (h >> 6) = 0 THEN 55
               ELSE 55 - length(bin(h >> 6)) END AS rho
           FROM hashed),
         regs AS (SELECT event_type, bucket, MAX(rho) AS m
           FROM rho GROUP BY 1, 2),
         sk AS (SELECT event_type, COUNT(1) AS n_hit,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - m AS INT))
               AS BIGINT) AS z_hit
           FROM regs GROUP BY 1),
         hll AS (SELECT event_type,
             CAST(0.709365049 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
               * CAST(36028797018963968.0 AS DOUBLE)
               / CAST(z_hit + (64 - n_hit)
                   * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS approx_users
           FROM sk),
         cents AS (SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v
           FROM events),
         hv AS (SELECT DISTINCT event_type,
             ${md5Hash60Sql("CAST(v AS VARCHAR)")} AS h, v
           FROM cents),
         samp AS (SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY h, v) AS rn
           FROM hv),
         kept AS (SELECT event_type, v,
             ROW_NUMBER() OVER (PARTITION BY event_type
               ORDER BY v) - 1 AS idx,
             COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM samp WHERE rn <= 128),
         pts AS (SELECT event_type,
             MAX(CAST(0.5 AS DOUBLE) * (n - 1)) AS r,
             MAX(CASE WHEN idx = CAST(FLOOR(CAST(0.5 AS DOUBLE)
                 * (n - 1)) AS BIGINT) THEN v END) AS vlo,
             MAX(CASE WHEN idx = CAST(CEIL(CAST(0.5 AS DOUBLE)
                 * (n - 1)) AS BIGINT) THEN v END) AS vhi
           FROM kept GROUP BY event_type),
         med AS (SELECT event_type,
             (CAST(vlo AS DOUBLE) +
              (r - FLOOR(r)) * CAST(vhi - vlo AS DOUBLE)) / 100.0
               AS approx_median_value
           FROM pts),
         cnt AS (SELECT event_type, COUNT(1) AS n FROM events
           GROUP BY 1)
         SELECT h.event_type, h.approx_users, m.approx_median_value,
                c.n
         FROM hll h
         JOIN med m ON m.event_type = h.event_type
         JOIN cnt c ON c.event_type = h.event_type
         ORDER BY h.event_type""",

    "q37_higher_order_fns" ->
      """SELECT p_partkey,
         CAST(LEN(ws) AS INT) AS n_words,
         CAST(LEN(list_filter(ws, w -> LENGTH(w) > 5)) AS INT) AS n_long,
         CAST(list_aggregate(list_transform(ws, w -> LENGTH(w)), 'sum') AS INT)
           AS total_len,
         CAST(list_aggregate(list_transform(ws, w -> LENGTH(w)), 'max') AS INT)
           AS max_len,
         LEN(list_filter(ws, w -> w LIKE '%ow%')) > 0 AS has_ow,
         array_to_string(list_sort(ws)[1:3], '|') AS first3
         FROM (SELECT p_partkey, string_split(p_name, ' ') AS ws FROM part)
         ORDER BY p_partkey""",

    "q38_map_fns" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
         event_type AS type_val,
         CAST(2 AS INT) AS n_keys,
         'k,type' AS keys_sorted
         FROM events ORDER BY event_id""",

    "q39_csv_roundtrip" ->
      """SELECT o_orderkey,
         o_orderkey || ',' || o_custkey || ',' || o_orderpriority AS line,
         o_orderkey AS k, o_custkey AS c, o_orderpriority AS p
         FROM orders ORDER BY o_orderkey""",

    "q47_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
         c.user_id,
         (epoch_us(p.ts) - epoch_us(c.ts)) // 60000000 AS mins_after
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
         ORDER BY click_id, purchase_id""",

    "q48_set_ops_all" ->
      """WITH a AS (SELECT o_custkey AS key FROM orders),
         b AS (SELECT c_custkey AS key FROM customer
               WHERE c_mktsegment = 'BUILDING'),
         ia AS (SELECT key FROM a INTERSECT ALL SELECT key FROM b),
         ea AS (SELECT key FROM a EXCEPT ALL SELECT key FROM b),
         ua AS (SELECT key FROM a UNION ALL SELECT key FROM b)
         SELECT 'intersect_all' AS op, key, COUNT(1) AS n FROM ia GROUP BY key
         UNION ALL
         SELECT 'except_all' AS op, key, COUNT(1) AS n FROM ea GROUP BY key
         UNION ALL
         SELECT 'union_all' AS op, key, COUNT(1) AS n FROM ua GROUP BY key
         ORDER BY op, key""",

    "q49_collect_aggregates" ->
      """SELECT s_nationkey,
         string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
         COUNT(1) AS n,
         arg_max(s_name, s_acctbal) AS richest,
         arg_min(s_name, s_acctbal) AS poorest
         FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q50_exact_percentiles" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.5) AS med,
         quantile_cont(l_quantity, 0.75) AS p75,
         COUNT(1) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q53_variant_shred" ->
      """SELECT event_id,
         CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k_dbl,
         json_extract_string(props, '$.nope') AS missing
         FROM events ORDER BY event_id""",

    "q54_xml_decode" ->
      """SELECT o_orderkey,
         '<o><k>' || o_orderkey || '</k><p>' || o_orderpriority
           || '</p></o>' AS x,
         o_orderkey AS k, o_orderpriority AS p
         FROM orders ORDER BY o_orderkey""",

    "q55_bucketed_colocated_join" ->
      s"""SELECT c_mktsegment, COUNT(1) AS n_orders,
         ${Parity.dsumSql("o_totalprice")} AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q56_time_range_window" ->
      """SELECT event_id, user_id,
         CAST(COUNT(1) OVER w AS BIGINT) AS n_1h,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) OVER w
           AS BIGINT) AS k_sum_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""",

    "q57_dpp_partitioned_join" ->
      s"""SELECT o_orderpriority, COUNT(1) AS n_orders,
         ${Parity.dsumSql("o_totalprice")} AS revenue
         FROM orders
         WHERE CAST(substring(o_orderpriority, 1, 1) AS INT) <= 2
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q59_unpivot" ->
      """WITH b AS (SELECT DISTINCT user_id % 10 AS bucket FROM events),
         t AS (SELECT UNNEST(['click','error','purchase','signup','view'])
                 AS event_type),
         c AS (SELECT user_id % 10 AS bucket, event_type, COUNT(1) AS n
               FROM events GROUP BY 1, 2)
         SELECT b.bucket, t.event_type, COALESCE(c.n, 0) AS n
         FROM b CROSS JOIN t
         LEFT JOIN c ON c.bucket = b.bucket AND c.event_type = t.event_type
         ORDER BY b.bucket, t.event_type""",

    "q110_distribution_windows" ->
      """WITH spend AS (SELECT o_custkey,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS cents
           FROM orders GROUP BY 1),
         j AS (SELECT n_name, o_custkey AS custkey, cents
           FROM spend
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey)
         SELECT n_name, custkey,
           CAST(cents AS DOUBLE) / 100.0 AS spend,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
         FROM j WINDOW w AS (PARTITION BY n_name ORDER BY cents, custkey)
         ORDER BY n_name, custkey""",

    // identical truth to q26's oracle — the native exec and the
    // union+window plan must both reproduce it
    "q123_native_asof" -> AsofSql
  )
}
