package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Parity, Tables}

/** Warehouse maintenance and data quality: change-data capture and
  * incremental maintenance, slowly-changing history and point-in-time
  * lookups, snapshot diffs, physical layout (Z-order), and the profiling
  * and audit passes an ingest gate runs (column, key-skew and
  * functional-dependency profiles, referential integrity, Benford
  * screens). Each query carries its DuckDB oracle twin.
  */
object Warehouse extends OperatorFamily {

  /** Bit-interleave (Morton / Z-order) of two non-negative integer
    * columns as a pure-arithmetic SQL expression — `((x div 2^i) % 2)`
    * picks bit i, scaled back to position 2i+1 (x) / 2i (y) — so the
    * identical formula runs in Spark (`divOp = "div"`) and DuckDB
    * (`divOp = "//"`). 2*`bits` result bits. */
  private[graft] def zInterleave(xc: String, yc: String, bits: Int,
      divOp: String): String =
    (0 until bits).map(i =>
      s"(($xc $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"(($yc $divOp ${1L << i}) % 2) * ${1L << (2 * i)}")
      .mkString(" + ")

  // Benford expected first-digit shares log10(1 + 1/d), d = 1..9,
  // written as exact double literals so both engines parse the SAME
  // doubles instead of each calling their own libm log10 (the t16/t21
  // log-free cross-engine contract).
  private val Benford = Seq(
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514)

  /** DuckDB twin of q79's change-run frame (q83 reads it too): CTEs `c`
    * (chg = 1 where a user's event type changes), `r` (the running run
    * number) and `g` (one row per run: event_type, valid_from,
    * n_events). */
  private val RunCtes =
    """c AS (SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         r AS (SELECT user_id, ts, event_id, event_type,
                 CAST(SUM(chg) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS BIGINT) AS run
               FROM c),
         g AS (SELECT user_id, run, MIN(event_type) AS event_type,
                 MIN(ts) AS valid_from, COUNT(1) AS n_events
               FROM r GROUP BY user_id, run)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CDC compaction (keep-latest-per-key): collapse an event/changelog
    // stream to each key's most recent row — the merge/upsert
    // materialization step of a warehouse ingest. Deterministic
    // tie-break: (ts, event_id) is a total order. THE SCALE POINT: this
    // is an AGGREGATION (max_by over a struct ordering key), not a
    // row_number window — partial aggregation collapses each map
    // partition to one row per key BEFORE the exchange, so the shuffle
    // carries |keys| rows, not |events|; the window form would shuffle
    // the entire changelog. (The oracle uses the window form — same
    // result, scale shape irrelevant there.)
    "q62_cdc_compact" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_id"), col("ts"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"),
          col("last.event_id").as("last_event_id"),
          col("last.ts").as("last_ts"),
          col("last.event_type").as("last_type"),
          col("last.value").as("last_value"))
        .orderBy(col("user_id"))
    }),

    // Incremental aggregate maintenance — the warehouse incremental-
    // refresh shape: a standing per-key aggregate (history) absorbs a
    // delta batch by MERGING partial states (count add, decimal-sum
    // add, max of maxes) through one equi full-outer join on the key —
    // history is never rescanned, which at 100 TB is the difference
    // between a refresh proportional to the delta and one proportional
    // to all of time. The sums ride a DECIMAL(18,6) carrier until
    // AFTER the merge (decimal addition is exact, so merged == full
    // recompute bit-for-bit; summing doubles per part and adding would
    // not be) — the oracle IS the full recompute, so the correctness
    // of incremental maintenance itself is what's checked.
    "q64_incremental_agg" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def part(pred: Column): DataFrame = ev.filter(pred)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 6))).as("dec_total"),
          max(col("ts")).as("last_ts"))
      val hist = part(col("event_id") % 10 =!= 0)
        .select(col("user_id"), col("n").as("n_h"),
          col("dec_total").as("t_h"), col("last_ts").as("ts_h"))
      val delta = part(col("event_id") % 10 === 0)
        .select(col("user_id"), col("n").as("n_d"),
          col("dec_total").as("t_d"), col("last_ts").as("ts_d"))
      val zero = lit(0).cast(DecimalType(18, 6))
      hist.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"),
          (coalesce(col("n_h"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n"),
          (coalesce(col("t_h"), zero) + coalesce(col("t_d"), zero))
            .cast("double").as("total_value"),
          greatest(col("ts_h"), col("ts_d")).as("last_ts"))
        .orderBy(col("user_id"))
    }),

    // Equal-width histogram with zero-filled bins — the profiling
    // primitive behind skew diagnostics and bucket sizing. Two fact
    // passes, both map-side partial aggregates (bounds, then bucket
    // counts); the data-derived bounds ride a 1-row broadcast, bucket
    // arithmetic mirrors the oracle operation-for-operation (IEEE ops
    // are deterministic, so the bin assignment is bit-identical), and
    // the zero-fill join touches only the 20-row grid.
    "q69_histogram" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
      val bounds = li.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      val bucketed = li.join(broadcast(bounds), lit(true))
        .select(least(floor((col("v") - col("lo")) * lit(20.0)
          / (col("hi") - col("lo"))).cast("int"), lit(19)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      bounds.select(explode(sequence(lit(0), lit(19))).as("bucket"),
          col("lo"), col("hi"))
        .join(bucketed, Seq("bucket"), "left")
        .select(col("bucket"),
          (col("lo") + col("bucket").cast("double")
            * (col("hi") - col("lo")) / lit(20.0)).as("lo_edge"),
          (col("lo") + (col("bucket") + 1).cast("double")
            * (col("hi") - col("lo")) / lit(20.0)).as("hi_edge"),
          coalesce(col("cnt"), lit(0L)).as("n"))
        .orderBy(col("bucket"))
    }),

    // Key-skew profiler — the diagnostic behind every salting /
    // broadcast decision in this library (q33 is the cure; this is the
    // instrument). Per-key counts, then the top-10 hottest keys with
    // their share of all rows, cumulative share, and skew ratio
    // (count / mean count); keys whose ratio exceeds 1.25 are flagged
    // 'salt'. Scale shape: one key-keyed partial aggregate (the only
    // exchange that sees data volume), a TakeOrdered top-10 (per-
    // partition partial top-k, no global sort), and a 1-row broadcast
    // for the corpus scalars; the rank/cum windows run over 10 rows.
    "q76_key_skew_profile" -> ((s, d) => {
      val counts = Tables.events(s, d)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val scalars = counts.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("n_keys"))
      val wTop = Window.orderBy(col("cnt").desc, col("user_id"))
      val ratio = col("cnt").cast("double") * col("n_keys") / col("total")
      counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
        .join(broadcast(scalars), lit(true))
        .select(row_number().over(wTop).as("rank"),
          col("user_id"), col("cnt"),
          (col("cnt").cast("double") / col("total")).as("share"),
          (sum(col("cnt")).over(wTop).cast("double") / col("total"))
            .as("cum_share"),
          ratio.as("skew_ratio"),
          when(ratio > 1.25, lit("salt")).otherwise(lit("hash-ok"))
            .as("hint"))
        .orderBy(col("rank"))
    }),

    // Z-ORDER data layout: interleave the bits of the two classic
    // filter dimensions (customer, order day) into one Morton key, so
    // sorting by z clusters BOTH dimensions at once — every run of
    // 2^18 consecutive z values is a 512x512 (custkey, day) tile. The
    // per-tile min/max spans returned here are exactly the file-footer
    // stats a z-sorted write produces, i.e. the proof that a scan
    // filtered on EITHER dimension prunes to a bounded set of tiles
    // (1-D sorting gives this for one dimension only). The cluster
    // write path is `repartitionByRange($"z").sortWithinPartitions
    // ($"z")` + parquet min/max pruning; this query computes the key
    // (one map pass) and the tile stats (one tile-keyed aggregate).
    // 16 bits per dimension covers custkey/day up to 65535 — past
    // that, widen bits (the formula, and its cost, scale linearly).
    "q77_zorder_layout" -> ((s, d) => {
      val xy = Tables.orders(s, d).select(col("o_custkey").as("x"),
        expr("CAST(datediff(o_orderdate, DATE '1995-01-01') AS BIGINT)")
          .as("y"))
      xy.withColumn("z", expr(zInterleave("x", "y", 16, "div")))
        .groupBy(expr(s"z div ${1L << 18}").as("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("custkey_min"), max(col("x")).as("custkey_max"),
          min(col("y")).as("day_min"), max(col("y")).as("day_max"))
        .orderBy(col("tile"))
    }),

    // Snapshot DIFF — the dataset-versioning primitive: which keys were
    // added, removed, or changed between two snapshots of the same
    // table (two deterministic views of orders stand in: snapshot A
    // drops keys % 3 = 0, snapshot B drops % 3 = 1 and re-prices keys
    // % 7 = 0). Rows are compared by an md5 fingerprint of their
    // STABLE string forms (cents-scaled price, yyyy-MM-dd date — the
    // double and the raw timestamp never enter a string). Scale shape:
    // the full-outer join shuffles (key, 16-byte fingerprint) only —
    // the row payload never crosses the wire; at 100 TB the changed
    // keys (a tiny set) would be joined back for their payloads.
    // 'unchanged' rows are filtered before the result leaves the join.
    "q78_snapshot_diff" -> ((s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        col("o_custkey"), col("o_orderstatus"),
        Parity.cents2(col("o_totalprice")).as("cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        col("o_orderpriority").as("op"))
      def fp(cents: Column) = md5(concat_ws("|", col("k"), col("o_custkey"),
        col("o_orderstatus"), cents, col("od"), col("op")))
      val a = base.filter(col("k") % 3 =!= 0)
        .select(col("k"), fp(col("cents")).as("fpa"))
      val b = base.filter(col("k") % 3 =!= 1)
        .select(col("k"), fp(when(col("k") % 7 === 0, col("cents") * 2)
          .otherwise(col("cents"))).as("fpb"))
      a.join(b, Seq("k"), "full")
        .select(col("k").as("o_orderkey"),
          when(col("fpa").isNull, lit("added"))
            .when(col("fpb").isNull, lit("removed"))
            .when(col("fpa") =!= col("fpb"), lit("changed"))
            .otherwise(lit("unchanged")).as("status"))
        .filter(col("status") =!= "unchanged")
        .orderBy(col("o_orderkey"))
    }),

    // SCD TYPE-2 history build — collapse an event changelog into
    // validity intervals: one row per run of consecutive equal
    // event_type per user, [valid_from, valid_to) with NULL valid_to
    // for the current state. Gaps-and-islands: a lag-change flag and
    // its running sum assign run ids in ONE user-keyed window pass
    // over the events; the interval frame that the second window
    // (valid_to = lead of the next run's start) re-shuffles is runs,
    // not events — already collapsed, orders of magnitude smaller.
    "q79_scd2_history" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val prev = lag(col("event_type"), 1).over(w)
      val runs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("chg",
          when(prev.isNull || prev =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("run", sum(col("chg")).over(w))
        .groupBy(col("user_id"), col("run"))
        .agg(min(col("event_type")).as("event_type"),
          min(col("ts")).as("valid_from"), count(lit(1)).as("n_events"))
      val w2 = Window.partitionBy(col("user_id")).orderBy(col("valid_from"))
      runs
        .select(col("user_id"), col("run"), col("event_type"),
          col("valid_from"),
          lead(col("valid_from"), 1).over(w2).as("valid_to"),
          col("n_events"))
        .orderBy(col("user_id"), col("run"))
    }),

    // Column PROFILE — the catalog-statistics pass behind CBO and
    // data-quality gates: per column, row count, null count, exact
    // distinct count, and lexicographic min/max over a STABLE string
    // form (cents for the double, yyyy-MM-dd for the date — engine
    // float/timestamp rendering never enters the profile). Shape:
    // stack() unpivots to (column, value) so one generic aggregate
    // serves any schema; the exchange carries single values. At 100 TB
    // swap the exact distinct for approx_count_distinct (q29's HLL) —
    // exact distinct per column is the one genuinely expensive term.
    "q80_column_profile" -> ((s, d) => {
      val stable = Tables.orders(s, d).select(
        col("o_orderkey").cast("string").as("o_orderkey"),
        col("o_custkey").cast("string").as("o_custkey"),
        col("o_orderstatus").as("o_orderstatus"),
        Parity.cents2(col("o_totalprice")).cast("string")
          .as("o_totalprice_cents"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority").as("o_orderpriority"))
      val unpivoted = stable.select(expr(
        "stack(6, 'o_orderkey', o_orderkey, 'o_custkey', o_custkey, " +
          "'o_orderstatus', o_orderstatus, " +
          "'o_totalprice_cents', o_totalprice_cents, " +
          "'o_orderdate', o_orderdate, " +
          "'o_orderpriority', o_orderpriority) AS (column_name, v)"))
      unpivoted.groupBy(col("column_name"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"))
        .orderBy(col("column_name"))
    }),

    // POINT-IN-TIME state reconstruction — the feature-store lookup
    // over q79's SCD2 intervals: each user's state exactly at every
    // observed month boundary, leakage-free by construction (an
    // interval is used only while valid_from <= T < valid_to, so no
    // future information reaches a training row stamped T). The probe
    // grid is the distinct month starts — O(calendar) rows riding a
    // broadcast — and since a user's intervals partition time, each
    // (user, snapshot) matches AT MOST one interval: no dedup pass.
    // Scale: the interval frame is the collapsed run frame, the
    // non-equi probe is against a broadcast grid (PlanLint-allowlisted
    // band-table shape, q25's precedent).
    "q83_point_in_time_state" -> ((s, d) => {
      val iv = queries("q79_scd2_history")(s, d)
      val snaps = Tables.events(s, d)
        .select(date_trunc("month", col("ts")).as("snap")).distinct()
      iv.join(broadcast(snaps),
          col("valid_from") <= col("snap") &&
            (col("valid_to").isNull || col("valid_to") > col("snap")))
        .select(col("snap"), col("user_id"), col("event_type"))
        .orderBy(col("snap"), col("user_id"))
    }),

    // REFERENTIAL-INTEGRITY audit: for every foreign-key edge of the
    // star schema, total child rows and orphans (child keys with no
    // parent). The publish gate of any warehouse ingest — a nonzero
    // orphan row here means a partial load or a dropped dimension
    // delta, caught before a downstream inner join silently loses
    // rows. Scale shape: each edge first collapses the child side
    // MAP-SIDE to distinct keys with counts (the fact table's key
    // multiplicity is tiny relative to its width, so the one exchange
    // per edge carries 8-byte keys + a long, never fact rows), parents
    // project to distinct keys (dim-sized edges broadcast), and each
    // edge reduces to a 1-row aggregate before the 7-row union.
    "q96_fk_integrity_audit" -> ((s, d) => {
      def edge(name: String, child: DataFrame, ckey: String,
          parent: DataFrame, pkey: String, bcast: Boolean): DataFrame = {
        val keys = parent.select(col(pkey).as("k")).distinct()
          .withColumn("hit", lit(1))
        val p = if (bcast) broadcast(keys) else keys
        child.groupBy(col(ckey).as("k")).agg(count(lit(1)).as("cnt"))
          .join(p, Seq("k"), "left")
          .agg(sum(col("cnt")).as("child_rows"),
            sum(when(col("hit").isNull, col("cnt")).otherwise(0L))
              .as("orphans"))
          .withColumn("edge", lit(name))
      }
      val li = Tables.lineitem(s, d)
      val edges = Seq(
        edge("customer->nation", Tables.customer(s, d), "c_nationkey",
          Tables.nation(s, d), "n_nationkey", bcast = true),
        edge("lineitem->orders", li, "l_orderkey",
          Tables.orders(s, d), "o_orderkey", bcast = false),
        edge("lineitem->part", li, "l_partkey",
          Tables.part(s, d), "p_partkey", bcast = false),
        edge("lineitem->supplier", li, "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", bcast = false),
        edge("nation->region", Tables.nation(s, d), "n_regionkey",
          Tables.region(s, d), "r_regionkey", bcast = true),
        edge("orders->customer", Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", bcast = false),
        edge("supplier->nation", Tables.supplier(s, d), "s_nationkey",
          Tables.nation(s, d), "n_nationkey", bcast = true))
      edges.reduce(_.unionByName(_))
        .withColumn("orphan_pct",
          col("orphans").cast("double") / col("child_rows").cast("double"))
        .select(col("edge"), col("child_rows"), col("orphans"),
          col("orphan_pct"))
        .orderBy(col("edge"))
    }),

    // BENFORD first-digit audit over order totals: observed share of
    // each leading digit vs the Benford expectation — the forensic
    // data-quality screen for fabricated or truncated monetary data.
    // Expected shares are shared double literals (header note), and
    // the output is one row per digit with its own deviation, so no
    // cross-row double accumulation ever happens in either engine (a
    // chi-square scalar would sum doubles in engine-dependent order).
    // Scale shape: the digit projection is row-local string math on
    // integer cents; the aggregate partial-combines map-side to 9
    // rows; the total rides a tiny window over those 9.
    "q99_benford_profile" -> ((s, d) => {
      val exp9 = array(Benford.map(lit): _*)
      val digits = Tables.orders(s, d)
        .select(substring(
          round(col("o_totalprice") * lit(100)).cast("long").cast("string"),
          1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
      val wt = Window.partitionBy()
      digits
        .withColumn("obs_share", col("n_orders").cast("double")
          / sum(col("n_orders")).over(wt).cast("double"))
        .withColumn("exp_share", element_at(exp9, col("digit")))
        .select(col("digit"), col("n_orders"), col("obs_share"),
          col("exp_share"),
          (col("obs_share") - col("exp_share")).as("deviation"))
        .orderBy(col("digit"))
    }),

    // FUNCTIONAL-DEPENDENCY profiler (Metanome-style data profiling,
    // the relational companion to q80's column profile): for each
    // declared candidate A → B, the number of A-groups, how many see
    // more than one distinct B (violations), and the verdict — how
    // key constraints and denormalization assumptions are AUDITED
    // before a pipeline relies on them. The candidate list mixes
    // true keys (o_orderkey → o_custkey) with plausible-but-false
    // dependencies (l_partkey → l_suppkey) so both verdicts are
    // exercised. Scale shape: each candidate is one partial-agg'd
    // exchange keyed on its lhs column collapsing to a 1-row verdict;
    // the union is six tiny rows.
    "q119_fd_profile" -> ((s, d) => {
      def pair(df: DataFrame, tbl: String, lhs: String, rhs: String) =
        df.groupBy(col(lhs))
          .agg(countDistinct(col(rhs)).as("ndv"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("ndv") > 1, 1L).otherwise(0L))
              .as("n_violating"))
          .select(lit(tbl).as("table_name"), lit(lhs).as("lhs"),
            lit(rhs).as("rhs"), col("n_groups"), col("n_violating"),
            (col("n_violating") === 0L).as("fd_holds"),
            (col("n_violating").cast("double") /
              col("n_groups").cast("double")).as("violation_rate"))
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      pair(li, "lineitem", "l_orderkey", "l_suppkey")
        .unionAll(pair(li, "lineitem", "l_partkey", "l_suppkey"))
        .unionAll(pair(li, "lineitem", "l_orderkey", "l_returnflag"))
        .unionAll(pair(o, "orders", "o_orderkey", "o_custkey"))
        .unionAll(pair(o, "orders", "o_custkey", "o_orderpriority"))
        .unionAll(pair(c, "customer", "c_custkey", "c_mktsegment"))
        .orderBy(col("table_name"), col("lhs"), col("rhs"))
    }),

    // BENFORD FIRST-DIGIT SCREEN — the synthetic-data / fraud screen:
    // compare the first significant digit of every line price against
    // Benford's log₁₀(1 + 1/d) law with a χ² goodness-of-fit (df = 8,
    // critical 15.5073). TPC-H's uniform price generator FAILS it
    // loudly — exactly the signal the screen exists to catch (a
    // pipeline ingesting generated or tampered financial data sees
    // this row set first). The 9 Benford probabilities are hardcoded
    // 17-digit literals (no cross-engine libm log), the digit comes
    // from the exact cents long (×100 shifts the decimal point,
    // never the leading digit), and the χ² total rides a decimal
    // window sum so it is summation-order exact. Scale shape: one
    // projected scan to a 9-row grid; everything downstream is
    // constant-size.
    "q157_benford_screen" -> ((s, d) => {
      val benford = Seq(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514)
      val wAll = Window.partitionBy(lit(1))
      Tables.lineitem(s, d)
        .select(substring(Parity.cents2(col("l_extendedprice"))
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit"))
        .agg(count(lit(1)).as("obs"))
        .withColumn("n", sum(col("obs")).over(wAll))
        .withColumn("benford_p",
          element_at(array(benford.map(lit): _*), col("digit")))
        .withColumn("expected", col("n").cast("double") * col("benford_p"))
        .withColumn("chi_part",
          (col("obs").cast("double") - col("expected")) *
            (col("obs").cast("double") - col("expected")) / col("expected"))
        .withColumn("chi2",
          sum(col("chi_part").cast(DecimalType(38, 15))).over(wAll)
            .cast("double"))
        .select(col("digit"), col("obs"), col("benford_p"),
          col("expected"), col("chi_part"), col("chi2"),
          (col("chi2") > lit(15.5073)).as("reject_95"))
        .orderBy(col("digit"))
    }))

  def oracleSql: Map[String, String] = Map(

    "q62_cdc_compact" ->
      """SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rk FROM events) t
         WHERE rk = 1 ORDER BY user_id""",

    // full recompute over ALL events — equality with the merged
    // incremental form is exactly the property being verified
    "q64_incremental_agg" ->
      """SELECT user_id, COUNT(1) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
         MAX(ts) AS last_ts
         FROM events GROUP BY user_id ORDER BY user_id""",

    "q69_histogram" ->
      """WITH b AS (SELECT MIN(l_extendedprice) AS lo,
                           MAX(l_extendedprice) AS hi FROM lineitem),
         bk AS (SELECT LEAST(CAST(FLOOR((l_extendedprice - b.lo) * 20.0
                    / (b.hi - b.lo)) AS INT), 19) AS bucket,
                  COUNT(1) AS cnt
                FROM lineitem, b GROUP BY 1),
         g AS (SELECT UNNEST(generate_series(0, 19)) AS bucket)
         SELECT CAST(g.bucket AS INT) AS bucket,
           b.lo + CAST(g.bucket AS DOUBLE) * (b.hi - b.lo) / 20.0
             AS lo_edge,
           b.lo + CAST(g.bucket + 1 AS DOUBLE) * (b.hi - b.lo) / 20.0
             AS hi_edge,
           COALESCE(bk.cnt, 0) AS n
         FROM g CROSS JOIN b LEFT JOIN bk USING (bucket)
         ORDER BY bucket""",

    // share/cum_share/skew_ratio are double divisions of exact integer
    // counts — bit-identical in both engines; the windowed BIGINT SUM
    // is cast to DOUBLE before dividing so no HUGEINT reaches pandas
    "q76_key_skew_profile" ->
      """WITH c AS (SELECT user_id, COUNT(1) AS cnt FROM events
                    GROUP BY user_id),
         s AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total,
                 COUNT(1) AS n_keys FROM c),
         t AS (SELECT user_id, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rank,
                 CAST(SUM(cnt) OVER (ORDER BY cnt DESC, user_id) AS DOUBLE)
                   AS ccnt
               FROM c)
         SELECT CAST(rank AS INT) AS rank, user_id, cnt,
           CAST(cnt AS DOUBLE) / s.total AS share,
           ccnt / s.total AS cum_share,
           CAST(cnt AS DOUBLE) * s.n_keys / s.total AS skew_ratio,
           CASE WHEN CAST(cnt AS DOUBLE) * s.n_keys / s.total > 1.25
                THEN 'salt' ELSE 'hash-ok' END AS hint
         FROM t, s WHERE rank <= 10 ORDER BY rank""",

    // identical interleave arithmetic, DuckDB's // for integer division
    "q77_zorder_layout" ->
      s"""WITH xy AS (SELECT o_custkey AS x,
             CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT)
               AS y
           FROM orders),
         zz AS (SELECT x, y, ${zInterleave("x", "y", 16, "//")} AS z
                FROM xy)
         SELECT z // ${1L << 18} AS tile, COUNT(1) AS n,
           MIN(x) AS custkey_min, MAX(x) AS custkey_max,
           MIN(y) AS day_min, MAX(y) AS day_max
         FROM zz GROUP BY 1 ORDER BY tile""",

    // identical fingerprint recipe: stable string forms only (cents as
    // BIGINT, yyyy-MM-dd), '|' separator, md5 hex
    "q78_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             strftime(o_orderdate, '%Y-%m-%d') AS od,
             o_orderpriority AS op
           FROM orders),
         a AS (SELECT k, md5(concat_ws('|', k, o_custkey, o_orderstatus,
                 cents, od, op)) AS fpa
               FROM base WHERE k % 3 <> 0),
         b AS (SELECT k, md5(concat_ws('|', k, o_custkey, o_orderstatus,
                 CASE WHEN k % 7 = 0 THEN cents * 2 ELSE cents END,
                 od, op)) AS fpb
               FROM base WHERE k % 3 <> 1)
         SELECT k AS o_orderkey,
           CASE WHEN fpa IS NULL THEN 'added'
                WHEN fpb IS NULL THEN 'removed'
                WHEN fpa <> fpb THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM a FULL JOIN b USING (k)
         WHERE CASE WHEN fpa IS NULL THEN 'added'
                    WHEN fpb IS NULL THEN 'removed'
                    WHEN fpa <> fpb THEN 'changed'
                    ELSE 'unchanged' END <> 'unchanged'
         ORDER BY o_orderkey""",

    // run is a windowed SUM -> HUGEINT in DuckDB; cast to BIGINT
    "q79_scd2_history" ->
      s"""WITH $RunCtes
         SELECT user_id, run, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
             ORDER BY valid_from) AS valid_to,
           n_events
         FROM g ORDER BY user_id, run""",

    // same stable string forms; UNION ALL is DuckDB's unpivot
    "q80_column_profile" ->
      """WITH stable AS (SELECT
             CAST(o_orderkey AS VARCHAR) AS o_orderkey,
             CAST(o_custkey AS VARCHAR) AS o_custkey,
             o_orderstatus,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR)
               AS o_totalprice_cents,
             strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             o_orderpriority
           FROM orders),
         u AS (
           SELECT 'o_orderkey' AS column_name, o_orderkey AS v FROM stable
           UNION ALL SELECT 'o_custkey', o_custkey FROM stable
           UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM stable
           UNION ALL SELECT 'o_totalprice_cents', o_totalprice_cents
             FROM stable
           UNION ALL SELECT 'o_orderdate', o_orderdate FROM stable
           UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM stable)
         SELECT column_name, COUNT(1) AS n,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           COUNT(DISTINCT v) AS n_distinct,
           MIN(v) AS min_v, MAX(v) AS max_v
         FROM u GROUP BY 1 ORDER BY 1""",

    // q79's interval CTEs + a month-start probe grid; strict upper
    // bound keeps adjacent intervals non-overlapping at the boundary
    "q83_point_in_time_state" ->
      s"""WITH $RunCtes,
         iv AS (SELECT user_id, event_type, valid_from,
                  LEAD(valid_from) OVER (PARTITION BY user_id
                    ORDER BY valid_from) AS valid_to
                FROM g),
         snaps AS (SELECT DISTINCT date_trunc('month', ts) AS snap
                   FROM events)
         SELECT snap, user_id, event_type
         FROM iv JOIN snaps
           ON valid_from <= snap
          AND (valid_to IS NULL OR valid_to > snap)
         ORDER BY snap, user_id""",

    "q96_fk_integrity_audit" -> {
      def edge(name: String, child: String, ckey: String,
          parent: String, pkey: String): String =
        s"""SELECT '$name' AS edge, COUNT(1) AS child_rows,
           CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS orphans,
           CAST(CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)
             AS orphan_pct
           FROM (SELECT $ckey AS k FROM $child) c
           LEFT JOIN (SELECT DISTINCT $pkey AS k FROM $parent) p
             ON c.k = p.k"""
      Seq(
        edge("customer->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edge("lineitem->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("lineitem->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edge("lineitem->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edge("nation->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        edge("orders->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("supplier->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
    },

    "q99_benford_profile" -> {
      val exp9 = Benford.mkString("[", ", ", "]")
      s"""WITH dg AS (SELECT CAST(substring(
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             1, 1) AS INT) AS digit
           FROM orders),
         c AS (SELECT digit, COUNT(1) AS n_orders FROM dg GROUP BY 1)
         SELECT digit, n_orders,
           CAST(n_orders AS DOUBLE)
             / CAST(CAST(SUM(n_orders) OVER () AS BIGINT) AS DOUBLE)
             AS obs_share,
           ($exp9)[digit] AS exp_share,
           CAST(n_orders AS DOUBLE)
             / CAST(CAST(SUM(n_orders) OVER () AS BIGINT) AS DOUBLE)
             - ($exp9)[digit] AS deviation
         FROM c ORDER BY digit"""
    },

    "q119_fd_profile" -> {
      def pair(tbl: String, lhs: String, rhs: String) =
        s"""SELECT '$tbl' AS table_name, '$lhs' AS lhs, '$rhs' AS rhs,
             COUNT(1) AS n_groups,
             CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
               = 0 AS fd_holds,
             CAST(CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE)
               AS violation_rate
           FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS ndv
                 FROM $tbl GROUP BY 1) g"""
      Seq(
        pair("lineitem", "l_orderkey", "l_suppkey"),
        pair("lineitem", "l_partkey", "l_suppkey"),
        pair("lineitem", "l_orderkey", "l_returnflag"),
        pair("orders", "o_orderkey", "o_custkey"),
        pair("orders", "o_custkey", "o_orderpriority"),
        pair("customer", "c_custkey", "c_mktsegment"))
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") t ORDER BY table_name, lhs, rhs")
    },

    "q157_benford_screen" ->
      """WITH dg AS (SELECT CAST(substr(CAST(CAST(round(
        |      l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS INTEGER) AS digit,
        |    CAST(COUNT(1) AS BIGINT) AS obs
        |  FROM lineitem GROUP BY 1),
        |  wm AS (SELECT digit, obs,
        |    CAST(SUM(obs) OVER () AS BIGINT) AS n,
        |    CASE digit
        |      WHEN 1 THEN 0.3010299956639812
        |      WHEN 2 THEN 0.17609125905568124
        |      WHEN 3 THEN 0.12493873660829992
        |      WHEN 4 THEN 0.09691001300805642
        |      WHEN 5 THEN 0.07918124604762482
        |      WHEN 6 THEN 0.06694678963061322
        |      WHEN 7 THEN 0.05799194697768673
        |      WHEN 8 THEN 0.05115252244738129
        |      ELSE 0.04575749056067514 END AS benford_p
        |  FROM dg),
        |  ex AS (SELECT digit, obs, n, benford_p,
        |    CAST(n AS DOUBLE) * benford_p AS expected
        |  FROM wm),
        |  cp AS (SELECT digit, obs, n, benford_p, expected,
        |    (CAST(obs AS DOUBLE) - expected) *
        |      (CAST(obs AS DOUBLE) - expected) / expected AS chi_part
        |  FROM ex),
        |  tot AS (SELECT digit, obs, benford_p, expected, chi_part,
        |    CAST(CAST(SUM(CAST(chi_part AS DECIMAL(38,15))) OVER ()
        |      AS VARCHAR) AS DOUBLE) AS chi2
        |  FROM cp)
        |SELECT digit, obs, benford_p, expected, chi_part, chi2,
        |  chi2 > 15.5073 AS reject_95
        |FROM tot ORDER BY digit""".stripMargin)
}
