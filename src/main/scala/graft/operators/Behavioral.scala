package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Parity, Tables}

/** Behavioral analytics over the `events` timelines: funnels and
  * their timing, cohorts and retention, growth accounting, journeys and
  * transition matrices, sessions, debouncing and burst alerts, and the
  * last-touch / linear / time-decay attribution family. Each query
  * carries its DuckDB oracle twin.
  */
object Behavioral extends OperatorFamily {

  /** q75's engine over any distinct (user_id, day) frame: per day
    * n_active / n_new / n_retained / n_resurrected / n_churned with
    * churned(d) = active(d-1) - retained(d). A calendar day with zero
    * actives still gets a row when the day before had any (candidate
    * days = observed UNION observed + 1), so churn after a fully-dead
    * day is attributed instead of silently dropped — but days past the
    * last observed day are right-censored (the data ending is not
    * evidence everyone churned), so candidates are capped at
    * max(observed). The cap's global window runs over the per-day
    * rollup (calendar-bounded, thousands of rows), never the events. */
  private[graft] def growthAccounting(userDays: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val ud = userDays.withColumn("prev_day", lag(col("day"), 1).over(w))
    val daily = ud.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("prev_day").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(datediff(col("day"), col("prev_day")) === 1, 1L)
          .otherwise(0L)).as("n_retained"),
        sum(when(col("prev_day").isNotNull
            && datediff(col("day"), col("prev_day")) > 1, 1L)
          .otherwise(0L)).as("n_resurrected"))
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val capped = daily.withColumn("max_day", max(col("day")).over(wAll))
    val days = capped.select(col("day"))
      .union(capped.filter(date_add(col("day"), 1) <= col("max_day"))
        .select(date_add(col("day"), 1).as("day")))
      .distinct()
    days
      .join(daily, Seq("day"), "left")
      .join(daily.select(date_add(col("day"), 1).as("day"),
        col("n_active").as("prev_active")), Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_active"), lit(0L)).as("n_active"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L))
          - coalesce(col("n_retained"), lit(0L))).as("n_churned"))
      .filter(col("n_active") > 0 || col("n_churned") > 0)
      .select(col("day").cast("timestamp_ntz").as("day"),
        col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
  }

  /** The attribution family's touch frame (q116/q122): the purchases
    * (user_id, pid, pus, cents) and every (purchase, click) pair of one
    * user whose click (cus, channel) falls in the 7-day lookback before
    * the purchase. The touch join is an equi-join on user_id with the
    * time range as join condition (the q47 contract). */
  private def purchaseTouches(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val lookbackUs = 7L * 24 * 3600 * 1000000
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"), col("value"), col("props"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        col("us").as("pus"),
        round(col("value") * 100).cast("long").as("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"),
        concat(lit("ch_"),
          (get_json_object(col("props"), "$.k").cast("long") % 5)
            .cast("string")).as("channel"))
    val touched = purchases.join(clicks, Seq("user_id"))
      .filter(col("cus") < col("pus") &&
        col("pus") - col("cus") <= lookbackUs)
    (purchases, touched)
  }

  /** The attribution books per channel: the credited micro-cents
    * (pid, channel, k, micro) plus one "organic" row for each purchase
    * with no pid in `touched`, summed as longs and divided to dollars
    * once. */
  private def creditBooks(credits: DataFrame, purchases: DataFrame,
      touched: DataFrame): DataFrame = {
    val organic = purchases.join(
        touched.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .select(col("pid"), lit("organic").as("channel"),
        lit(1L).as("k"),
        (col("cents") * lit(1000000L)).as("micro"))
    credits.unionAll(organic)
      .groupBy(col("channel"))
      .agg(countDistinct(col("pid")).as("n_purchases"),
        sum(col("k")).as("n_touches"),
        (sum(col("micro")).cast("double") / 1.0e8)
          .as("revenue_credited"))
      .orderBy(col("channel"))
  }

  /** DuckDB twin of [[purchaseTouches]]' inputs: CTEs `ev`, `purchases`
    * and `clicks`; each caller writes its own `touched` join. */
  private val TouchCtes =
    """ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             event_type, value, props FROM events),
         purchases AS (SELECT user_id, event_id AS pid, us AS pus,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM ev WHERE event_type = 'purchase'),
         clicks AS (SELECT user_id, us AS cus,
             'ch_' || CAST(CAST(json_extract_string(props, '$.k')
               AS BIGINT) % 5 AS VARCHAR) AS channel
           FROM ev WHERE event_type = 'click')"""

  /** DuckDB twin of [[creditBooks]] over CTEs `credits` and `purchases`;
    * `touched` is the query selecting the touched purchase ids. */
  private def booksSql(touched: String): String =
    s"""organic AS (SELECT pid, 'organic' AS channel,
             CAST(1 AS BIGINT) AS k,
             cents * CAST(1000000 AS BIGINT) AS micro
           FROM purchases
           WHERE pid NOT IN ($touched)),
         allc AS (SELECT * FROM credits UNION ALL SELECT * FROM organic)
         SELECT channel, COUNT(DISTINCT pid) AS n_purchases,
           CAST(SUM(k) AS BIGINT) AS n_touches,
           CAST(CAST(SUM(micro) AS BIGINT) AS DOUBLE) / 1e8
             AS revenue_credited
         FROM allc GROUP BY channel ORDER BY channel"""

  /** DuckDB twin of q61's funnel (q81 reads the same frame): CTEs `v`
    * (each user's first view), `c` (the first click after it) and `p`
    * (the first purchase after that click). */
  private val FunnelCtes =
    """v AS (SELECT user_id, MIN(ts) AS view_ts FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, v.view_ts, MIN(e.ts) AS click_ts
               FROM events e JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.view_ts
               GROUP BY e.user_id, v.view_ts),
         p AS (SELECT e.user_id, c.click_ts, MIN(e.ts) AS purchase_ts
               FROM events e JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
               GROUP BY e.user_id, c.click_ts)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Sequential funnel (MATCH_RECOGNIZE-style ordered pattern): first
    // view, then the first click strictly after it, then the first
    // purchase strictly after that — per user, with the end-to-end
    // minutes. Three conditional min-aggregations, each an equi-keyed
    // join + groupBy; deterministic because every step takes a MIN.
    "q61_funnel_steps" -> ((s, d) => {
      val e = Tables.events(s, d)
      def firstAfter(df: DataFrame, typ: String, prev: DataFrame,
          prevTs: String, outTs: String): DataFrame =
        df.filter(col("event_type") === typ)
          .join(prev, "user_id")
          .filter(col("ts") > col(prevTs))
          .groupBy(col("user_id"), col(prevTs))
          .agg(min(col("ts")).as(outTs))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
      val c = firstAfter(e, "click", v, "view_ts", "click_ts")
      val p = firstAfter(e, "purchase", c, "click_ts", "purchase_ts")
      v.join(p, "user_id")
        .select(col("user_id"), col("view_ts"), col("click_ts"),
          col("purchase_ts"),
          ((expr("unix_micros(CAST(purchase_ts AS TIMESTAMP))")
            - expr("unix_micros(CAST(view_ts AS TIMESTAMP))"))
            / lit(60000000L)).cast("long").as("mins_view_to_purchase"))
        .orderBy(col("user_id"))
    }),

    // Cohort retention — the classic event-analytics rollup: users
    // cohorted by first-active week, retention = distinct users of
    // cohort C active in week C+k, for every (cohort, week offset)
    // cell. Week offsets are exact integer arithmetic on epoch seconds
    // (truncated weeks differ by exact multiples of 604800), so the
    // whole matrix is integers — fully oracle-checked. Scale shape:
    // one distinct over (user, week) (map-side partial), one per-user
    // min for the cohort, one equi join on user_id, one cell groupBy —
    // every exchange keyed on user or cell, nothing event-sized past
    // the first distinct.
    "q65_cohort_retention" -> ((s, d) => {
      val active = Tables.events(s, d)
        .select(col("user_id"),
          date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohorts = active.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort"))
      active.join(cohorts, Seq("user_id"))
        .withColumn("week_offset",
          ((unix_timestamp(col("week")) - unix_timestamp(col("cohort")))
            / lit(604800L)).cast("int"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("week_offset"))
    }),

    // Trailing 7-day distinct users per day (the "WAU curve") — sliding
    // COUNT(DISTINCT) has no window-frame form, and the naive shape (a
    // day x events range join) is O(days * |events|). Scale shape:
    // collapse to DISTINCT (day, user) first (key-only exchange with
    // map-side partial), then each pair fans out to the <= 7 window
    // days it contributes to (bounded in-row explode), and the final
    // per-day distinct count shuffles (day, user) keys only. The
    // observed-day semi join (drop synthetic days past the data edge)
    // broadcasts the tiny day dimension.
    "q66_trailing_distinct_users" -> ((s, d) => {
      val ud = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      val cover = ud.select(
        explode(expr("sequence(day, date_add(day, 6))")).as("day"),
        col("user_id"))
      cover.join(broadcast(ud.select(col("day")).distinct()), Seq("day"),
          "left_semi")
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("users_7d"))
        // timestamp_ntz, not date: parquet date32 reaches a pandas
        // result compare as dtype=object and breaks its typed hash
        // (the q21 parity rule)
        .select(col("day").cast("timestamp_ntz").as("day"), col("users_7d"))
        .orderBy(col("day"))
    }),

    // Time-weighted average (TWAP): each observation's value holds
    // until the user's next event; the mean is duration-weighted —
    // the correct aggregate for irregularly-sampled series (a plain
    // AVG over-weights bursts). Exactness: durations are integer
    // microseconds, the weighted sum runs in DECIMAL (the q64 carrier
    // pattern), and the single IEEE division at the end is
    // oracle-bit-equal. Scale shape: one window + one groupBy, both
    // keyed by user_id (high cardinality, no global stage).
    "q68_time_weighted_avg" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seg = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
        // ts is TIMESTAMP_NTZ; the session is pinned UTC, so the cast
        // is wall-clock identity and unix_micros == DuckDB epoch_us
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("dur_us", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dur_us").isNotNull)
      // q58's integer-moment idiom: 2dp values scale to exact cents,
      // the weighted sum is a pure INTEGER decimal, and the only
      // doubles are the final two IEEE divisions — decimal(38,>0) →
      // double conversions are NOT cross-engine bit-stable (DuckDB
      // double-rounds via 10^-scale), integer decimals are
      seg.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_segments"),
          sum(col("dur_us")).as("span_us"),
          sum(Parity.cents2(col("value")).cast(DecimalType(24, 0))
            * col("dur_us").cast(DecimalType(14, 0))).as("wsum_c"))
        .select(col("user_id"), col("n_segments"), col("span_us"),
          (col("wsum_c").cast("double") / col("span_us").cast("double")
            / lit(100.0)).as("twap"))
        .orderBy(col("user_id"))
    }),

    // Event-type co-occurrence affinity — the market-basket primitive
    // (which behaviors travel together): for every unordered type
    // pair, the number of users exhibiting both, plus the Jaccard
    // affinity n_pair / (n_a + n_b - n_pair) — integers until one
    // IEEE division, so fully oracle-checked. Scale shape: collapse
    // to DISTINCT (user, type) first (key-only exchange), then the
    // user-keyed self-join fans out to at most C(|types|, 2) = 10
    // pairs per user — bounded in-partition work, never a type-pair
    // cross product over raw events; the 5-row per-type totals
    // broadcast.
    "q70_cooccurrence_pairs" -> ((s, d) => {
      val ut = Tables.events(s, d)
        .select(col("user_id"), col("event_type")).distinct()
      val perType = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_type"))
      val a = ut.select(col("user_id"), col("event_type").as("type_a"))
      val b = ut.select(col("user_id"), col("event_type").as("type_b"))
      a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_pair"))
        .join(broadcast(perType.select(col("event_type").as("type_a"),
          col("n_type").as("n_a"))), Seq("type_a"))
        .join(broadcast(perType.select(col("event_type").as("type_b"),
          col("n_type").as("n_b"))), Seq("type_b"))
        .withColumn("affinity", col("n_pair").cast("double")
          / (col("n_a") + col("n_b") - col("n_pair")).cast("double"))
        .select(col("type_a"), col("type_b"), col("n_pair"),
          col("n_a"), col("n_b"), col("affinity"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // First-order behavior transition matrix: P(next event type |
    // current type) from each user's time-ordered stream — the Markov
    // summary behind funnel design and anomaly baselines (q61 checks
    // ONE fixed path; this measures every edge). Scale shape: the lag
    // window is user-keyed (high cardinality), the count rollup
    // carries 25 cells, and the per-from normalization is a window
    // over that tiny frame; probabilities are integer-exact until one
    // IEEE division.
    "q71_transition_matrix" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      tr.groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", col("n").cast("double")
          / sum(col("n")).over(Window.partitionBy(col("from_type")))
            .cast("double"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // RFM segmentation — the classic customer-value partitioning:
    // recency (days since last event, against the corpus max day),
    // frequency (event count), monetary (cents-exact value sum), each
    // cut into quintiles with NTILE. Determinism: every NTILE ordering
    // carries user_id as the tie-break (equal metrics would otherwise
    // tile by partition order), and monetary is integer cents, so both
    // engines tile identically. Scale shape: one user-keyed partial
    // aggregate; the corpus max day and row count are 1-row
    // broadcasts; each exact quintile is a range-partitioned global
    // rank (Packing.orderedRank) + the closed-form ntile bucket rule
    // — three parallel range exchanges over the per-user frame, no
    // single-task window at any size.
    "q72_rfm_segmentation" -> ((s, d) => {
      // the per-user rollup feeds the max-day scalar, the count scalar,
      // and the ranked base — cut it so the events scan + aggregate
      // runs once, not three times
      val perUser = Materialize.LocalCheckpoint(Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          Parity.cents2(col("value")).as("cents"))
        .groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"),
          count(lit(1)).as("n_events"),
          sum(col("cents")).as("monetary_cents")))
      val maxDay = perUser.agg(max(col("last_day")).as("corpus_max_day"))
      val nTot = perUser.agg(count(lit(1)).as("n_total"))
      // exact quintiles over |users| WITHOUT a single-task ntile window:
      // three range-partitioned global ranks (Packing.orderedRank) + the
      // closed-form ntile bucket rule. 5 = best on every axis: recency
      // DESC (most recent last), frequency/monetary ASC (highest last).
      def addQuintile(df: org.apache.spark.sql.DataFrame,
          sort: Seq[Column], name: String) =
        Packing.orderedRank(df, sort)
          .withColumn(name,
            Packing.ntileFromRank(col("rnk"), col("n_total"), 5)
              .cast("int"))
          .drop("rnk")
      val base = perUser.join(broadcast(maxDay), lit(true))
        .withColumn("recency_days",
          datediff(col("corpus_max_day"), col("last_day")))
        .crossJoin(broadcast(nTot))
      val ranked = addQuintile(
        addQuintile(
          addQuintile(base,
            Seq(col("recency_days").desc, col("user_id")), "r"),
          Seq(col("n_events"), col("user_id")), "f"),
        Seq(col("monetary_cents"), col("user_id")), "m")
      ranked.select(col("user_id"),
          col("recency_days").cast("int").as("recency_days"),
          col("n_events"), col("monetary_cents"),
          col("r"), col("f"), col("m"))
        .withColumn("rfm", col("r") * 100 + col("f") * 10 + col("m"))
        .orderBy(col("user_id"))
    }),

    // Growth accounting — the canonical DAU decomposition: every
    // active (user, day) is NEW (first-ever day), RETAINED (also
    // active the previous calendar day) or RESURRECTED (returning
    // after a gap), and CHURNED(d) = active(d-1) - retained(d) —
    // the identity the four series must satisfy. A calendar day with
    // ZERO actives still gets a row when the day before had any
    // (its churn must be attributed somewhere), so the candidate day
    // set is observed days UNION observed days + 1, right-censored at
    // the last observed day. Scale shape:
    // distinct (user, day) pairs, one user-keyed window (lag), then a
    // tiny per-day rollup joined to its own previous day.
    "q75_growth_accounting" -> ((s, d) => {
      growthAccounting(Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct())
        .orderBy(col("day"))
    }),

    // Funnel TIMING — q61 reports who converts; this reports HOW FAST:
    // exact p25/median/p75 of the time spent on each funnel edge
    // (view→click, click→purchase, view→purchase) across converting
    // users, in seconds. The latency distribution is the number a
    // growth team actually tunes against. Shape: the q61 chain (all
    // user-keyed aggregates), a row-local 3-edge explode, then one
    // exact-percentile aggregate per edge over integer-µs deltas —
    // the percentile frame is |converting users| × 3, tiny by
    // construction.
    "q81_funnel_timing" -> ((s, d) => {
      val f = queries("q61_funnel_steps")(s, d)
      def us(c: String) = expr(s"unix_micros(CAST($c AS TIMESTAMP))")
      val edges = f.select(explode(array(
        struct(lit("1_view_to_click").as("edge"),
          (us("click_ts") - us("view_ts")).as("dt_us")),
        struct(lit("2_click_to_purchase").as("edge"),
          (us("purchase_ts") - us("click_ts")).as("dt_us")),
        struct(lit("3_view_to_purchase").as("edge"),
          (us("purchase_ts") - us("view_ts")).as("dt_us")))).as("x"))
        .select(col("x.edge").as("edge"), col("x.dt_us").as("dt_us"))
      edges.groupBy(col("edge"))
        .agg(count(lit(1)).as("n"),
          (expr("percentile(dt_us, 0.25)") / 1000000.0).as("p25_s"),
          (expr("percentile(dt_us, 0.5)") / 1000000.0).as("med_s"),
          (expr("percentile(dt_us, 0.75)") / 1000000.0).as("p75_s"))
        .orderBy(col("edge"))
    }),

    // Top user JOURNEYS — the path-analysis rollup behind q71's
    // one-step transition matrix: every 3 consecutive events per user
    // forms a path trigram (view>click>purchase, ...); report the
    // top-10 corpus-wide with counts. Shape: one user-keyed window
    // pass (two leads share the frame), a rollup whose key space is
    // bounded by |event types|^3 (partial agg collapses map-side),
    // and a TakeOrdered top-10 — no global sort, ties broken by path.
    "q82_top_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wTop = Window.orderBy(col("n").desc, col("path"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
        .select(row_number().over(wTop).as("rank"), col("path"), col("n"))
        .orderBy(col("rank"))
    }),

    // LAST-TOUCH attribution: every purchase is credited to the most
    // recent preceding click's channel for that user (clicks carry a
    // synthetic channel derived from props.k; purchases with no prior
    // click are 'organic'). Shape: ONE user-keyed window does the
    // whole job — the q60 LOCF idiom (last_value ignoreNulls over an
    // unbounded-preceding frame) carries the channel forward through
    // each user's interleaved click/purchase timeline, so there is no
    // range join of purchases against click history (the naive shape,
    // quadratic in events per user). The frame is pre-filtered to the
    // two relevant event types at the scan (pushed filter), and the
    // window partitions on user_id — high cardinality, no skew. Final
    // agg is |channels| rows.
    "q87_last_touch_attribution" -> ((s, d) => {
      val e = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"),
          when(col("event_type") === "click",
            concat(lit("ch_"),
              (get_json_object(col("props"), "$.k").cast("long") % 5)
                .cast("string"))).as("ch"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("attr", last(col("ch"), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("attr"), lit("organic")).as("channel"))
        // revenue summed as integer cents (q68 rule: double sums are
        // order-dependent across engines; integer sums are exact)
        .agg(count(lit(1)).as("n_purchases"),
          (sum(round(col("value") * lit(100)).cast("long")).cast("double")
            / lit(100.0)).as("revenue"))
        .orderBy(col("channel"))
    }),

    // INTER-PURCHASE interval distribution: day gaps between each
    // user's consecutive purchases, summarized as exact interpolated
    // quartiles + decimal mean — the repeat-behavior cadence number
    // that prices retention campaigns. Scale: one user-keyed window
    // (user_id is high-cardinality, no hot partition), gaps are small
    // integer days so the q50 exactness argument applies (quartile
    // interpolation at binary fractions {.25,.5,.75} is bit-exact in
    // both engines); the final aggregate is a single row.
    "q91_interpurchase" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .withColumn("prev_day", lag(to_date(col("ts")), 1).over(w))
        .filter(col("prev_day").isNotNull)
        .select(datediff(to_date(col("ts")), col("prev_day")).as("gap_days"))
      gaps.agg(count(lit(1)).as("n_gaps"),
        expr("percentile(gap_days, 0.25)").as("p25"),
        median(col("gap_days")).as("med"),
        expr("percentile(gap_days, 0.75)").as("p75"),
        Parity.davg(col("gap_days").cast("double")).as("mean_days"))
    }),

    // Weekday × hour activity HEATMAP: event and distinct-user counts
    // per (dow, hour) cell plus each cell's share of total traffic —
    // the load-shape table behind capacity planning and anomaly
    // baselines (q85's fences are per-series; this is where the
    // series' weekly pulse lives). Scale: the cell key is derived
    // in-row, one grouped aggregate collapses events map-side to
    // ≤ 168 cells, and the share window runs over that tiny frame.
    "q95_activity_heatmap" -> ((s, d) => {
      val w = Window.partitionBy()
      Tables.events(s, d)
        .select((dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hr"), col("user_id"))
        .groupBy(col("dow"), col("hr"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .withColumn("traffic_share",
          col("n_events").cast("double")
            / sum(col("n_events")).over(w).cast("double"))
        .orderBy(col("dow"), col("hr"))
    }),

    // COHORT LTV curve: customers grouped by first-order month, and for
    // each month offset the cohort's revenue plus CUMULATIVE revenue
    // per cohort customer — the lifetime-value ramp that prices
    // acquisition spend (q65 tracks who comes back; this tracks what
    // they are worth). Months ride a single integer (year*12+month-1)
    // so cohort/offset arithmetic is portable int math; revenue rides
    // integer cents until the final projections. Scale shape: the
    // order frame partial-aggregates map-side and exchanges once on
    // o_custkey for the first-order join (co-partitioned both sides);
    // the rollup collapses to |cohorts|x|offsets| cells, so the
    // cumulative window and cohort-size broadcast join run over a
    // frame that stays tiny no matter how large orders grows.
    "q98_cohort_ltv" -> ((s, d) => {
      val om = Tables.orders(s, d).select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("ym"),
        round(col("o_totalprice") * lit(100)).cast("long").as("cents"))
      val first = om.groupBy(col("o_custkey"))
        .agg(min(col("ym")).as("cohort_ym"))
      val cells = om.join(first, "o_custkey")
        .withColumn("months_since",
          (col("ym") - col("cohort_ym")).cast("int"))
        .groupBy(col("cohort_ym"), col("months_since"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev_c"))
      val sizes = first.groupBy(col("cohort_ym"))
        .agg(count(lit(1)).as("cohort_size"))
      val wc = Window.partitionBy(col("cohort_ym"))
        .orderBy(col("months_since"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(sizes), "cohort_ym")
        .withColumn("cum_c", sum(col("rev_c")).over(wc))
        .select(
          format_string("%04d-%02d",
            expr("cohort_ym div 12"), col("cohort_ym") % 12 + 1)
            .as("cohort_month"),
          col("months_since"), col("cohort_size"), col("n_orders"),
          (col("rev_c").cast("double") / lit(100.0)).as("revenue"),
          (col("cum_c").cast("double") / lit(100.0)
            / col("cohort_size").cast("double")).as("cum_ltv"))
        .orderBy(col("cohort_month"), col("months_since"))
    }),

    // DEBOUNCE / run-length compression of event streams: a row is
    // redundant when it repeats the previous event's type within 60 s
    // on the same user's timeline — the sensor/telemetry compaction
    // every high-frequency ingest runs before storage (q62 compacts by
    // key to latest; this compacts along time). Reports per-user raw
    // vs kept counts and the compression rate. Scale shape: one lag
    // window partitioned by user_id (high cardinality, timeline-local
    // — the q87 contract), timestamps carried as integer epoch-µs
    // (unix_micros == DuckDB epoch_us, the q68 rule); the rollup
    // partial-aggregates to one row per user.
    "q101_debounce_compress" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_us", lag(col("us"), 1).over(w))
        .withColumn("kept", when(col("prev_type").isNull
          || col("prev_type") =!= col("event_type")
          || col("us") - col("prev_us") > 60000000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("kept")).as("n_kept"))
        .withColumn("compression_rate",
          lit(1.0) - col("n_kept").cast("double")
            / col("n_events").cast("double"))
        .select(col("user_id"), col("n_events"), col("n_kept"),
          col("compression_rate"))
        .orderBy(col("user_id"))
    }),

    // ERROR-BURST detection — the N-in-T alerting primitive (3 errors
    // within 5 minutes) over each user's error timeline: a burst point
    // is an error whose 2nd-back predecessor landed <= 300 s earlier.
    // q101 compresses repeats; this DETECTS them — the rule an on-call
    // pager fires on, run in batch for threshold backtesting.
    // Timestamps ride integer epoch-us (the q68/q101 rule), so the
    // window arithmetic is exact in both engines. Scale shape: the
    // error filter pushes to the scan; one lag window partitioned by
    // user_id (high cardinality, timeline-local — the q87 contract);
    // the rollup partial-aggregates to one row per erroring user.
    "q106_error_bursts" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("burst",
          when(col("us") - lag(col("us"), 2).over(w) <= 300000000L, 1L)
            .otherwise(0L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_errors"),
          sum(col("burst")).as("n_burst_points"))
        .orderBy(col("user_id"))
    }),

    // LINEAR multi-touch attribution — q87's other half: q87 gives the
    // whole purchase to the LAST click; this splits each purchase's
    // revenue EQUALLY across every click in the 7-day lookback (the
    // position-agnostic multi-touch model marketers compare last-touch
    // against), purchases with no touch crediting "organic". Credit
    // conservation (Σ credited = Σ purchase revenue, to the floor
    // remainders) is pinned in spec. Revenue rides exact cents; each
    // (purchase, channel) credit is FLOOR-ALLOCATED in micro-cents
    // ((cents·k·10⁶) div n — exact BIGINT in both engines), the books
    // sum as longs, and dollars appear in one final division (see the
    // q122 scaladoc for why the earlier per-purchase double + dsum
    // formulation was a latent cross-engine rounding-tie hazard).
    // Scale shape: the touch join is an equi-join on user_id with the
    // time-range predicate as join condition (the q47 contract — no
    // product join); everything after is partial-aggregated counts
    // keyed by purchase then channel.
    "q116_linear_attribution" -> ((s, d) => {
      val (purchases, touched) = purchaseTouches(s, d)
      val perChan = touched.groupBy(col("pid"), col("cents"),
          col("channel"))
        .agg(count(lit(1)).as("k"))
      val wP = Window.partitionBy(col("pid"))
      // micro-cent floor allocation — exact BIGINT div in both engines;
      // the per-purchase double division + dsum this replaced can land
      // on 6-dp rounding ties where the engines disagree (found by
      // q122's sf0.1 compare; dsum is engine-exact only for true 6-dp
      // inputs, and cents·k/n is an arbitrary rational)
      val credits = perChan
        .withColumn("n", sum(col("k")).over(wP))
        .select(col("pid"), col("channel"), col("k"),
          expr("(cents * k * CAST(1000000 AS BIGINT)) div n").as("micro"))
      creditBooks(credits, purchases, touched)
    }),

    // TIME-DECAY multi-touch attribution — the third member of the
    // attribution family (q87 last-touch, q116 linear): each click
    // touch inside the 7-day lookback earns weight 1/2^floor(age_days)
    // — a halving per whole day of age — and a purchase's cents split
    // across channels proportionally to summed weights. Stepwise
    // halving (not continuous exp decay) is deliberate: weights are
    // exact powers of two carried as INTEGER 64 >> age_days, so the
    // whole computation is integer-exact END-TO-END — a continuous
    // pow(0.5, age/half_life) would sum engine-specific transcendental
    // doubles and lose the oracle (t16/t21's log-free design applied
    // to attribution). Credits are FLOOR-ALLOCATED in micro-cents
    // ((cents·w·10⁶) div wtot — exact BIGINT `div` in both engines),
    // summed as longs, and divided to dollars ONCE at the end: the
    // first shipped form divided per purchase and dsum'd the resulting
    // arbitrary doubles, and at sf0.1 one credit landed on a 6-dp
    // rounding tie where Spark (HALF_UP on shortest repr) and DuckDB
    // (binary value) disagree — dsum is only engine-exact for true
    // 6-dp inputs. Floor loses < 1 micro-cent per credit row
    // (conservation still pinned at 1e-6 relative). Scale shape:
    // q116's — the touch join keys on user_id, per-(purchase, channel)
    // weights partial-aggregate map-side, the organic branch is an
    // anti-join on purchase id, and the final rollup is |channels|+1
    // rows.
    "q122_time_decay_attribution" -> ((s, d) => {
      val dayUs = 24L * 3600 * 1000000
      val (purchases, pairs) = purchaseTouches(s, d)
      val touched = pairs
        // age_days in [0, 7] ⇒ weight 64 >> age_days in {64,…,1,0};
        // the boundary touch at exactly 7 days gets shifted to 0 —
        // consistent in both engines (64 >> 7 = 0)
        .withColumn("w64", expr(s"shiftright(CAST(64 AS BIGINT), " +
          s"CAST((pus - cus) div $dayUs AS INT))"))
      val perChan = touched.groupBy(col("pid"), col("cents"),
          col("channel"))
        .agg(count(lit(1)).as("k"), sum(col("w64")).as("chan64"))
      val wP = Window.partitionBy(col("pid"))
      val credits = perChan
        .withColumn("tot64", sum(col("chan64")).over(wP))
        .filter(col("tot64") > 0L)
        .select(col("pid"), col("channel"), col("k"),
          expr("(cents * chan64 * CAST(1000000 AS BIGINT)) div tot64")
            .as("micro"))
      creditBooks(credits, purchases, touched.filter(col("w64") > 0L))
    }),

    // SEQUENTIAL PATTERN MATCHING over event timelines — the
    // MATCH_RECOGNIZE capability class (row-pattern recognition) Spark
    // has no native operator for, expressed with the classic
    // sequence-as-string trick: each user's timeline becomes one
    // character string (event types here have unique first letters:
    // s/v/c/p/e), ordered by the deterministic (ts, event_id) total
    // order, and row patterns become REGEXES evaluated row-locally —
    // `s.*v.*c.*p` (full funnel, any gaps), `e+p` (purchase
    // immediately after an error run — the retry-success signal),
    // `p[^e]*p` (repeat purchase with no intervening error). Counts
    // are non-overlapping leftmost-greedy in BOTH engines (java.regex
    // and RE2 share the preference order for these constructs). Where
    // q61/q81 pin one fixed funnel shape in joins, this is the
    // GENERIC matcher: a new pattern is a new literal, not a new
    // plan. Scale shape: the only exchange is the user-keyed
    // collect_list (timeline strings bounded by per-user activity —
    // the q82 contract); the three patterns scan each string in one
    // projection; the rollup is 1 row → 3 via stack.
    "q128_sequence_pattern" -> ((s, d) => {
      val pats = Seq(
        ("error_then_purchase", "e+p"),
        ("funnel_svcp", "s.*v.*c.*p"),
        ("repeat_purchase_no_error", "p[^e]*p"))
      val seqs = Tables.events(s, d)
        .select(col("user_id"), struct(col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch")).as("ev"))
        .groupBy(col("user_id"))
        .agg(expr("array_join(transform(array_sort(collect_list(ev)), " +
          "x -> x.ch), '')").as("str"))
      val aggCols = pats.indices.flatMap(i => Seq(
        sum(when(col(s"c$i") > 0, 1L).otherwise(0L)).as(s"u$i"),
        sum(col(s"c$i")).cast("long").as(s"m$i")))
      val counted = seqs.select(pats.zipWithIndex.map { case ((_, p), i) =>
        expr(s"regexp_count(str, '$p')").as(s"c$i") }: _*)
        .agg(aggCols.head, aggCols.tail: _*)
      counted.select(expr("stack(3, " + pats.zipWithIndex.map {
          case ((label, _), i) => s"'$label', u$i, m$i" }.mkString(", ") +
          ") AS (pattern, n_users, n_matches)"))
        .orderBy(col("pattern"))
    }))

  def oracleSql: Map[String, String] = Map(

    "q61_funnel_steps" ->
      s"""WITH $FunnelCtes
         SELECT v.user_id, v.view_ts, p.click_ts, p.purchase_ts,
                (epoch_us(p.purchase_ts) - epoch_us(v.view_ts)) // 60000000
                  AS mins_view_to_purchase
         FROM v JOIN p ON p.user_id = v.user_id
         ORDER BY v.user_id""",

    "q65_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS week
                    FROM events),
         c AS (SELECT user_id, MIN(week) AS cohort FROM a GROUP BY user_id)
         SELECT c.cohort,
           CAST((CAST(EPOCH(a.week) AS BIGINT)
                 - CAST(EPOCH(c.cohort) AS BIGINT)) // 604800 AS INT)
             AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
         FROM a JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort, week_offset""",

    "q66_trailing_distinct_users" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                     FROM events),
         days AS (SELECT DISTINCT day FROM ud)
         SELECT CAST(d.day AS TIMESTAMP) AS day,
                COUNT(DISTINCT u.user_id) AS users_7d
         FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
         GROUP BY d.day ORDER BY d.day""",

    "q68_time_weighted_avg" ->
      """WITH seg AS (
           SELECT user_id, value,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) - epoch_us(ts) AS dur_us
           FROM events)
         SELECT user_id, COUNT(1) AS n_segments,
           CAST(SUM(dur_us) AS BIGINT) AS span_us,
           CAST(SUM(CAST(ROUND(value * 100) AS DECIMAL(24,0))
                    * CAST(dur_us AS DECIMAL(14,0))) AS DOUBLE)
             / CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / 100.0 AS twap
         FROM seg WHERE dur_us IS NOT NULL
         GROUP BY user_id ORDER BY user_id""",

    "q70_cooccurrence_pairs" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
         pt AS (SELECT event_type, COUNT(1) AS n_type FROM ut
                GROUP BY event_type),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  COUNT(1) AS n_pair
                FROM ut a JOIN ut b ON a.user_id = b.user_id
                  AND a.event_type < b.event_type
                GROUP BY 1, 2)
         SELECT pr.type_a, pr.type_b, pr.n_pair,
           pa.n_type AS n_a, pb.n_type AS n_b,
           CAST(pr.n_pair AS DOUBLE)
             / CAST(pa.n_type + pb.n_type - pr.n_pair AS DOUBLE)
             AS affinity
         FROM pr JOIN pt pa ON pa.event_type = pr.type_a
         JOIN pt pb ON pb.event_type = pr.type_b
         ORDER BY type_a, type_b""",

    "q71_transition_matrix" ->
      """WITH tr AS (SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, COUNT(1) AS n FROM tr
               WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n,
           CAST(n AS DOUBLE)
             / CAST(CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                    AS DOUBLE) AS p
         FROM c ORDER BY from_type, to_type""",

    "q72_rfm_segmentation" ->
      """WITH pu AS (SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
             COUNT(1) AS n_events,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
           FROM events GROUP BY user_id),
         mx AS (SELECT MAX(last_day) AS corpus_max_day FROM pu),
         t AS (SELECT user_id,
             CAST(corpus_max_day - last_day AS INT) AS recency_days,
             n_events, monetary_cents,
             NTILE(5) OVER (ORDER BY corpus_max_day - last_day DESC,
               user_id) AS r,
             NTILE(5) OVER (ORDER BY n_events, user_id) AS f,
             NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS m
           FROM pu CROSS JOIN mx)
         SELECT user_id, recency_days, n_events, monetary_cents,
           CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(r * 100 + f * 10 + m AS INT) AS rfm
         FROM t ORDER BY user_id""",

    "q75_growth_accounting" ->
      """WITH ud AS (SELECT user_id, day, LAG(day) OVER
             (PARTITION BY user_id ORDER BY day) AS prev_day
           FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events) t),
         daily AS (SELECT day, COUNT(1) AS n_active,
             CAST(SUM(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_new,
             CAST(SUM(CASE WHEN day - prev_day = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_retained,
             CAST(SUM(CASE WHEN prev_day IS NOT NULL AND day - prev_day > 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
           FROM ud GROUP BY day),
         days AS (SELECT day FROM daily
                  UNION SELECT day + 1 FROM daily
                  WHERE day + 1 <= (SELECT max(day) FROM daily))
         SELECT CAST(dy.day AS TIMESTAMP) AS day,
           COALESCE(d.n_active, 0) AS n_active,
           COALESCE(d.n_new, 0) AS n_new,
           COALESCE(d.n_retained, 0) AS n_retained,
           COALESCE(d.n_resurrected, 0) AS n_resurrected,
           COALESCE(p.n_active, 0) - COALESCE(d.n_retained, 0) AS n_churned
         FROM days dy
         LEFT JOIN daily d ON d.day = dy.day
         LEFT JOIN daily p ON p.day = dy.day - 1
         WHERE COALESCE(d.n_active, 0) > 0
            OR COALESCE(p.n_active, 0) - COALESCE(d.n_retained, 0) > 0
         ORDER BY dy.day""",

    // q61's chain + a 3-edge unpivot; quantile_cont mirrors Spark's
    // interpolating percentile() on the same integer-µs deltas
    "q81_funnel_timing" ->
      s"""WITH $FunnelCtes,
         f AS (SELECT v.user_id, v.view_ts, p.click_ts, p.purchase_ts
               FROM v JOIN p ON p.user_id = v.user_id),
         edges AS (
           SELECT '1_view_to_click' AS edge,
             epoch_us(click_ts) - epoch_us(view_ts) AS dt_us FROM f
           UNION ALL SELECT '2_click_to_purchase',
             epoch_us(purchase_ts) - epoch_us(click_ts) FROM f
           UNION ALL SELECT '3_view_to_purchase',
             epoch_us(purchase_ts) - epoch_us(view_ts) FROM f)
         SELECT edge, COUNT(1) AS n,
           quantile_cont(dt_us, 0.25) / 1000000.0 AS p25_s,
           quantile_cont(dt_us, 0.5) / 1000000.0 AS med_s,
           quantile_cont(dt_us, 0.75) / 1000000.0 AS p75_s
         FROM edges GROUP BY edge ORDER BY edge""",

    "q82_top_paths" ->
      """WITH s AS (SELECT event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         c AS (SELECT event_type || '>' || t2 || '>' || t3 AS path,
                 COUNT(1) AS n
               FROM s WHERE t3 IS NOT NULL GROUP BY 1)
         SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INT)
             AS rank,
           path, n
         FROM c QUALIFY rank <= 10 ORDER BY rank""",

    "q87_last_touch_attribution" ->
      """WITH tagged AS (
           SELECT user_id, ts, event_id, event_type, value,
                  CASE WHEN event_type = 'click'
                       THEN 'ch_' ||
                            CAST(CAST(props->>'k' AS BIGINT) % 5 AS VARCHAR)
                  END AS ch
           FROM events WHERE event_type IN ('click', 'purchase')),
         carried AS (
           SELECT *, last_value(ch IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS attr
           FROM tagged)
         SELECT COALESCE(attr, 'organic') AS channel,
                COUNT(*) AS n_purchases,
                CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                  / 100.0 AS revenue
         FROM carried WHERE event_type = 'purchase'
         GROUP BY 1 ORDER BY 1""",

    "q91_interpurchase" ->
      s"""WITH p AS (SELECT user_id, ts, event_id,
             LAG(CAST(ts AS DATE)) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev_day
           FROM events WHERE event_type = 'purchase'),
         g AS (SELECT date_diff('day', prev_day, CAST(ts AS DATE))
                 AS gap_days
               FROM p WHERE prev_day IS NOT NULL)
         SELECT COUNT(*) AS n_gaps,
                quantile_cont(gap_days, 0.25) AS p25,
                quantile_cont(gap_days, 0.5) AS med,
                quantile_cont(gap_days, 0.75) AS p75,
                ${Parity.davgSql("CAST(gap_days AS DOUBLE)")} AS mean_days
         FROM g""",

    "q95_activity_heatmap" ->
      """WITH c AS (SELECT CAST(date_part('dow', ts) AS BIGINT) AS dow,
             CAST(date_part('hour', ts) AS BIGINT) AS hr, user_id
           FROM events),
         agg AS (SELECT dow, hr, COUNT(*) AS n_events,
                   COUNT(DISTINCT user_id) AS n_users
                 FROM c GROUP BY 1, 2)
         SELECT dow, hr, n_events, n_users,
                CAST(n_events AS DOUBLE)
                  / CAST(CAST(SUM(n_events) OVER () AS BIGINT) AS DOUBLE)
                  AS traffic_share
         FROM agg ORDER BY dow, hr""",

    "q98_cohort_ltv" ->
      """WITH om AS (SELECT o_custkey,
             CAST(date_part('year', o_orderdate) * 12
               + date_part('month', o_orderdate) - 1 AS BIGINT) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         f AS (SELECT o_custkey, MIN(ym) AS cohort_ym FROM om GROUP BY 1),
         cells AS (SELECT cohort_ym,
                 CAST(ym - cohort_ym AS INT) AS months_since,
                 COUNT(1) AS n_orders,
                 CAST(SUM(cents) AS BIGINT) AS rev_c
               FROM om JOIN f USING (o_custkey) GROUP BY 1, 2),
         sz AS (SELECT cohort_ym, COUNT(1) AS cohort_size FROM f
                GROUP BY 1),
         cum AS (SELECT cohort_ym, months_since, n_orders, rev_c,
                   CAST(SUM(rev_c) OVER (PARTITION BY cohort_ym
                     ORDER BY months_since
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_c
                 FROM cells)
         SELECT printf('%04d-%02d', CAST(cohort_ym // 12 AS INT),
             CAST(cohort_ym % 12 + 1 AS INT)) AS cohort_month,
           months_since, cohort_size, n_orders,
           CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
           CAST(cum_c AS DOUBLE) / 100.0 / CAST(cohort_size AS DOUBLE)
             AS cum_ltv
         FROM cum JOIN sz USING (cohort_ym)
         ORDER BY cohort_month, months_since""",

    "q101_debounce_compress" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
             lag(event_type) OVER w AS prev_type,
             lag(epoch_us(ts)) OVER w AS prev_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         k AS (SELECT user_id,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type
                    OR us - prev_us > 60000000 THEN 1 ELSE 0 END AS kept
           FROM e)
         SELECT user_id, COUNT(1) AS n_events,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           1.0 - CAST(CAST(SUM(kept) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(1) AS DOUBLE) AS compression_rate
         FROM k GROUP BY user_id ORDER BY user_id""",

    "q106_error_bursts" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us
           FROM events WHERE event_type = 'error'),
         b AS (SELECT user_id,
             CASE WHEN us - lag(us, 2) OVER w <= 300000000
                  THEN 1 ELSE 0 END AS burst
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY us, event_id))
         SELECT user_id, COUNT(1) AS n_errors,
           CAST(SUM(burst) AS BIGINT) AS n_burst_points
         FROM b GROUP BY user_id ORDER BY user_id""",

    "q116_linear_attribution" ->
      s"""WITH $TouchCtes,
         touched AS (SELECT p.pid, p.cents, c.channel
           FROM purchases p JOIN clicks c ON p.user_id = c.user_id
           WHERE c.cus < p.pus AND p.pus - c.cus <= 604800000000),
         per_chan AS (SELECT pid, cents, channel, COUNT(1) AS k
           FROM touched GROUP BY 1, 2, 3),
         credits AS (SELECT pid, channel, k,
             (cents * k * CAST(1000000 AS BIGINT))
               // CAST(SUM(k) OVER (PARTITION BY pid) AS BIGINT)
               AS micro
           FROM per_chan),
         ${booksSql("SELECT pid FROM touched")}""",

    // stepwise-halving weights: 64 >> age_days is exact integer
    // arithmetic in both engines; micro-cent floor allocation keeps the
    // books in BIGINT until one final division
    "q122_time_decay_attribution" ->
      s"""WITH $TouchCtes,
         touched AS (SELECT p.pid, p.cents, c.channel,
             CAST(64 AS BIGINT) >> CAST((p.pus - c.cus) // 86400000000
               AS INT) AS w64
           FROM purchases p JOIN clicks c ON p.user_id = c.user_id
           WHERE c.cus < p.pus AND p.pus - c.cus <= 604800000000),
         per_chan AS (SELECT pid, cents, channel, COUNT(1) AS k,
             CAST(SUM(w64) AS BIGINT) AS chan64
           FROM touched GROUP BY 1, 2, 3),
         credits AS (SELECT pid, channel, k,
             (cents * chan64 * CAST(1000000 AS BIGINT)) // tot64
               AS micro
           FROM (SELECT pid, cents, channel, k, chan64,
               CAST(SUM(chan64) OVER (PARTITION BY pid) AS BIGINT)
                 AS tot64
             FROM per_chan) t
           WHERE tot64 > 0),
         ${booksSql("SELECT pid FROM touched WHERE w64 > 0")}""",

    // same timeline strings (string_agg with the same (ts, event_id)
    // total order), same regexes — RE2 and java.regex agree on
    // leftmost-greedy non-overlapping counts for these constructs
    "q128_sequence_pattern" ->
      """WITH s AS (SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
               ORDER BY ts, event_id) AS str
           FROM events GROUP BY 1),
         m AS (SELECT user_id,
             len(regexp_extract_all(str, 'e+p')) AS c0,
             len(regexp_extract_all(str, 's.*v.*c.*p')) AS c1,
             len(regexp_extract_all(str, 'p[^e]*p')) AS c2
           FROM s),
         u AS (
           SELECT 'error_then_purchase' AS pattern,
             CAST(SUM(CASE WHEN c0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_users,
             CAST(SUM(c0) AS BIGINT) AS n_matches FROM m
           UNION ALL
           SELECT 'funnel_svcp',
             CAST(SUM(CASE WHEN c1 > 0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(c1) AS BIGINT) FROM m
           UNION ALL
           SELECT 'repeat_purchase_no_error',
             CAST(SUM(CASE WHEN c2 > 0 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(SUM(c2) AS BIGINT) FROM m)
         SELECT pattern, n_users, n_matches FROM u ORDER BY pattern""")
}
