package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.HashFunctions.md5Hash60Sql

/** Tenth analytics batch: graph structure beyond centrality (triangle
  * counting / clustering coefficients via the degree-orientation trick),
  * seasonal-residual anomaly detection over the dense hour grid (the
  * alerting layer q95's heatmap and q92's seasonality profile feed), the
  * classic ratio-to-report revenue share, and a Flesch readability
  * profile of the documents corpus. Same contract as Extended5–9:
  * declarative plans, integer/decimal carriers until the final double
  * projections, a scale note per entry. Reference delegates all of this
  * to user code behind its event processor
  * (`/root/reference/README.md:246-293`).
  */
object Extended10 {

  /** Directed co-purchase pair INSTANCES — one (u, v) row per order
    * containing both parts, u != v, both directions — built IN-ROW:
    * one exchange keyed on l_orderkey collapses each order to its
    * distinct part set, then the O(k²) pair fan-out is row-local
    * (baskets are bounded, ~4–7 items at any SF). Replaces the
    * op-self-join edge build the whole graph family shipped with,
    * which exchanged the distinct (order, part) frame on BOTH join
    * sides plus the join key — three corpus-sized exchanges per build
    * — before the pair aggregate. Pair multiset is identical (the
    * self-join of a distinct frame emits exactly one (u, v) row per
    * co-containing order), so every downstream count/distinct matches
    * bit-for-bit. Shared by q105/q107/q125/q130/q197. */
  private[operators] def copurchasePairs(
      s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, x -> transform(filter(ps, y -> y != x), " +
          "y -> struct(x AS u, y AS v))))")).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TRIANGLE COUNT + local clustering coefficient over the part
    // co-purchase graph (the cohesion companion to q105's PageRank:
    // rank says "important", clustering says "embedded in a community").
    // Spark side uses the DEGREE-ORIENTATION trick: orient every
    // undirected edge from its (degree, id)-smaller endpoint to the
    // larger, enumerate wedges only at each vertex's out-neighbours,
    // and close them against the oriented edge set — O(m^1.5) wedge
    // work instead of Σ deg² (the hub vertex never fans out), the
    // standard scale formulation. The oracle uses the simpler
    // id-ordered closure; both enumerate the identical triangle set,
    // and per-vertex counts are orientation-invariant. Scale shape:
    // per-order pairs are basket-local (bounded k² per order), the
    // edge set exchanges on its endpoints for the two joins, and the
    // only wide rows are 3-long triangle triples that explode
    // map-locally into per-vertex counts. Clustering coefficient is a
    // pure function of two exact longs -> bit-identical doubles.
    "q107_triangle_count" -> ((s, d) => {
      // The edge frame feeds degree AND orientation (and, through
      // oriented, both closure branches) — cut it once so the
      // fact-scan + in-row pair fan-out + distinct run a single time
      // (the d21 Materialize lesson; 16 bytes/edge).
      val e = Materialize.LocalCheckpoint(copurchasePairs(s, d)
        .filter(col("u") < col("v"))
        .distinct())
      val deg = e.select(col("u").as("pk"))
        .unionAll(e.select(col("v").as("pk")))
        .groupBy(col("pk")).agg(count(lit(1)).as("degree"))
      // Total order consistent across both joins: ord = degree·1e10 + id
      // (partkeys are far below 1e10 at any TPC-H scale factor).
      val ordOf = (dg: org.apache.spark.sql.Column,
                   id: org.apache.spark.sql.Column) =>
        dg * lit(10000000000L) + id
      val du = deg.select(col("pk").as("u"),
        ordOf(col("degree"), col("pk")).as("ord_u"))
      val dv = deg.select(col("pk").as("v"),
        ordOf(col("degree"), col("pk")).as("ord_v"))
      // deg is one long per part — a dimension-sized frame at any SF,
      // so both orientation lookups broadcast (no fact-sized exchange).
      // oriented is consumed by the adjacency build and the edge scan;
      // the cut keeps it one pass too.
      val oriented = Materialize.LocalCheckpoint(
        e.join(broadcast(du), "u").join(broadcast(dv), "v")
        .select(
          when(col("ord_u") < col("ord_v"), col("u")).otherwise(col("v"))
            .as("src"),
          when(col("ord_u") < col("ord_v"), col("v")).otherwise(col("u"))
            .as("dst"),
          least(col("ord_u"), col("ord_v")).as("ord_src"),
          greatest(col("ord_u"), col("ord_v")).as("ord_dst")))
      // Edge-iterator closure: for each oriented edge (u,v) the
      // triangles through it are N⁺(u) ∩ N⁺(v) — a row-local
      // array_intersect over the two sorted adjacency lists, so the
      // wedge set (Σ outdeg², ~20M rows at sf0.1) never materializes
      // or shuffles; the only exchanges carry the edge list and the
      // ≤O(√m)-bounded adjacency arrays. Each triangle {u,v,w}
      // (u,v = its two order-smaller vertices) is found exactly once,
      // contributing |I| to u and v and 1 to each w.
      val adj = oriented.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      val tri = oriented.select(col("src").as("u"), col("dst").as("v"))
        .join(adj.select(col("src").as("u"), col("nbrs").as("nu")),
          Seq("u"))
        .join(adj.select(col("src").as("v"), col("nbrs").as("nv")),
          Seq("v"))
        .select(col("u"), col("v"),
          array_intersect(col("nu"), col("nv")).as("ws"))
        .filter(size(col("ws")) > 0)
      val tcnt = tri
        .select(explode(concat(
          array(
            struct(col("u").as("pk"), size(col("ws")).cast("long").as("c")),
            struct(col("v").as("pk"), size(col("ws")).cast("long").as("c"))),
          expr("transform(ws, w -> struct(w AS pk, CAST(1 AS BIGINT) AS c)"
            + ")"))).as("e"))
        .select(col("e.pk"), col("e.c"))
        .groupBy(col("pk")).agg(sum(col("c")).as("n_tri"))
      deg.join(tcnt, Seq("pk"), "left")
        .select(col("pk").as("partkey"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
          when(col("degree") > 1,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("clustering"))
        .orderBy(col("partkey"))
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

    // FLESCH READABILITY profile per source: per-doc reading-ease from
    // three regex counts (alphabetic-run words, [.!?]+ sentence ends
    // with a floor of 1, vowel-group syllables — the standard cheap
    // approximation), banded easy/standard/hard, plus a corpus-level
    // score from the SUMMED integer counts (never an average of
    // per-doc doubles — that would be order-dependent). Per-doc flesch
    // is one shared-structure double expression over three exact ints,
    // so both engines band identically. Scale shape: the three counts
    // are codegen'd row-local regex scans (one pass each over the
    // text), partial-agg to |sources| rows; nothing but 6 longs per
    // source crosses the exchange.
    "t34_readability" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("source"),
          regexp_count(col("text"), lit("[A-Za-z]+")).as("w"),
          greatest(lit(1),
            regexp_count(col("text"), lit("[.!?]+"))).as("sen"),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).as("syl"))
      val flesch = lit(206.835) -
        lit(1.015) * (col("w").cast("double") / col("sen").cast("double")) -
        lit(84.6) * (col("syl").cast("double") / col("w").cast("double"))
      docs
        .withColumn("f", when(col("w") > 0, flesch))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("w") === 0, 1L).otherwise(0L)).as("n_empty"),
          sum(when(col("f") >= 60.0, 1L).otherwise(0L)).as("n_easy"),
          sum(when(col("f") >= 30.0 && col("f") < 60.0, 1L).otherwise(0L))
            .as("n_standard"),
          sum(when(col("f") < 30.0, 1L).otherwise(0L)).as("n_hard"),
          sum(col("w").cast("long")).as("words"),
          sum(col("sen").cast("long")).as("sentences"),
          sum(col("syl").cast("long")).as("syllables"))
        .withColumn("corpus_flesch",
          lit(206.835) -
            lit(1.015) * (col("words").cast("double") /
              col("sentences").cast("double")) -
            lit(84.6) * (col("syllables").cast("double") /
              col("words").cast("double")))
        .orderBy(col("source"))
    }),

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

    // CORRELATION screen over order-shape variables: Pearson r between
    // line count, total quantity, and ship-date span per order — the
    // data-profiling pass that finds which dimensions move together
    // (here: baskets with more lines carry more quantity, r ≈ 0.86).
    // All three variables are small exact integers, and r is computed
    // from the six raw moments (n, Σa, Σb, Σab, Σa², Σb²) gathered in
    // ONE aggregation pass — never avg/corr of per-row doubles, which
    // would be merge-order-dependent. Moment products ride
    // DECIMAL(38,0); through sf0.1 every product also stays below 2⁵³,
    // so the oracle's HUGEINT→DOUBLE conversion is exact and the final
    // divisions match bit-for-bit (at warehouse scale the Spark side
    // stays exact decimal; only the DuckDB twin would round). Scale
    // shape: one exchange on l_orderkey (partial-agg first) to build
    // the per-order frame, then a 1-row total aggregate; the stack to
    // pair rows is driver-free and row-local.
    "q111_order_shape_corr" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val per = Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          round(col("l_quantity")).cast("long").as("q"),
          col("l_shipdate").cast("date").as("sd"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("a"), sum(col("q")).as("b"),
          datediff(max(col("sd")), min(col("sd"))).cast("long").as("c"))
      def m2(x: String, y: String) =
        sum((col(x).cast(dec) * col(y)).cast(dec)).as(s"s_$x$y")
      val m = per.agg(
        count(lit(1)).as("n"),
        sum(col("a")).as("s_a"), sum(col("b")).as("s_b"),
        sum(col("c")).as("s_c"),
        m2("a", "a"), m2("b", "b"), m2("c", "c"),
        m2("a", "b"), m2("a", "c"), m2("b", "c"))
      def corr2(sa: String, sb: String, sab: String,
                saa: String, sbb: String) =
        ((col("n").cast(dec) * col(sab) -
            (col(sa).cast(dec) * col(sb)).cast(dec)).cast("double") /
          (sqrt((col("n").cast(dec) * col(saa) -
              (col(sa).cast(dec) * col(sa)).cast(dec)).cast("double")) *
            sqrt((col("n").cast(dec) * col(sbb) -
              (col(sb).cast(dec) * col(sb)).cast(dec)).cast("double"))))
      m.select(col("n"), array(
          struct(lit("lines").as("var_a"), lit("quantity").as("var_b"),
            corr2("s_a", "s_b", "s_ab", "s_aa", "s_bb").as("r")),
          struct(lit("lines").as("var_a"), lit("ship_span").as("var_b"),
            corr2("s_a", "s_c", "s_ac", "s_aa", "s_cc").as("r")),
          struct(lit("quantity").as("var_a"),
            lit("ship_span").as("var_b"),
            corr2("s_b", "s_c", "s_bc", "s_bb", "s_cc").as("r")))
          .as("pairs"))
        .select(col("n"), explode(col("pairs")).as("p"))
        .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
          col("n"), col("p.r").as("r"))
        .orderBy(col("var_a"), col("var_b"))
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
      val bounds = Tables.orders(s, d)
        .agg(min(datediff(col("o_orderdate").cast("date"), epoch))
          .as("lo"),
          max(datediff(col("o_orderdate").cast("date"), epoch)).as("hi"))
        .select(expr("CAST((lo + hi + 1) div 2 AS INT)").as("mid"))
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

    // HYPERLOGLOG registers, fully oracled — the mergeable distinct
    // sketch q29 only rows-checks, rebuilt on the portable 60-bit md5
    // hash so BOTH engines compute the identical register file and the
    // identical estimate (q51/q63 did this for KMV; this is the HLL
    // twin). Per group: 64 registers, bucket = h & 63, rho = leading
    // zeros of the remaining 54 bits + 1 (via length(bin(w)) — exact
    // integer arithmetic, no log2). The indicator sum Σ2^(55−M_j)
    // rides a LONG (≤ 2⁶¹, exact — a double Σ2^(−M) would round and
    // become merge-order-dependent); empty registers contribute 2⁵⁵
    // algebraically. The raw estimate α·m²/Z is one shared-literal
    // double expression; no bias correction (that needs ln, which is
    // not cross-engine bit-stable — the raw estimate is the
    // deterministic sketch surface, and rel_err vs the exact distinct
    // is reported beside it). Scale shape: the register build is a
    // map-side-partial max — the exchange carries ≤ |groups|×64 rows
    // of three integers regardless of input size; merging register
    // files across days/shards is the same max, which is the whole
    // point of HLL.
    "q114_hll_distinct" -> ((s, d) => {
      val h = conv(substring(
        md5(encode(col("o_custkey").cast("string"), "UTF-8")), 1, 15),
        16, 10).cast("long")
      val regs = Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"), col("o_custkey"),
          h.as("h"))
        .withColumn("bucket", col("h").bitwiseAND(lit(63L)))
        .withColumn("w", shiftright(col("h"), 6))
        .withColumn("rho", when(col("w") === 0L, lit(55))
          .otherwise(lit(55) - length(bin(col("w")))))
        .groupBy(col("priority"), col("bucket"))
        .agg(max(col("rho")).as("m"))
      val sketch = regs.groupBy(col("priority"))
        .agg(count(lit(1)).as("n_buckets_hit"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m AS INT))"))
            .as("z_hit"))
        .withColumn("z", col("z_hit") +
          (lit(64L) - col("n_buckets_hit")) * lit(1L << 55))
      val exact = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      sketch.join(exact, Seq("priority"))
        .withColumn("hll_estimate",
          lit(0.709365049) * lit(4096.0) * lit(36028797018963968.0) /
            col("z").cast("double"))
        .withColumn("rel_err",
          abs(col("hll_estimate") - col("exact_distinct").cast("double"))
            / col("exact_distinct").cast("double"))
        .select(col("priority"), col("n_buckets_hit"),
          col("exact_distinct"), col("hll_estimate"), col("rel_err"))
        .orderBy(col("priority"))
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

    // RETURN-RATE outlier screen — the per-entity proportion test
    // (q103 tests a whole contingency table; this scores each
    // supplier against the corpus): one-sample two-sided z on each
    // supplier's return share vs the global share,
    // z = (k·N − K·n)/√(n·K·(N−K)), which is the textbook
    // (p̂−p₀)/√(p₀(1−p₀)/n) cleared of divisions — four exact
    // integers under one √. The |z| > 2 flag is decided in EXACT
    // decimal arithmetic ((kN−Kn)² > 4·n·K·(N−K), the q108 rule), so
    // no float boundary picks outliers; the reported z is the
    // shared-structure double. Scale shape: one partial-agg keyed on
    // l_suppkey (map-side combine collapses the fact table); the
    // global (N, K) ride a window over the supplier dimension frame.
    "q118_return_rate_outliers" -> ((s, d) => {
      val dec = DecimalType(38, 0)
      val per = Tables.lineitem(s, d)
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("k"))
      // corpus totals as a 1-row broadcast (q76 pattern) — an empty-
      // partition window here would serialize the |suppliers| frame
      // through one task
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("k")).as("kk"))
      per
        .join(broadcast(tot), lit(true))
        .withColumn("num",
          col("k").cast(dec) * col("nn") - col("kk").cast(dec) * col("n"))
        .withColumn("den2",
          (col("n").cast(dec) * col("kk")).cast(dec)
            * (col("nn") - col("kk")))
        .select(col("suppkey"), col("n"), col("k"),
          (col("kk").cast("double") / col("nn").cast("double"))
            .as("global_rate"),
          (col("k").cast("double") / col("n").cast("double"))
            .as("rate"),
          (col("num").cast("double") / sqrt(col("den2").cast("double")))
            .as("z"),
          ((col("num").cast(dec) * col("num")).cast(dec) >
            col("den2") * 4).as("is_outlier"))
        .orderBy(col("suppkey"))
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

    // DEDUP MIXTURE SHIFT — how exact dedup changes the TRAINING
    // MIXTURE: per source, doc/token mass before vs after d01's
    // keep-min-id exact dedup, each source's token share of the
    // corpus on both sides, and the shift. d26 prices what dedup
    // deletes; t14 weights the mixture — this is the bridge between
    // them: a source that loses share here was inflating its presence
    // with duplicates, and the post-dedup shares are what t14's
    // target weights should be compared against. Integer carriers
    // (doc/token counts) to the final share divisions; the totals
    // ride a window over the |sources| frame. Scale shape: one
    // fingerprint groupBy (16-byte keys — the d01 shape), one
    // source-keyed rollup each side; text never shuffles.
    "t35_dedup_mixture_shift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), " ")).cast("long").as("toks"),
          md5(encode(col("text"), "UTF-8")).as("fp"))
      val keep = docs.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"))
      val raw = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"), sum(col("toks")).as("tok_raw"))
      val kept = docs.join(keep,
          docs("fp") === keep("fp") && docs("doc_id") === keep("keep_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tok_kept"))
      val w = Window.partitionBy()
      raw.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_raw"), col("tok_raw"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("tok_kept"), lit(0L)).as("tok_kept"))
        .withColumn("trw", sum(col("tok_raw")).over(w))
        .withColumn("tkp", sum(col("tok_kept")).over(w))
        .select(col("source"), col("n_raw"), col("n_kept"),
          col("tok_raw"), col("tok_kept"),
          (col("tok_raw").cast("double") / col("trw").cast("double"))
            .as("share_raw"),
          (col("tok_kept").cast("double") / col("tkp").cast("double"))
            .as("share_kept"),
          (col("tok_kept").cast("double") / col("tkp").cast("double") -
            col("tok_raw").cast("double") / col("trw").cast("double"))
            .as("share_shift"))
        .orderBy(col("source"))
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
      val bounds = Tables.orders(s, d)
        .agg(min(datediff(col("o_orderdate").cast("date"), epoch))
          .as("lo"),
          max(datediff(col("o_orderdate").cast("date"), epoch)).as("hi"))
        .select(expr("CAST((lo + hi + 1) div 2 AS INT)").as("mid"))
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
      val lookbackUs = 7L * 24 * 3600 * 1000000
      val dayUs = 24L * 3600 * 1000000
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
      val organic = purchases.join(
          touched.filter(col("w64") > 0L).select(col("pid")).distinct(),
          Seq("pid"), "left_anti")
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
    }),

    // K-HOP BFS REACHABILITY over the part co-purchase graph — the
    // traversal primitive q105 (fixed-iteration PageRank) and q107
    // (closed triangles) bracket but neither exposes: from a seed set
    // (graph nodes with partkey % 200 = 0), the count of nodes whose
    // SHORTEST-PATH distance is exactly h for h in 0..3. The Spark
    // side is the Pregel/GraphX frontier loop expressed in DataFrames:
    // per round, frontier ⋈ edges → candidate set, anti-join the
    // visited set, LOCAL-CHECKPOINT the new frontier (iterative
    // lineage MUST be truncated — without the cut round k replays all
    // k−1 predecessor joins and the plan grows superlinearly; this is
    // the same Materialize discipline q105's rank iterations pin —
    // and only the frontier is cut: visited is the lazy union of the
    // disjoint checkpointed frontiers, so no row materializes twice).
    // The oracle is DuckDB's WITH RECURSIVE with the same hop bound —
    // two independent formulations (frontier loop vs fixpoint CTE),
    // one truth. Scale shape: each round exchanges only the frontier
    // (keyed on partkey) against the edge list; the visited set stays
    // (pk, hop) longs; 3 rounds = 3 bounded joins, the standard
    // multi-hop shape at any corpus size.
    "q125_khop_reachability" -> ((s, d) => {
      val edges = Materialize.LocalCheckpoint(
        copurchasePairs(s, d).distinct())
      // checkpoint each FRONTIER, not the growing visited union: the
      // frontiers are disjoint by construction, so `visited` is their
      // lazy union and round k never re-materializes rounds 0..k−1's
      // rows (the cut cost per round stays proportional to the NEW
      // nodes — the Pregel superstep contract)
      var frontiers = Vector(Materialize.LocalCheckpoint(
        edges.select(col("u").as("pk")).distinct()
          .filter(col("pk") % 200 === 0)
          .withColumn("hop", lit(0))))
      for (h <- 1 to 3) {
        val visited = frontiers.map(_.select(col("pk")))
          .reduce(_.unionAll(_))
        // frontier and visited are ≤|V| single-long frames (dimension-
        // sized at any SF — the q107 deg-broadcast precedent), but the
        // LocalCheckpoint cuts erase their stats and the planner sort-
        // merge-joined them against the edge list — re-exchanging the
        // whole edge frame every round. Broadcasting them streams the
        // edges map-side; the only per-round exchange is the distinct.
        val next = Materialize.LocalCheckpoint(
          edges.join(broadcast(frontiers.last.select(col("pk"))),
              col("u") === col("pk"))
            .select(col("v").as("pk")).distinct()
            .join(broadcast(visited), Seq("pk"), "left_anti")
            .withColumn("hop", lit(h)))
        frontiers = frontiers :+ next
      }
      frontiers.reduce(_.unionAll(_))
        .groupBy(col("hop"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("hop"))
    }),

    // HLL AS AN ENGINE SURFACE — q114 builds the register file
    // declaratively (explode rho, group-by-bucket max); this is the
    // same sketch as ONE SQL-registered aggregate
    // ([[graft.functions.HllRegisterAggregate]], the sketch-aggregate
    // family's fourth member beside graft_topk / quantile_sketch /
    // simhash_agg): `hll_register_agg(h)` per group, then the
    // indicator sum and α·m²/Z estimate projected from the 64-int
    // register array with row-local HOFs. Register semantics are
    // bit-identical to q114 (spec-pinned, including under forced
    // repartitioning — merge is element-wise max, so the file is
    // partitioning-independent), and the oracle is q114's SQL minus
    // the exact-distinct join. Scale shape: the aggregate's partial
    // state is 64 BYTES per group map-side — the exchange carries
    // |groups| register files instead of |groups|×64 bucket rows,
    // the tightest possible distinct-sketch shuffle.
    "q126_hll_agg" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val h = conv(substring(
        md5(encode(col("o_custkey").cast("string"), "UTF-8")), 1, 15),
        16, 10).cast("long")
      Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"), h.as("h"))
        .groupBy(col("priority"))
        .agg(graft.functions.HllFunctions.hllRegisters(col("h"))
          .as("regs"))
        .select(col("priority"),
          expr("CAST(size(filter(regs, m -> m > 0)) AS BIGINT)")
            .as("n_buckets_hit"),
          expr("aggregate(regs, CAST(0 AS BIGINT), " +
            "(z, m) -> z + shiftleft(CAST(1 AS BIGINT), 55 - m))")
            .as("z"))
        .withColumn("hll_estimate",
          lit(0.709365049) * lit(4096.0) * lit(36028797018963968.0) /
            col("z").cast("double"))
        .select(col("priority"), col("n_buckets_hit"),
          col("hll_estimate"))
        .orderBy(col("priority"))
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
      val daily = Tables.orders(s, d)
        .select(datediff(col("o_orderdate").cast("date"),
          to_date(lit("1970-01-01"))).as("day"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("day")).agg(sum(col("cents")).as("x"))
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
    }),

    // HLL REGISTER UNION — the mergeability q114's scaladoc claims,
    // demonstrated as a query (q63 did this for KMV): registers built
    // independently per (priority, WEEK) — the daily/weekly sketch
    // files a warehouse actually stores — then merged across weeks by
    // plain MAX per bucket, with the estimate computed from the merged
    // file. `matches_direct` pins algebraically that the two-level
    // max equals the direct single-pass registers (max is associative
    // and commutative — the whole point of HLL), so sketch files can
    // roll up across any partitioning of history without revisiting
    // rows. Scale shape: the weekly build partial-aggregates map-side
    // to |priorities|×|weeks|×64 register rows; the merge exchanges
    // only those.
    "q124_hll_weekly_union" -> ((s, d) => {
      val h = conv(substring(
        md5(encode(col("o_custkey").cast("string"), "UTF-8")), 1, 15),
        16, 10).cast("long")
      val base = Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), " +
            "DATE '1970-01-01') div 7 AS BIGINT)").as("wk"),
          h.as("h"))
        .withColumn("bucket", col("h").bitwiseAND(lit(63L)))
        .withColumn("w", shiftright(col("h"), 6))
        .withColumn("rho", when(col("w") === 0L, lit(55))
          .otherwise(lit(55) - length(bin(col("w")))))
      val weekly = base.groupBy(col("priority"), col("wk"), col("bucket"))
        .agg(max(col("rho")).as("m"))
      val merged = weekly.groupBy(col("priority"), col("bucket"))
        .agg(max(col("m")).as("m"), countDistinct(col("wk")).as("wks"))
      val direct = base.groupBy(col("priority"), col("bucket"))
        .agg(max(col("rho")).as("m_direct"))
      merged.join(direct, Seq("priority", "bucket"))
        .groupBy(col("priority"))
        .agg(max(col("wks")).as("n_weeks"),
          count(lit(1)).as("n_buckets_hit"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - m AS INT))"))
            .as("z_hit"),
          min((col("m") === col("m_direct")).cast("int")).as("eq"))
        .select(col("priority"), col("n_weeks"), col("n_buckets_hit"),
          (lit(0.709365049) * lit(4096.0) * lit(36028797018963968.0) /
            (col("z_hit") + (lit(64L) - col("n_buckets_hit")) *
              lit(1L << 55)).cast("double")).as("hll_estimate"),
          (col("eq") === 1).as("matches_direct"))
        .orderBy(col("priority"))
    })
  )

  /** Oracle CTEs `rho`, `regs`, `sk` (priority, n_buckets_hit, z_hit)
    * of q114/q126: the 64-register HLL sketch over CTE
    * `hashed(priority, h)`. */
  private val hllRegistersSql =
    """rho AS (SELECT priority, h & 63 AS bucket,
             CASE WHEN (h >> 6) = 0 THEN 55
               ELSE 55 - length(bin(h >> 6)) END AS rho
           FROM hashed),
         regs AS (SELECT priority, bucket, MAX(rho) AS m
           FROM rho GROUP BY 1, 2),
         sk AS (SELECT priority, COUNT(1) AS n_buckets_hit,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - m AS INT))
               AS BIGINT) AS z_hit
           FROM regs GROUP BY 1)"""

  def oracleSql: Map[String, String] = Map(

    "q107_triangle_count" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
               FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey),
         deg AS (SELECT pk, COUNT(1) AS degree FROM
                  (SELECT u AS pk FROM e UNION ALL SELECT v FROM e)
                 GROUP BY 1),
         tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
                 FROM e e1
                 JOIN e e2 ON e1.v = e2.u
                 JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         tc AS (SELECT pk, COUNT(1) AS n_tri FROM
                 (SELECT x AS pk FROM tri UNION ALL
                  SELECT y FROM tri UNION ALL
                  SELECT z FROM tri) GROUP BY 1)
         SELECT deg.pk AS partkey, degree,
           CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_triangles,
           CASE WHEN degree > 1
             THEN CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE)
               / CAST(degree * (degree - 1) AS DOUBLE)
             ELSE 0.0 END AS clustering
         FROM deg LEFT JOIN tc ON deg.pk = tc.pk
         ORDER BY partkey""",

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

    "t34_readability" ->
      """WITH docs AS (SELECT source,
             len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))
               AS sen,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
           FROM documents),
         scored AS (SELECT source, w, sen, syl,
             CASE WHEN w > 0 THEN 206.835
               - 1.015 * (CAST(w AS DOUBLE) / CAST(sen AS DOUBLE))
               - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
             END AS f
           FROM docs)
         SELECT source, COUNT(1) AS n_docs,
           CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty,
           CAST(SUM(CASE WHEN f >= 60.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy,
           CAST(SUM(CASE WHEN f >= 30.0 AND f < 60.0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_standard,
           CAST(SUM(CASE WHEN f < 30.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hard,
           CAST(SUM(w) AS BIGINT) AS words,
           CAST(SUM(sen) AS BIGINT) AS sentences,
           CAST(SUM(syl) AS BIGINT) AS syllables,
           206.835
             - 1.015 * (CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(sen) AS BIGINT) AS DOUBLE))
             - 84.6 * (CAST(CAST(SUM(syl) AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE))
             AS corpus_flesch
         FROM scored GROUP BY source ORDER BY source""",

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

    "q111_order_shape_corr" -> {
      def corr2(sa: String, sb: String, sab: String,
                saa: String, sbb: String) =
        s"""CAST(n * $sab - $sa * $sb AS DOUBLE)
            / (sqrt(CAST(n * $saa - $sa * $sa AS DOUBLE))
               * sqrt(CAST(n * $sbb - $sb * $sb AS DOUBLE)))"""
      s"""WITH per AS (SELECT l_orderkey, COUNT(1) AS a,
             CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
               AS b,
             CAST(datediff('day', MIN(CAST(l_shipdate AS DATE)),
               MAX(CAST(l_shipdate AS DATE))) AS BIGINT) AS c
           FROM lineitem GROUP BY 1),
         m AS (SELECT CAST(COUNT(1) AS HUGEINT) AS n,
             CAST(SUM(a) AS HUGEINT) AS s_a,
             CAST(SUM(b) AS HUGEINT) AS s_b,
             CAST(SUM(c) AS HUGEINT) AS s_c,
             CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) AS s_aa,
             CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS s_bb,
             CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s_cc,
             CAST(SUM(CAST(a AS HUGEINT) * b) AS HUGEINT) AS s_ab,
             CAST(SUM(CAST(a AS HUGEINT) * c) AS HUGEINT) AS s_ac,
             CAST(SUM(CAST(b AS HUGEINT) * c) AS HUGEINT) AS s_bc
           FROM per)
         SELECT var_a, var_b, CAST(n AS BIGINT) AS n, r FROM (
           SELECT 'lines' AS var_a, 'quantity' AS var_b, n,
             ${corr2("s_a", "s_b", "s_ab", "s_aa", "s_bb")} AS r FROM m
           UNION ALL
           SELECT 'lines', 'ship_span', n,
             ${corr2("s_a", "s_c", "s_ac", "s_aa", "s_cc")} FROM m
           UNION ALL
           SELECT 'quantity', 'ship_span', n,
             ${corr2("s_b", "s_c", "s_bc", "s_bb", "s_cc")} FROM m) t
         ORDER BY var_a, var_b"""
    },

    "q112_price_volume_mix" ->
      """WITH bounds AS (SELECT CAST((MIN(datediff('day',
               DATE '1970-01-01', CAST(o_orderdate AS DATE)))
             + MAX(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE))) + 1) // 2 AS INT) AS mid
           FROM orders),
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

    "q114_hll_distinct" ->
      s"""WITH hashed AS (SELECT o_orderpriority AS priority, o_custkey,
             ${md5Hash60Sql("CAST(o_custkey AS VARCHAR)")} AS h
           FROM orders),
         $hllRegistersSql,
         zz AS (SELECT priority, n_buckets_hit,
             z_hit + (64 - n_buckets_hit) * (CAST(1 AS BIGINT) << 55)
               AS z
           FROM sk),
         exact AS (SELECT o_orderpriority AS priority,
             COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders
           GROUP BY 1)
         SELECT zz.priority, n_buckets_hit, exact_distinct,
           CAST(0.709365049 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
             * CAST(36028797018963968.0 AS DOUBLE)
             / CAST(z AS DOUBLE) AS hll_estimate,
           abs(CAST(0.709365049 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
                 * CAST(36028797018963968.0 AS DOUBLE)
                 / CAST(z AS DOUBLE)
               - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE) AS rel_err
         FROM zz JOIN exact ON zz.priority = exact.priority
         ORDER BY zz.priority""",

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

    "q116_linear_attribution" ->
      s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             event_type, value, props FROM events),
         purchases AS (SELECT user_id, event_id AS pid, us AS pus,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM ev WHERE event_type = 'purchase'),
         clicks AS (SELECT user_id, us AS cus,
             'ch_' || CAST(CAST(json_extract_string(props, '$$.k')
               AS BIGINT) % 5 AS VARCHAR) AS channel
           FROM ev WHERE event_type = 'click'),
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
         organic AS (SELECT pid, 'organic' AS channel,
             CAST(1 AS BIGINT) AS k,
             cents * CAST(1000000 AS BIGINT) AS micro
           FROM purchases
           WHERE pid NOT IN (SELECT pid FROM touched)),
         allc AS (SELECT * FROM credits UNION ALL SELECT * FROM organic)
         SELECT channel, COUNT(DISTINCT pid) AS n_purchases,
           CAST(SUM(k) AS BIGINT) AS n_touches,
           CAST(CAST(SUM(micro) AS BIGINT) AS DOUBLE) / 1e8
             AS revenue_credited
         FROM allc GROUP BY channel ORDER BY channel""",

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

    "q118_return_rate_outliers" ->
      """WITH per AS (SELECT l_suppkey AS suppkey, COUNT(1) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS k
           FROM lineitem GROUP BY 1),
         tot AS (SELECT suppkey, n, k,
             CAST(SUM(n) OVER () AS BIGINT) AS nn,
             CAST(SUM(k) OVER () AS BIGINT) AS kk
           FROM per),
         sc AS (SELECT suppkey, n, k, nn, kk,
             CAST(k AS HUGEINT) * nn - CAST(kk AS HUGEINT) * n AS num,
             CAST(n AS HUGEINT) * kk * (nn - kk) AS den2
           FROM tot)
         SELECT suppkey, n, k,
           CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE) AS global_rate,
           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
           CAST(num AS DOUBLE) / sqrt(CAST(den2 AS DOUBLE)) AS z,
           num * num > den2 * 4 AS is_outlier
         FROM sc ORDER BY suppkey""",

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

    "t35_dedup_mixture_shift" ->
      """WITH docs AS (SELECT doc_id, source,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks,
             MD5(text) AS fp
           FROM documents),
         keep AS (SELECT fp, MIN(doc_id) AS keep_id FROM docs
           GROUP BY 1),
         raw AS (SELECT source, COUNT(1) AS n_raw,
             CAST(SUM(toks) AS BIGINT) AS tok_raw
           FROM docs GROUP BY 1),
         kept AS (SELECT source, COUNT(1) AS n_kept,
             CAST(SUM(toks) AS BIGINT) AS tok_kept
           FROM docs JOIN keep
             ON docs.fp = keep.fp AND docs.doc_id = keep.keep_id
           GROUP BY 1),
         j AS (SELECT raw.source, n_raw, tok_raw,
             CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept,
             CAST(COALESCE(tok_kept, 0) AS BIGINT) AS tok_kept
           FROM raw LEFT JOIN kept ON raw.source = kept.source),
         t AS (SELECT *, CAST(SUM(tok_raw) OVER () AS BIGINT) AS trw,
             CAST(SUM(tok_kept) OVER () AS BIGINT) AS tkp
           FROM j)
         SELECT source, n_raw, n_kept, tok_raw, tok_kept,
           CAST(tok_raw AS DOUBLE) / CAST(trw AS DOUBLE) AS share_raw,
           CAST(tok_kept AS DOUBLE) / CAST(tkp AS DOUBLE)
             AS share_kept,
           CAST(tok_kept AS DOUBLE) / CAST(tkp AS DOUBLE)
             - CAST(tok_raw AS DOUBLE) / CAST(trw AS DOUBLE)
             AS share_shift
         FROM t ORDER BY source""",

    "q121_abc_migration" ->
      """WITH bounds AS (SELECT CAST((MIN(datediff('day',
               DATE '1970-01-01', CAST(o_orderdate AS DATE)))
             + MAX(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE))) + 1) // 2 AS INT) AS mid
           FROM orders),
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

    // stepwise-halving weights: 64 >> age_days is exact integer
    // arithmetic in both engines; micro-cent floor allocation keeps the
    // books in BIGINT until one final division
    "q122_time_decay_attribution" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS us,
             event_type, value, props FROM events),
         purchases AS (SELECT user_id, event_id AS pid, us AS pus,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM ev WHERE event_type = 'purchase'),
         clicks AS (SELECT user_id, us AS cus,
             'ch_' || CAST(CAST(json_extract_string(props, '$.k')
               AS BIGINT) % 5 AS VARCHAR) AS channel
           FROM ev WHERE event_type = 'click'),
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
         organic AS (SELECT pid, 'organic' AS channel,
             CAST(1 AS BIGINT) AS k,
             cents * CAST(1000000 AS BIGINT) AS micro
           FROM purchases
           WHERE pid NOT IN (SELECT pid FROM touched WHERE w64 > 0)),
         allc AS (SELECT * FROM credits UNION ALL SELECT * FROM organic)
         SELECT channel, COUNT(DISTINCT pid) AS n_purchases,
           CAST(SUM(k) AS BIGINT) AS n_touches,
           CAST(CAST(SUM(micro) AS BIGINT) AS DOUBLE) / 1e8
             AS revenue_credited
         FROM allc GROUP BY channel ORDER BY channel""",

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
         SELECT pattern, n_users, n_matches FROM u ORDER BY pattern""",

    // q114's register oracle minus the exact-distinct join — the
    // aggregate must reproduce the declarative build's sketch exactly
    "q126_hll_agg" ->
      s"""WITH hashed AS (SELECT o_orderpriority AS priority,
             ${md5Hash60Sql("CAST(o_custkey AS VARCHAR)")} AS h
           FROM orders),
         $hllRegistersSql
         SELECT priority, n_buckets_hit,
           CAST(0.709365049 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
             * CAST(36028797018963968.0 AS DOUBLE)
             / CAST(z_hit + (64 - n_buckets_hit)
                 * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS hll_estimate
         FROM sk ORDER BY priority""",

    // the same prefix-sum-minus-running-min identity, exact BIGINT
    // arithmetic scaled by 10n so the mean's division never happens
    "q127_cusum_drift" ->
      """WITH daily AS (SELECT datediff('day', DATE '1970-01-01',
             CAST(o_orderdate AS DATE)) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS x
           FROM orders GROUP BY 1),
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

    // fixpoint recursive CTE vs the Spark frontier loop — two
    // independent formulations of min-hop, one truth
    "q125_khop_reachability" ->
      """WITH RECURSIVE
         op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         edges AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey),
         seeds AS (SELECT DISTINCT u AS pk FROM edges WHERE u % 200 = 0),
         reach(pk, hop) AS (
           SELECT pk, 0 FROM seeds
           UNION
           SELECT e.v, r.hop + 1 FROM reach r
           JOIN edges e ON e.u = r.pk WHERE r.hop < 3),
         minhop AS (SELECT pk, MIN(hop) AS hop FROM reach GROUP BY pk)
         SELECT CAST(hop AS INT) AS hop, COUNT(1) AS n_nodes
         FROM minhop GROUP BY hop ORDER BY hop""",

    // identical truth to q26's oracle — the native exec and the
    // union+window plan must both reproduce it
    "q123_native_asof" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
           (SELECT s.event_id FROM events s
            WHERE s.event_type = 'signup' AND s.user_id = p.user_id
              AND s.ts <= p.ts
            ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS signup_id
         FROM events p WHERE p.event_type = 'purchase'
         ORDER BY purchase_id""",

    "q124_hll_weekly_union" ->
      s"""WITH hashed AS (SELECT o_orderpriority AS priority,
             CAST(datediff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS wk,
             ${md5Hash60Sql("CAST(o_custkey AS VARCHAR)")} AS h
           FROM orders),
         rho AS (SELECT priority, wk, h & 63 AS bucket,
             CASE WHEN (h >> 6) = 0 THEN 55
               ELSE 55 - length(bin(h >> 6)) END AS rho
           FROM hashed),
         weekly AS (SELECT priority, wk, bucket, MAX(rho) AS m
           FROM rho GROUP BY 1, 2, 3),
         merged AS (SELECT priority, bucket, MAX(m) AS m,
             COUNT(DISTINCT wk) AS wks
           FROM weekly GROUP BY 1, 2),
         direct AS (SELECT priority, bucket, MAX(rho) AS m_direct
           FROM rho GROUP BY 1, 2),
         agg AS (SELECT mg.priority,
             CAST(MAX(wks) AS BIGINT) AS n_weeks,
             COUNT(1) AS n_buckets_hit,
             CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - mg.m AS INT))
               AS BIGINT) AS z_hit,
             MIN(CASE WHEN mg.m = dr.m_direct THEN 1 ELSE 0 END) AS eq
           FROM merged mg JOIN direct dr
             ON mg.priority = dr.priority AND mg.bucket = dr.bucket
           GROUP BY 1)
         SELECT priority, n_weeks, n_buckets_hit,
           CAST(0.709365049 AS DOUBLE) * CAST(4096.0 AS DOUBLE)
             * CAST(36028797018963968.0 AS DOUBLE)
             / CAST(z_hit + (64 - n_buckets_hit)
                 * (CAST(1 AS BIGINT) << 55) AS DOUBLE) AS hll_estimate,
           eq = 1 AS matches_direct
         FROM agg ORDER BY priority"""
  )
}
