package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Parity, Tables}
import graft.functions.HashFunctions.md5Hash60Sql

/** Sixth analytics batch: ABC/Pareto inventory classification, open-order
  * backlog aging, inter-purchase interval statistics, deterministic
  * corpus sharding, and lexical-diversity scoring.
  *
  * Downstream-of-ingest analytics in the same contract as Extended5:
  * declarative plans, integer/decimal carriers wherever a double could
  * diverge between engines, and a scale note per entry saying why the
  * shape survives a 1000-executor, 100 TB corpus.
  */
object Extended6 {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

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

    // INTER-PURCHASE interval distribution: day gaps between each
    // user's consecutive purchases, summarized as exact interpolated
    // quartiles + decimal mean — the repeat-behavior cadence number
    // that prices retention campaigns. Scale: one user-keyed window
    // (user_id is high-cardinality, no hot partition), gaps are small
    // integer days so the q50 exactness argument applies (quartile
    // interpolation at binary fractions {.25,.5,.75} is bit-exact in
    // both engines); the final aggregate is a single row.
    "q91_interpurchase" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
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
      import org.apache.spark.sql.expressions.Window
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

    // Corpus LENGTH-profile histogram: per (source, token-length
    // bucket) doc and token counts plus each bucket's share of its
    // source's token mass — the corpus-composition table read before
    // setting t10's quality thresholds or t12's chunk width (a source
    // whose mass sits in the shortest bucket needs different handling
    // than one dominated by long docs). Scale: token counts are in-row
    // map work; the aggregate is |sources| × 4 rows and the share
    // window runs over that tiny frame, never the corpus.
    "t26_length_histogram" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("source"),
          size(split(trim(col("text")), " ")).cast("long").as("toks"))
        .withColumn("len_bucket",
          when(col("toks") <= 25, "b1_le25")
            .when(col("toks") <= 50, "b2_le50")
            .when(col("toks") <= 75, "b3_le75")
            .otherwise("b4_gt75"))
      val agg = t.groupBy(col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
      agg.withColumn("token_share",
          col("n_tokens").cast("double")
            / sum(col("n_tokens")).over(Window.partitionBy(col("source")))
              .cast("double"))
        .orderBy(col("source"), col("len_bucket"))
    }),

    // Weekday × hour activity HEATMAP: event and distinct-user counts
    // per (dow, hour) cell plus each cell's share of total traffic —
    // the load-shape table behind capacity planning and anomaly
    // baselines (q85's fences are per-series; this is where the
    // series' weekly pulse lives). Scale: the cell key is derived
    // in-row, one grouped aggregate collapses events map-side to
    // ≤ 168 cells, and the share window runs over that tiny frame.
    "q95_activity_heatmap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
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

    // Deterministic corpus SHARDING: every document assigned to one of
    // 16 training shards by portable 60-bit md5 bucket (t08's hash
    // idiom) — the "global shuffle" that precedes shard writing in a
    // training-data pipeline, done as a hash assignment so it is
    // stable across runs/partitionings/engines AND embarrassingly
    // parallel (no global sort; a sort-by-random-key reaches the same
    // unbiasedness only through a full-corpus range exchange). The
    // report is the per-shard balance audit a pipeline reads before
    // writing: doc count, token count, byte count per shard. Scale:
    // hash + token count are in-row map work; the aggregate is
    // 16 rows; writing the shards themselves is then
    // `.write.partitionBy(shard)` with no further exchange.
    "t24_corpus_shards" -> ((s, d) => {
      val h = conv(substring(
        md5(encode(concat(lit("shard|"), col("doc_id").cast("string")),
          "UTF-8")), 1, 15), 16, 10).cast("long")
      Tables.documents(s, d)
        .withColumn("shard", pmod(h, lit(16L)).cast("int"))
        .withColumn("toks",
          size(split(trim(col("text")), " ")).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy(col("shard"))
    }),

    // LEXICAL DIVERSITY per document: type-token ratio, hapax ratio
    // (share of within-doc vocabulary used exactly once), and mean
    // token length — the vocabulary-richness screen next to t23's
    // entropy (TTR catches low-diversity docs linearly; hapax ratio
    // separates natural prose, rich in one-off words, from template
    // text that reuses a fixed vocabulary). Scale: entirely doc-local —
    // the (doc, term) aggregate's exchange is doc_id-prefixed, the
    // per-doc rollup groups on doc_id, all counters are exact integers
    // until the three final divisions.
    "t25_lexical_diversity" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(trim(col("text")), " ")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("freq"))
        .withColumn("tlen", length(col("term")))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("freq")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("freq") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(col("tlen") * col("freq")).as("char_sum"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("ttr"),
          (col("n_hapax").cast("double") / col("n_types").cast("double"))
            .as("hapax_ratio"),
          (col("char_sum").cast("double") / col("n_tokens").cast("double"))
            .as("mean_token_len"))
        .orderBy(col("doc_id"))
    })
  )

  private val bucketHashSql =
    s"""${md5Hash60Sql("'shard|' || CAST(doc_id AS VARCHAR)")} % 16"""

  def oracleSql: Map[String, String] = Map(

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

    "t26_length_histogram" ->
      """WITH t AS (SELECT source,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks
           FROM documents),
         b AS (SELECT source,
                 CASE WHEN toks <= 25 THEN 'b1_le25'
                      WHEN toks <= 50 THEN 'b2_le50'
                      WHEN toks <= 75 THEN 'b3_le75'
                      ELSE 'b4_gt75' END AS len_bucket, toks
               FROM t),
         agg AS (SELECT source, len_bucket, COUNT(*) AS n_docs,
                   CAST(SUM(toks) AS BIGINT) AS n_tokens
                 FROM b GROUP BY 1, 2)
         SELECT source, len_bucket, n_docs, n_tokens,
                CAST(n_tokens AS DOUBLE)
                  / CAST(CAST(SUM(n_tokens) OVER (PARTITION BY source)
                    AS BIGINT) AS DOUBLE) AS token_share
         FROM agg ORDER BY source, len_bucket""",

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

    "t24_corpus_shards" ->
      s"""WITH sh AS (SELECT doc_id, n_chars,
             CAST($bucketHashSql AS INT) AS shard,
             CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT) AS toks
           FROM documents)
         SELECT shard, COUNT(*) AS n_docs,
                CAST(SUM(toks) AS BIGINT) AS n_tokens,
                CAST(SUM(n_chars) AS BIGINT) AS n_chars
         FROM sh GROUP BY 1 ORDER BY 1""",

    "t25_lexical_diversity" ->
      """WITH terms AS (SELECT doc_id, UNNEST(string_split(TRIM(text), ' '))
                          AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS freq,
                       LEN(term) AS tlen
                FROM terms GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                   CAST(SUM(freq) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_types,
                   CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hapax,
                   CAST(SUM(tlen * freq) AS BIGINT) AS char_sum
                 FROM tf GROUP BY 1)
         SELECT doc_id, n_tokens, n_types,
                CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
                CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE)
                  AS hapax_ratio,
                CAST(char_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                  AS mean_token_len
         FROM agg ORDER BY doc_id"""
  )
}
