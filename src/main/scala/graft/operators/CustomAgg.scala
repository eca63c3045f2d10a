package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions.md5Hash60Sql

/** Custom aggregation / UDF / typed-decode surface (SURVEY.md §2.2 "custom
  * aggregates" and "UDF surface"). Native `functions._` stay the default;
  * these demonstrate the extension points with deterministic semantics so
  * the DuckDB oracle still applies.
  */
object CustomAgg {

  case class EvRow(user_id: Long, ts_us: Long, event_id: Long, value: Double)

  /** Typed Aggregator: arg-max with a total (ts, event_id) order — the
    * event id carrying each user's latest event. Merge is associative and
    * commutative (lexicographic max), so partial aggregation is safe at
    * any parallelism.
    */
  object LatestEvent extends Aggregator[EvRow, (Long, Long), Long] {
    override def zero: (Long, Long) = (Long.MinValue, Long.MinValue)
    override def reduce(b: (Long, Long), e: EvRow): (Long, Long) =
      merge(b, (e.ts_us, e.event_id))
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      if (b._1 > a._1 || (b._1 == a._1 && b._2 > a._2)) b else a
    override def finish(r: (Long, Long)): Long = r._2
    override def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong)
    override def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Custom typed Aggregator through the untyped agg surface.
    "q30_custom_aggregator" -> ((s, d) => {
      import s.implicits._
      val evs = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
          col("event_id"), col("value"))
        .as[EvRow]
      evs.groupByKey(_.user_id)
        .agg(LatestEvent.toColumn.name("latest_event_id"))
        .toDF("user_id", "latest_event_id")
        .orderBy(col("user_id"))
    }),

    // Scalar Scala UDF (the escape hatch; everything else here is native
    // expressions — this pins the registration/usage surface).
    "q31_udf_surface" -> ((s, d) => {
      val tag = udf((name: String) => s"${name.reverse}:${name.length}")
      Tables.part(s, d)
        .select(col("p_partkey"), tag(col("p_name")).as("name_tag"))
        .orderBy(col("p_partkey"))
    }),

    // TypedImperativeAggregate sketch: bounded top-k buffer, mergeable
    // map-side — the shuffle carries at most k pairs per group whatever
    // the input size (the sketch extension point for HLL/quantiles).
    "q34_topk_sketch_aggregate" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(graft.functions.TopKFunctions
          .topK(col("value"), col("event_id"), 5).as("topk"))
        .select(col("event_type"), posexplode(col("topk")))
        .select(col("event_type"), (col("pos") + 1).as("rank"),
          col("col.id").as("event_id"), col("col.value").as("value"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // Two-phase (salted) aggregation: the skew-mitigation pattern for a
    // hot group key — pre-aggregate on (key, salt), then merge partials.
    // Result provably equals the direct aggregate (the oracle computes
    // it unsalted); at 100 TB this is how a dominant key stops pinning
    // one reducer.
    "q33_salted_two_phase_agg" -> ((s, d) => {
      import graft.Parity._
      val partial = Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(16)))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
            .as("pv"))
      partial
        .groupBy(col("event_type"))
        .agg(sum(col("pn")).as("n"), sum(col("pv")).cast("double").as("total"))
        .orderBy(col("event_type"))
    }),

    // Mergeable quantile sketch (KMV bottom-k distinct sample by portable
    // 60-bit md5 hash + type-7 interpolation). The sample is a pure
    // function of the value set — independent of partitioning and merge
    // order — so unlike a t-digest the estimates are exactly
    // reproducible by the oracle. Prices go through round(x*100) cents
    // so the hashed string form is an integer in both engines.
    "q52_quantile_sketch" -> ((s, d) => {
      val cents = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
        .withColumn("h",
          graft.functions.HashFunctions.md5Hash60(col("v").cast("string")))
      cents.groupBy(col("l_returnflag"))
        .agg(graft.functions.QuantileSketchFunctions
          .quantileSketch(col("h"), col("v"), 128,
            Seq(0.25, 0.5, 0.9, 0.99)).as("qs"))
        .select(col("l_returnflag"),
          (col("qs")(0) / 100.0).as("p25"),
          (col("qs")(1) / 100.0).as("p50"),
          (col("qs")(2) / 100.0).as("p90"),
          (col("qs")(3) / 100.0).as("p99"))
        .orderBy(col("l_returnflag"))
    }),

    // Bloom-filter semi-join reduction: build a compact key digest of
    // the filtered build side ([[graft.functions.BloomFilterAggregate]],
    // mergeable bit array — the shuffle carries one 8 KiB filter per
    // partition), broadcast it, and discard probe rows that CANNOT join
    // before they reach the exchange (codegen'd
    // `graft_bloom_contains` probe inside the scan stage). False
    // positives only, so the exact semi join downstream returns exactly
    // the unfiltered result — at 100 TB the shuffle moves
    // selectivity + fpp of lineitem instead of all of it (the
    // engine-native form of AQE's injected runtime row filter, as a
    // reusable surface: build the digest once, apply it across
    // queries). SIZE THE FILTER FROM THE BUILD SIDE: ~10 bits and 5
    // hashes per expected key keeps fpp ~1% — 2^19 bits (64 KiB)
    // covers the ~30k urgent keys at the sf0.1 bench scale with fpp
    // ~0.1%; an undersized filter saturates and silently stops
    // reducing the shuffle (2^16 here would pass ~59% of non-joining
    // rows at sf0.1). Oracle = the plain exact semi join.
    "q67_bloom_semi_join" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      Tables.orders(s, d).createOrReplaceTempView("bsj_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("bsj_lineitem")
      // The digest rides a SCALAR SUBQUERY — the same plan shape
      // Spark's AQE runtime row filtering injects — so the probe is a
      // plain Filter on the scan side, BELOW the exchange (a join-
      // shaped probe gets reordered above the semi join by
      // PushDownLeftSemiAntiJoin, which defeats the reduction).
      val pre = s.sql("""
        SELECT l_orderkey, l_returnflag, l_extendedprice, l_discount
        FROM bsj_lineitem
        WHERE graft_bloom_contains(
          (SELECT graft_bloom_agg(o_orderkey, 524288, 5) FROM bsj_orders
           WHERE o_orderpriority = '1-URGENT'),
          l_orderkey)""")
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      // merge hint: the exact join SHUFFLES (the 100 TB reality a bloom
      // digest exists for — with a broadcastable build side you'd skip
      // the bloom entirely and PLAN-pin the broadcast instead).
      pre.join(urgent.hint("merge"),
          pre("l_orderkey") === urgent("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          graft.Parity.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("l_returnflag"))
    }),

    // Schema-driven payload decode: from_json into a typed struct — the
    // engine-internalized form of the reference's user-code payload
    // parsing (payloadAsString + hand-rolled JSON,
    // reference main/models/ConsumerEvent.scala:54-61).
    "q32_from_json_decode" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
        .filter(col("k").isNotNull)
        .groupBy(pmod(col("k"), lit(7)).as("k_mod7"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("k_mod7"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q30_custom_aggregator" ->
      """SELECT user_id, event_id AS latest_event_id FROM (
           SELECT user_id, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",

    "q31_udf_surface" ->
      """SELECT p_partkey,
         REVERSE(p_name) || ':' || CAST(LENGTH(p_name) AS VARCHAR) AS name_tag
         FROM part ORDER BY p_partkey""",

    "q34_topk_sketch_aggregate" ->
      """SELECT event_type, CAST(rn AS INT) AS rank, event_id, value FROM (
           SELECT event_type, event_id, value,
                  ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id) AS rn
           FROM events) t
         WHERE rn <= 5 ORDER BY event_type, rank""",

    "q33_salted_two_phase_agg" ->
      """SELECT event_type, COUNT(1) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",

    // the UNFILTERED exact semi join — equality with the bloom-prefiltered
    // plan is exactly the no-false-negative property being verified
    "q67_bloom_semi_join" ->
      s"""SELECT l_returnflag, COUNT(1) AS n,
         ${graft.Parity.dsumSql("l_extendedprice * (1 - l_discount)")}
           AS revenue
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Replays the sketch exactly: same portable 60-bit md5 hash over the
    // cents string, same bottom-128 distinct (h, v) sample, and the same
    // type-7 interpolation with the IDENTICAL expression order
    // (v_lo + (r - floor(r)) * (v_hi - v_lo), then / 100.0) so the
    // doubles agree bit-for-bit.
    "q52_quantile_sketch" ->
      s"""WITH cents AS (
           SELECT l_returnflag,
                  CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v
           FROM lineitem),
         hv AS (
           SELECT DISTINCT l_returnflag,
             ${md5Hash60Sql("CAST(v AS VARCHAR)")} AS h, v
           FROM cents),
         samp AS (
           SELECT l_returnflag, v,
                  ROW_NUMBER() OVER (PARTITION BY l_returnflag
                    ORDER BY h, v) AS rn
           FROM hv),
         kept AS (
           SELECT l_returnflag, v,
                  ROW_NUMBER() OVER (PARTITION BY l_returnflag
                    ORDER BY v) - 1 AS idx,
                  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
           FROM samp WHERE rn <= 128),
         qs AS (
           SELECT UNNEST(CAST([0.25, 0.5, 0.9, 0.99] AS DOUBLE[])) AS p,
                  UNNEST([1, 2, 3, 4]) AS qi),
         pts AS (
           SELECT k.l_returnflag, q.qi,
                  MAX(q.p * (k.n - 1)) AS r,
                  MAX(CASE WHEN k.idx =
                    CAST(FLOOR(q.p * (k.n - 1)) AS BIGINT)
                    THEN k.v END) AS vlo,
                  MAX(CASE WHEN k.idx =
                    CAST(CEIL(q.p * (k.n - 1)) AS BIGINT)
                    THEN k.v END) AS vhi
           FROM kept k CROSS JOIN qs q
           GROUP BY k.l_returnflag, q.qi),
         est AS (
           SELECT l_returnflag, qi,
                  (CAST(vlo AS DOUBLE) +
                   (r - FLOOR(r)) * CAST(vhi - vlo AS DOUBLE)) / 100.0 AS e
           FROM pts)
         SELECT l_returnflag,
                MAX(CASE WHEN qi = 1 THEN e END) AS p25,
                MAX(CASE WHEN qi = 2 THEN e END) AS p50,
                MAX(CASE WHEN qi = 3 THEN e END) AS p90,
                MAX(CASE WHEN qi = 4 THEN e END) AS p99
         FROM est GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q32_from_json_decode" ->
      """WITH e AS (SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
         SELECT k % 7 AS k_mod7, COUNT(1) AS n,
                CAST(SUM(k) AS BIGINT) AS sum_k
         FROM e WHERE k IS NOT NULL GROUP BY k % 7 ORDER BY k_mod7"""
  )
}
