package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions
import graft.functions.HashFunctions.md5Hash60Sql

/** Custom aggregation / UDF / typed-decode surface (SURVEY.md §2.2 "custom
  * aggregates" and "UDF surface"). Native `functions._` stay the default;
  * these demonstrate the extension points with deterministic semantics so
  * the DuckDB oracle still applies.
  */
object CustomAgg extends OperatorFamily {

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

  /** Portable 60-bit hash both engines can compute bit-identically:
    * the first 15 hex chars of md5 over the value's UTF-8 string form
    * (the q114/q51 discipline). */
  private def phash(c: Column): Column =
    graft.functions.HashFunctions.md5Hash60(c.cast("string"))

  /** Distinct (event_type, h) pairs, h the portable 60-bit hash of
    * user_id: the KMV sketches' input (q51, q63). */
  private def typeUserHashes(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        HashFunctions.md5Hash60Chain(col("user_id")).as("h"))
      .distinct()

  /** DuckDB twin of [[typeUserHashes]] with each type's hash rank:
    * CTEs `h` (event_type, h) and `r` (event_type, h, rn). */
  private val TypeRankCtes =
    s"""h AS (SELECT DISTINCT event_type,
           ${md5Hash60Sql("CAST(user_id AS VARCHAR)")} AS h
           FROM events),
         r AS (SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h)"""

  /** HLL register inputs over a hash column h: bucket (the low 6 bits),
    * w (the rest) and rho (the leading-zero rank of w in 55 bits) —
    * q114/q124, twin of [[hllRegistersSql]]'s `rho`. */
  private def withRho(hashed: DataFrame): DataFrame =
    hashed
      .withColumn("bucket", col("h").bitwiseAND(lit(63L)))
      .withColumn("w", shiftright(col("h"), 6))
      .withColumn("rho", when(col("w") === 0L, lit(55))
        .otherwise(lit(55) - length(bin(col("w")))))

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
    }),

    // KMV (k-minimum-values) distinct-count sketch with a DETERMINISTIC
    // portable hash (60-bit md5, as d05) — unlike HLL++ (q29, engine
    // internal) the estimate (k-1)/F(h_k) is bit-identical in any
    // engine, so the approximate-aggregate category gets a value-level
    // oracle. At scale the distinct+window runs on the shuffled hash
    // space; a TypedImperativeAggregate variant would fold partitions
    // without the row_number pass (q34 demonstrates that machinery).
    "q51_kmv_distinct_sketch" -> ((s, d) => {
      val k = 64
      val h = typeUserHashes(s, d)
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      h.withColumn("rn", row_number().over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ndv_exact"),
          max(when(col("rn") === k, col("h"))).as("hk"))
        .select(col("event_type"), col("ndv_exact"),
          when(col("ndv_exact") < k, col("ndv_exact").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / col("hk"))
            .as("ndv_est"))
        .orderBy(col("event_type"))
    }),

    // KMV sketch UNION — the mergeability property that makes sketches
    // work on a distributed engine: the bottom-k of a union equals the
    // bottom-k of the union of per-part bottom-k sets, so per-group
    // (here per-event-type) sketches of k rows each merge into the
    // all-types distinct-user estimate WITHOUT revisiting the data.
    // The estimate is derived ONLY from the merged k-row sketches;
    // ndv_union_exact rides along to make the error visible — and both
    // are deterministic (portable 60-bit md5 hash as q51), so even the
    // estimate is value-level oracle-checked. Scale shape: the one
    // corpus-side exchange is the distinct on (type, hash); everything
    // after runs on k·|types| rows.
    "q63_kmv_sketch_union" -> ((s, d) => {
      val k = 64
      val h = typeUserHashes(s, d)
      val wType = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val sketches = h.withColumn("rn", row_number().over(wType))
        .filter(col("rn") <= k)
      val wAll = Window.orderBy(col("h"))
      val merged = sketches.select(col("h")).distinct()
        .withColumn("rn", row_number().over(wAll))
        .filter(col("rn") <= k)
        .agg(count(lit(1)).as("sketch_size"),
          max(when(col("rn") === k, col("h"))).as("hk"))
      val exact = Tables.events(s, d)
        .agg(count_distinct(col("user_id")).as("ndv_union_exact"))
      merged.join(exact, lit(true))
        .select(col("sketch_size"),
          when(col("sketch_size") < k, col("sketch_size").cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
              / col("hk"))
            .as("ndv_union_est"),
          col("ndv_union_exact"))
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
      val h = HashFunctions.md5Hash60Chain(col("o_custkey"))
      val regs = withRho(Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"), col("o_custkey"),
          h.as("h")))
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
      val h = HashFunctions.md5Hash60Chain(col("o_custkey"))
      val base = withRho(Tables.orders(s, d)
        .select(col("o_orderpriority").as("priority"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), " +
            "DATE '1970-01-01') div 7 AS BIGINT)").as("wk"),
          h.as("h")))
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
      val h = HashFunctions.md5Hash60Chain(col("o_custkey"))
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

    // COUNT-MIN FREQUENCY SKETCH, fully oracled — one
    // `cms_sketch_agg(h, 4, 64)` fold over the event stream
    // ([[graft.functions.CmsSketchAggregate]]) produces the 4×64
    // counter matrix (2 KB of state regardless of stream length), and
    // every user's occurrence count is then estimated by probing
    // min over rows of C[i][(h >> 6i) & 63] — a row-local HOF over the
    // emitted array, the q126 stance of keeping the estimate algebra
    // outside the aggregate. The demo width (64) is deliberately small
    // relative to the key space so the sketch's one-sided error is
    // VISIBLE: the oracle rebuilds the identical matrix declaratively
    // and the overcount column shows estimate ≥ exact on every row
    // (the CMS guarantee, spec-pinned), with min-of-4-rows pulling most
    // estimates back to truth. Scale shape: the aggregate's partial
    // state is the 2 KB matrix map-side — the exchange carries one
    // matrix per group, never the keys; merge is element-wise add, so
    // daily/shard partial sketches sum to the exact union sketch
    // (which is why this is the streaming frequency summary — see
    // StreamingOps.cmsFold, the cross-batch twin).
    "q129_cms_frequency" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ev = Tables.events(s, d)
        .select(col("user_id"), phash(col("user_id")).as("h"))
      val sketch = ev.agg(
        graft.functions.CmsFunctions.cmsSketch(col("h"), 4, 64).as("cms"))
      val exact = ev.groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("n_exact"))
      exact.join(broadcast(sketch), lit(true))
        .withColumn("cms_est", expr(
          "aggregate(sequence(0, 3), CAST(9223372036854775807 AS BIGINT), " +
            "(m, i) -> least(m, element_at(cms, " +
            "CAST(i * 64 + (shiftright(h, 6 * i) & 63) + 1 AS INT))))"))
        .select(col("user_id"), col("n_exact"), col("cms_est"),
          (col("cms_est") - col("n_exact")).as("overcount"))
        .orderBy(col("user_id"))
    }),

    // KMV SKETCH INTERSECTION — the set-algebra layer on q51/q63's
    // bottom-k sketches: from the two quarters' part sets (1996-Q1 vs
    // Q2 shipments, ~50% true Jaccard on this corpus), build k=64 KMV
    // sketches, merge to the union sketch (bottom-k of the sketch
    // union — exactly the distinct-union rule q63 pins), and estimate
    // the overlap two ways at once: the union NDV from the kth minimum
    // and the Jaccard RATIO estimator ρ = |union-sketch elements
    // present in BOTH input sketches| / k, giving intersection ≈
    // ρ·NDV(A∪B). Everything after the two distinct-scans runs on
    // ≤3k hash rows; membership marks are broadcast semi-join lookups
    // on 8-byte hashes. Small-set edge (|union| < k) degrades to the
    // exact count, the q63 rule. Scale shape: per-set sketches are
    // bottom-k window prunes over the distinct frame — at warehouse
    // scale these become per-partition bottom-k partials merged on the
    // driver-sized k rows; the estimate algebra never touches the
    // fact table again.
    "q132_kmv_intersection" -> ((s, d) => {
      val k = 64
      def quarterParts(lo: String, hi: String): DataFrame =
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit(lo).cast("date") &&
            col("l_shipdate") < lit(hi).cast("date"))
          .select(col("l_partkey")).distinct()
          .select(phash(col("l_partkey")).as("h"))
      val a = quarterParts("1996-01-01", "1996-04-01")
      val b = quarterParts("1996-04-01", "1996-07-01")
      // each ≤k-row sketch is referenced by the union AND the marking
      // joins — cut them so each quarter's fact scan runs once
      def bottomK(df: DataFrame): DataFrame =
        Materialize.LocalCheckpoint(df
          .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
          .filter(col("rn") <= k).select(col("h")))
      val skA = bottomK(a).withColumnRenamed("h", "ha")
      val skB = bottomK(b).withColumnRenamed("h", "hb")
      val uni = skA.select(col("ha").as("h"))
        .unionAll(skB.select(col("hb").as("h"))).distinct()
        .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rn") <= k)
      val marked = uni
        .join(broadcast(skA), col("h") === col("ha"), "left")
        .join(broadcast(skB), col("h") === col("hb"), "left")
      val sk = marked.agg(
        count(lit(1)).as("union_sketch_size"),
        max(col("h")).as("hk"),
        sum(when(col("ha").isNotNull && col("hb").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      val exact = Tables.lineitem(s, d).select(
          col("l_partkey"),
          (col("l_shipdate") >= lit("1996-01-01").cast("date") &&
            col("l_shipdate") < lit("1996-04-01").cast("date")).as("ia"),
          (col("l_shipdate") >= lit("1996-04-01").cast("date") &&
            col("l_shipdate") < lit("1996-07-01").cast("date")).as("ib"))
        .filter(col("ia") || col("ib"))
        .groupBy(col("l_partkey"))
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
        .agg(sum(when(col("ia"), 1L).otherwise(0L)).as("n_a_exact"),
          sum(when(col("ib"), 1L).otherwise(0L)).as("n_b_exact"),
          sum(when(col("ia") && col("ib"), 1L).otherwise(0L))
            .as("inter_exact"))
      exact.join(sk, lit(true))
        .withColumn("ndv_union_est",
          when(col("union_sketch_size") < k,
            col("union_sketch_size").cast("double"))
            .otherwise(lit((k - 1).toDouble) *
              lit(1.152921504606846976e18) / col("hk")))
        .withColumn("jaccard_est",
          col("n_both").cast("double") /
            col("union_sketch_size").cast("double"))
        .select(col("n_a_exact"), col("n_b_exact"), col("inter_exact"),
          col("union_sketch_size"), col("ndv_union_est"),
          col("jaccard_est"),
          (col("jaccard_est") * col("ndv_union_est")).as("inter_est"))
    }),

    // EXACT-DISTINCT BITMAPS with set algebra — the exact counterpart
    // to the q126 HLL surface for bounded surrogate keys
    // ([[graft.functions.BitmapAggregate]], the ClickHouse/Druid
    // groupBitmap pattern): one `bitmap_agg(custkey)` per order
    // priority, then every AUDIENCE OVERLAP between priorities comes
    // from `bitmap_and_count` on the 5 serialized bitmaps — the fact
    // table is scanned ONCE for all 10 pairwise intersections, where
    // the q132 exact side had to re-scan per pair. The oracle rebuilds
    // the same counts relationally (distinct + self-join). Scale
    // shape: the aggregate's partial state is ⌈maxKey/64⌉ words per
    // group map-side (125 KB per million-id dictionary); the pairing
    // join runs on |priorities| rows of bitmaps.
    "q136_bitmap_distinct" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val bm = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("p"))
        .agg(graft.functions.BitmapFunctions
          .bitmapAgg(col("o_custkey")).as("bm"))
      bm.as("a").join(bm.as("b"), col("a.p") < col("b.p"))
        .select(col("a.p").as("p1"), col("b.p").as("p2"),
          graft.functions.BitmapFunctions.bitmapCount(col("a.bm"))
            .as("nd1"),
          graft.functions.BitmapFunctions.bitmapCount(col("b.bm"))
            .as("nd2"),
          graft.functions.BitmapFunctions
            .bitmapAndCount(col("a.bm"), col("b.bm")).as("inter"))
        .orderBy(col("p1"), col("p2"))
    }),

    // QUANTILE-SKETCH ERROR PROFILE — the e07 stance ("the index is
    // measured, not just built") applied to q52's KMV quantile
    // sketch: per return flag, the 128-sample sketch's p50/p90
    // against the EXACT grid-rule percentiles, with absolute and
    // relative error surfaced. Closes the sketch family's audit loop
    // (q114 HLL and q129 CMS carry rel-err vs exact; q132 KMV
    // distinct joins its exact side) — a user picking a sketch size
    // reads THIS row set, not the sketch's theory. Both branches are
    // deterministic (portable md5 bottom-k sample; grid percentiles),
    // so the errors themselves are oracle-checked. Scale shape: two
    // passes over a 2-column projection of the fact table (sketch
    // agg + exact grid — the d22 method-comparison bucket, each pass
    // map-side combined), joined on the 3-row flag frame.
    "q161_sketch_error_profile" -> ((s, d) => {
      val cents = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
      val sk = cents
        .withColumn("h",
          graft.functions.HashFunctions.md5Hash60(col("v").cast("string")))
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.QuantileSketchFunctions
          .quantileSketch(col("h"), col("v"), 128, Seq(0.5, 0.9))
          .as("qs"))
        .select(col("l_returnflag"),
          (col("qs")(0) / 100.0).as("est_p50"),
          (col("qs")(1) / 100.0).as("est_p90"))
      val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy(col("l_returnflag"))
      val exact = cents
        .groupBy(col("l_returnflag"), col("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wTot))
        .groupBy(col("l_returnflag"))
        .agg(max(col("n")).as("n"),
          (min(when(lit(2L) * col("cum") >= col("n"), col("v")))
            .cast("double") / lit(100.0)).as("exact_p50"),
          (min(when(lit(10L) * col("cum") >= lit(9L) * col("n"),
            col("v"))).cast("double") / lit(100.0)).as("exact_p90"))
      sk.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          col("est_p50"), col("exact_p50"),
          abs(col("est_p50") - col("exact_p50")).as("abs_err_p50"),
          (abs(col("est_p50") - col("exact_p50")) / col("exact_p50"))
            .as("rel_err_p50"),
          col("est_p90"), col("exact_p90"),
          abs(col("est_p90") - col("exact_p90")).as("abs_err_p90"),
          (abs(col("est_p90") - col("exact_p90")) / col("exact_p90"))
            .as("rel_err_p90"))
        .orderBy(col("l_returnflag"))
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
         FROM e WHERE k IS NOT NULL GROUP BY k % 7 ORDER BY k_mod7""",

    "q51_kmv_distinct_sketch" ->
      s"""WITH $TypeRankCtes
         SELECT event_type, COUNT(1) AS ndv_exact,
           CASE WHEN COUNT(1) < 64 THEN CAST(COUNT(1) AS DOUBLE)
                ELSE 63.0 * 1152921504606846976
                     / MAX(CASE WHEN rn = 64 THEN h END)
           END AS ndv_est
         FROM r GROUP BY event_type ORDER BY event_type""",

    "q63_kmv_sketch_union" ->
      s"""WITH $TypeRankCtes,
         sk AS (SELECT DISTINCT h FROM r WHERE rn <= 64),
         m AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM sk),
         est AS (SELECT COUNT(1) AS sketch_size,
                   MAX(CASE WHEN rn = 64 THEN h END) AS hk
                 FROM m WHERE rn <= 64),
         ex AS (SELECT COUNT(DISTINCT user_id) AS ndv_union_exact
                FROM events)
         SELECT sketch_size,
           CASE WHEN sketch_size < 64 THEN CAST(sketch_size AS DOUBLE)
                ELSE 63.0 * 1152921504606846976 / hk END AS ndv_union_est,
           ndv_union_exact
         FROM est, ex""",

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
         FROM agg ORDER BY priority""",

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

    "q129_cms_frequency" ->
      s"""WITH ev AS (SELECT user_id, ${md5Hash60Sql("CAST(user_id AS VARCHAR)")} AS h
         |    FROM events),
         |  uc AS (SELECT user_id, h, COUNT(1) AS n_exact FROM ev
         |    GROUP BY 1, 2),
         |  pos AS (SELECT i, (h >> (6 * i)) & 63 AS idx, n_exact
         |    FROM uc CROSS JOIN
         |      (SELECT UNNEST(generate_series(0, 3)) AS i)),
         |  counters AS (SELECT i, idx, CAST(SUM(n_exact) AS BIGINT) AS c
         |    FROM pos GROUP BY 1, 2),
         |  probe AS (SELECT u.user_id, u.n_exact, MIN(c.c) AS cms_est
         |    FROM uc u JOIN counters c
         |      ON c.idx = ((u.h >> (6 * c.i)) & 63)
         |    GROUP BY 1, 2)
         |SELECT user_id, n_exact, cms_est,
         |  cms_est - n_exact AS overcount
         |FROM probe ORDER BY user_id""".stripMargin,

    "q132_kmv_intersection" ->
      s"""WITH qa AS (SELECT DISTINCT l_partkey FROM lineitem
         |    WHERE l_shipdate >= DATE '1996-01-01'
         |      AND l_shipdate < DATE '1996-04-01'),
         |  qb AS (SELECT DISTINCT l_partkey FROM lineitem
         |    WHERE l_shipdate >= DATE '1996-04-01'
         |      AND l_shipdate < DATE '1996-07-01'),
         |  ha AS (SELECT ${md5Hash60Sql("CAST(l_partkey AS VARCHAR)")} AS h FROM qa),
         |  hb AS (SELECT ${md5Hash60Sql("CAST(l_partkey AS VARCHAR)")} AS h FROM qb),
         |  ska AS (SELECT h FROM
         |    (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha)
         |    WHERE rn <= 64),
         |  skb AS (SELECT h FROM
         |    (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb)
         |    WHERE rn <= 64),
         |  uni AS (SELECT h FROM
         |    (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM
         |      (SELECT DISTINCT h FROM
         |        (SELECT h FROM ska UNION ALL SELECT h FROM skb)))
         |    WHERE rn <= 64),
         |  sk AS (SELECT COUNT(1) AS union_sketch_size, MAX(u.h) AS hk,
         |      CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
         |        THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |    FROM uni u LEFT JOIN ska a ON u.h = a.h
         |      LEFT JOIN skb b ON u.h = b.h),
         |  ex AS (SELECT
         |      CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
         |        AS n_a_exact,
         |      CAST(SUM(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT)
         |        AS n_b_exact,
         |      CAST(SUM(CASE WHEN ia AND ib THEN 1 ELSE 0 END)
         |        AS BIGINT) AS inter_exact
         |    FROM (SELECT l_partkey,
         |        MAX(l_shipdate >= DATE '1996-01-01'
         |          AND l_shipdate < DATE '1996-04-01') AS ia,
         |        MAX(l_shipdate >= DATE '1996-04-01'
         |          AND l_shipdate < DATE '1996-07-01') AS ib
         |      FROM lineitem
         |      WHERE l_shipdate >= DATE '1996-01-01'
         |        AND l_shipdate < DATE '1996-07-01'
         |      GROUP BY 1)),
         |  est AS (SELECT ex.*, sk.union_sketch_size,
         |      CASE WHEN sk.union_sketch_size < 64
         |        THEN CAST(sk.union_sketch_size AS DOUBLE)
         |        ELSE CAST(63 AS DOUBLE) *
         |          CAST(1152921504606846976 AS DOUBLE) / CAST(sk.hk AS DOUBLE)
         |      END AS ndv_union_est,
         |      CAST(sk.n_both AS DOUBLE) /
         |        CAST(sk.union_sketch_size AS DOUBLE) AS jaccard_est
         |    FROM ex CROSS JOIN sk)
         |SELECT n_a_exact, n_b_exact, inter_exact, union_sketch_size,
         |  ndv_union_est, jaccard_est,
         |  jaccard_est * ndv_union_est AS inter_est
         |FROM est""".stripMargin,

    "q136_bitmap_distinct" ->
      """WITH pc AS (SELECT DISTINCT o_orderpriority AS p, o_custkey AS c
        |    FROM orders),
        |  nd AS (SELECT p, COUNT(1) AS nd FROM pc GROUP BY 1),
        |  iv AS (SELECT a.p AS p1, b.p AS p2, COUNT(1) AS inter
        |    FROM pc a JOIN pc b ON a.c = b.c AND a.p < b.p
        |    GROUP BY 1, 2)
        |SELECT n1.p AS p1, n2.p AS p2, n1.nd AS nd1, n2.nd AS nd2,
        |  COALESCE(iv.inter, 0) AS inter
        |FROM nd n1 JOIN nd n2 ON n1.p < n2.p
        |  LEFT JOIN iv ON iv.p1 = n1.p AND iv.p2 = n2.p
        |ORDER BY p1, p2""".stripMargin,

    "q161_sketch_error_profile" ->
      s"""WITH cents AS (SELECT l_returnflag,
        |    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v
        |  FROM lineitem),
        |  hv AS (SELECT DISTINCT l_returnflag,
        |    ${md5Hash60Sql("CAST(v AS VARCHAR)")} AS h, v
        |  FROM cents),
        |  samp AS (SELECT l_returnflag, v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h, v)
        |      AS rn
        |  FROM hv),
        |  kept AS (SELECT l_returnflag, v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY v) - 1
        |      AS idx,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM samp WHERE rn <= 128),
        |  qp AS (SELECT UNNEST(CAST([0.5, 0.9] AS DOUBLE[])) AS p,
        |    UNNEST([1, 2]) AS qi),
        |  pts AS (SELECT k.l_returnflag, q.qi,
        |    MAX(q.p * (k.n - 1)) AS r,
        |    MAX(CASE WHEN k.idx = CAST(FLOOR(q.p * (k.n - 1)) AS BIGINT)
        |      THEN k.v END) AS vlo,
        |    MAX(CASE WHEN k.idx = CAST(CEIL(q.p * (k.n - 1)) AS BIGINT)
        |      THEN k.v END) AS vhi
        |  FROM kept k CROSS JOIN qp q
        |  GROUP BY k.l_returnflag, q.qi),
        |  ev AS (SELECT l_returnflag, qi,
        |    (CAST(vlo AS DOUBLE) +
        |      (r - FLOOR(r)) * CAST(vhi - vlo AS DOUBLE)) / 100.0 AS e
        |  FROM pts),
        |  est AS (SELECT l_returnflag,
        |    MAX(CASE WHEN qi = 1 THEN e END) AS est_p50,
        |    MAX(CASE WHEN qi = 2 THEN e END) AS est_p90
        |  FROM ev GROUP BY 1),
        |  grid AS (SELECT l_returnflag, v, CAST(COUNT(1) AS BIGINT) AS c
        |    FROM cents GROUP BY 1, 2),
        |  cm AS (SELECT l_returnflag, v,
        |    CAST(SUM(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
        |  FROM grid),
        |  ex AS (SELECT l_returnflag, MAX(n) AS n,
        |    CAST(MIN(CASE WHEN 2 * cum >= n THEN v END) AS DOUBLE)
        |      / 100.0 AS exact_p50,
        |    CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN v END) AS DOUBLE)
        |      / 100.0 AS exact_p90
        |  FROM cm GROUP BY 1)
        |SELECT e.l_returnflag, x.n,
        |  e.est_p50, x.exact_p50,
        |  abs(e.est_p50 - x.exact_p50) AS abs_err_p50,
        |  abs(e.est_p50 - x.exact_p50) / x.exact_p50 AS rel_err_p50,
        |  e.est_p90, x.exact_p90,
        |  abs(e.est_p90 - x.exact_p90) AS abs_err_p90,
        |  abs(e.est_p90 - x.exact_p90) / x.exact_p90 AS rel_err_p90
        |FROM est e JOIN ex x USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin
  )
}
