package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions.md5Hash60Sql

/** Round-2 widening of the analytical surface (SURVEY.md §2.2): array
  * higher-order functions, map functions over decoded JSON, CSV
  * encode/decode round-trip, interval (time-range) join — the batch twin
  * of the stream-stream join the streaming specs drive — multiset set
  * ops (`intersectAll`/`exceptAll`), collect/arg-extreme aggregates,
  * exact interpolated percentiles, embedding-cosine near-dup, and a
  * character n-gram corpus profile.
  *
  * All are declarative single-pass plans: higher-order functions run
  * inside whole-stage codegen per row (no UDFs, no shuffle beyond the
  * final aggregate), and the joins are equi-keyed so Catalyst picks
  * hash/merge strategies that scale.
  */
object Extended {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
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

    // Embedding-cosine near-dup: keep-first-by-id policy — a vector is a
    // duplicate iff some LOWER-id vector is within the cosine threshold.
    // Brute-force pair space here (ground truth); the scale path buckets
    // candidates first exactly like e03's IVF cells / d04's LSH bands.
    "d06_embedding_neardup" -> ((s, d) => {
      val v = Similarity.vecs(s, d)
      val a = v.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
      val b = v.select(col("vec_id").as("dup_of"), col("v").as("vb"),
        col("nrm").as("nb"))
      val dups = a.join(b, col("dup_of") < col("vec_id"))
        .filter(graft.functions.VectorFunctions.dotProduct(col("va"), col("vb"))
          / (col("na") * col("nb")) >= 0.4)
        .select(col("vec_id")).distinct()
      v.join(dups, Seq("vec_id"), "left_anti")
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    // KMV (k-minimum-values) distinct-count sketch with a DETERMINISTIC
    // portable hash (60-bit md5, as d05) — unlike HLL++ (q29, engine
    // internal) the estimate (k-1)/F(h_k) is bit-identical in any
    // engine, so the approximate-aggregate category gets a value-level
    // oracle. At scale the distinct+window runs on the shuffled hash
    // space; a TypedImperativeAggregate variant would fold partitions
    // without the row_number pass (q34 demonstrates that machinery).
    "q51_kmv_distinct_sketch" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val h = Tables.events(s, d)
        .select(col("event_type"),
          conv(substring(
            md5(encode(col("user_id").cast("string"), "UTF-8")), 1, 15),
            16, 10).cast("long").as("h"))
        .distinct()
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
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val h = Tables.events(s, d)
        .select(col("event_type"),
          conv(substring(
            md5(encode(col("user_id").cast("string"), "UTF-8")), 1, 15),
            16, 10).cast("long").as("h"))
        .distinct()
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

    // Character trigram corpus profile (language-ID style fingerprint):
    // top-20 trigrams by frequency. The scan uses the codegen'd
    // packed_trigrams expression — one long per trigram instead of one
    // string allocation, so the partial aggregate runs on fixed-width
    // keys; UTF-8 order == code-point order, so ordering by the packed
    // long IS ordering by the trigram string, and only the final 20
    // rows are decoded back.
    "t05_char_ngram_profile" -> ((s, d) => {
      val unpack = udf((l: Long) => graft.functions.PackedTrigrams.unpack(l))
      Tables.documents(s, d)
        .filter(length(col("text")) >= 3)
        .select(explode(
          graft.functions.TextFunctions.packedTrigrams(col("text")))
          .as("tri_p"))
        .groupBy(col("tri_p")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tri_p"))
        .limit(20)
        .select(unpack(col("tri_p")).as("tri"), col("n"))
        .orderBy(col("n").desc, col("tri"))
    })
  )

  def oracleSql: Map[String, String] = Map(
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

    "d06_embedding_neardup" ->
      """SELECT a.vec_id FROM embeddings a
         WHERE NOT EXISTS (
           SELECT 1 FROM embeddings b
           WHERE b.vec_id < a.vec_id
             AND list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) /
                 (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                        CAST(a.embedding AS DOUBLE[]))) *
                  SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))) >= 0.4)
         ORDER BY vec_id""",

    "q51_kmv_distinct_sketch" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
           ${md5Hash60Sql("CAST(user_id AS VARCHAR)")} AS h
           FROM events),
         r AS (SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h)
         SELECT event_type, COUNT(1) AS ndv_exact,
           CASE WHEN COUNT(1) < 64 THEN CAST(COUNT(1) AS DOUBLE)
                ELSE 63.0 * 1152921504606846976
                     / MAX(CASE WHEN rn = 64 THEN h END)
           END AS ndv_est
         FROM r GROUP BY event_type ORDER BY event_type""",

    "q63_kmv_sketch_union" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
           ${md5Hash60Sql("CAST(user_id AS VARCHAR)")} AS h
           FROM events),
         r AS (SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h),
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

    "t05_char_ngram_profile" ->
      """SELECT tri, COUNT(1) AS n FROM (
           SELECT substring(text, i, 3) AS tri
           FROM documents, UNNEST(GENERATE_SERIES(1, LENGTH(text) - 2)) AS t(i)
           WHERE LENGTH(text) >= 3) s
         GROUP BY tri ORDER BY n DESC, tri LIMIT 20"""
  )
}
