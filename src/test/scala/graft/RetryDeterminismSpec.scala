package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Task-retry determinism — the 1000-executor property no local run
  * exercises by default: when a task fails and is re-attempted (lost
  * executor, preemption, speculation), the recomputed partition must
  * produce the SAME bytes, or a retry silently flips results. The
  * shared session runs `local[4, 2]` so these specs can inject a
  * first-attempt failure into partition 0 of the scan stage and pin
  * the retried run bit-identical to the clean run, across the three
  * carrier families: exact integer grids (Kruskal–Wallis), portable-
  * hash sketches (KMV bottom-k), and fingerprint dedup counts.
  *
  * The injection rides `mapPartitions` + `TaskContext.attemptNumber`:
  * attempt 0 of partition 0 throws AFTER the iterator is created (the
  * task has started consuming input), attempt 1 succeeds — every
  * action over the frame exercises one real task retry.
  */
class RetryDeterminismSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def flaky[T](ds: Dataset[T]): Dataset[T] = {
    import ds.sparkSession.implicits._
    implicit val enc = ds.encoder
    ds.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected first-attempt failure")
      it
    }
  }

  test("an injected task failure + retry cannot change the exact-grid " +
      "Kruskal-Wallis statistics by a bit") {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .select(
        when(col("n_items") <= 2, "narrow")
          .when(col("n_items") <= 5, "mid").otherwise("wide").as("grp"),
        expr("cents div 100").as("value"))
      .as[(String, Long)]
    val groups = Seq("narrow", "mid", "wide")
    val clean = operators.Statistics
      .kruskalWallisH(base.toDF("grp", "value"), groups).collect()(0)
    val retried = operators.Statistics
      .kruskalWallisH(flaky(base).toDF("grp", "value"), groups)
      .collect()(0)
    assert(retried == clean, s"$retried vs $clean")
    assert(retried.getAs[Double]("h_stat") ==
      clean.getAs[Double]("h_stat"))
  }

  test("an injected task failure + retry cannot change a KMV bottom-k " +
      "sketch (order-insensitive observe) or an exact dedup count") {
    import spark.implicits._
    val ids = Tables.orders(spark, dir)
      .select(col("o_custkey")).as[Long]
    def kmv(ds: Dataset[Long]): Seq[Long] = ds.toDF("id")
      .select(conv(substring(md5(encode(col("id").cast("string"),
        "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .orderBy(col("h")).limit(64)
      .collect().map(_.getLong(0)).toSeq
    assert(kmv(flaky(ids)) == kmv(ids))

    val texts = Tables.documents(spark, dir)
      .select(col("text")).as[String]
    def dedupCount(ds: Dataset[String]): Long = ds.toDF("text")
      .select(md5(encode(col("text"), "UTF-8")).as("fp"))
      .distinct().count()
    assert(dedupCount(flaky(texts)) == dedupCount(texts))
  }

  test("an injected task failure + retry cannot change the custom " +
      "AsOfJoin SparkPlan's output (the whole-operator extension rung " +
      "recomputes identically)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // time carried as exact micros longs: a typed Timestamp round-trip
    // through mapPartitions would re-interpret the NTZ column
    val events = Tables.events(spark, dir)
      .select(col("user_id").as("uid"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ets"),
        col("event_id").as("eid"))
      .as[(Long, Long, Long)]
    val quotes = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("quid"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("qts"),
        col("value").as("qv"))
      .as[(Long, Long, Double)]
    def run(l: Dataset[(Long, Long, Long)],
        r: Dataset[(Long, Long, Double)]): Seq[String] =
      graft.plans.AsOfJoin.join(
        l.toDF("uid", "ets", "eid"), r.toDF("quid", "qts", "qv"),
        "uid", "quid", "ets", Seq("qts"))
        .orderBy(col("uid"), col("ets"), col("eid"))
        .collect().map(_.toString).toSeq
    val clean = run(events, quotes)
    assert(clean.exists(!_.contains("null")), "join must match rows")
    assert(run(flaky(events), quotes) == clean)
    assert(run(events, flaky(quotes)) == clean)
  }

  test("the injection actually fires: with retries exhausted the query " +
      "fails loudly (the guard is real, not a no-op)") {
    import spark.implicits._
    val ds = spark.range(100).as[java.lang.Long]
    // fail BOTH attempts => the job must fail (maxFailures = 2)
    val alwaysFail = ds.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0)
        throw new RuntimeException("injected persistent failure")
      it
    }
    val e = intercept[Exception](alwaysFail.count())
    assert(e.getMessage == null ||
      e.toString.contains("injected") ||
      Option(e.getCause).exists(_.toString.contains("injected")))
  }

  test("an injected task failure + retry cannot move a row across range " +
      "partitions of Packing.orderedPrefixSum (the pinned-pid contract " +
      "behind the q72/q86/q89 exact ranks)") {
    import spark.implicits._
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(Parity.cents2(col("l_extendedprice"))).as("cents"))
      .as[(Long, Long)]
    def ranked(df: DataFrame) = operators.Packing
      .orderedPrefixSum(df, Seq(col("cents").desc, col("l_partkey")),
        "cents")
      .select(col("l_partkey"), col("cents"), col("cum"), col("rnk"))
      .collect().sortBy(_.getLong(0))
    val clean = ranked(base.toDF("l_partkey", "cents"))
    val retried = ranked(flaky(base).toDF("l_partkey", "cents"))
    assert(clean.sameElements(retried))
    // sanity: the global rank really is a permutation 1..n with an
    // everywhere-increasing prefix sum
    val byRank = clean.sortBy(_.getLong(3))
    assert(byRank.map(_.getLong(3)).toSeq == (1L to clean.length).toSeq)
    assert(byRank.map(_.getLong(2)).toSeq ==
      byRank.map(_.getLong(1)).scanLeft(0L)(_ + _).drop(1).toSeq)
  }
}
