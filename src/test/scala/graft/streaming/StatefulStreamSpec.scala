package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** flatMapGroupsWithState carrying per-key state ACROSS micro-batches —
  * the incremental form of the reference's per-shard worker state machine
  * (reference main/consumer/ConsumerWorker.scala:202-548): state persists
  * in the state store between batches and evolves as new batches arrive.
  */
class StatefulStreamSpec extends SparkSpec {
  import StatefulStreamSpec.Hit

  test("per-key running count accumulates across micro-batches") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-state").toString
    val input = MemoryStream[Long](spark)

    def fn(user: Long, rows: Iterator[Long],
        state: GroupState[Int]): Iterator[Hit] = {
      val total = state.getOption.getOrElse(0) + rows.size
      state.update(total)
      Iterator.single(Hit(user, total))
    }

    val q = input.toDS().groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout)(fn)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("state_running")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(7L, 7L, 8L)
      q.processAllAvailable()
      input.addData(7L, 8L, 8L)
      q.processAllAvailable()
      val rows = spark.table("state_running").as[Hit].collect()
      // latest emission per key reflects the cross-batch total
      val latest = rows.groupBy(_.user).view.mapValues(_.map(_.n).max).toMap
      assert(latest == Map(7L -> 3, 8L -> 3))
    } finally q.stop()
  }

  test("sessionization state carries across micro-batches: a session " +
      "split over two batches stays ONE session") {
    import spark.implicits._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{Ev, UserSessions}
    val tmp = java.nio.file.Files.createTempDirectory("graft-state").toString
    val input = MemoryStream[Ev](spark)
    val q = input.toDS().groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        StreamingOps.sessionFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("session_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      val min = 60L * 1000
      // batch 1: two events 5 minutes apart
      input.addData(Ev(1, 0 * min, 1), Ev(1, 5 * min, 2))
      q.processAllAvailable()
      // batch 2: 10 minutes later (inside the 30-min gap) + one event
      // 40 minutes after that (a genuine new session)
      input.addData(Ev(1, 15 * min, 3), Ev(1, 55 * min, 4))
      q.processAllAvailable()
      val latest = spark.table("session_xbatch").as[UserSessions]
        .collect().maxBy(_.n_events)
      assert(latest == UserSessions(1, 2, 4, 3),
        s"continued session must not split: $latest")
    } finally q.stop()
  }

  test("debounce state spans micro-batches: a same-type event within " +
      "60s of the previous batch's tail is still dropped") {
    import spark.implicits._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.DebEv
    val tmp = java.nio.file.Files.createTempDirectory("graft-state").toString
    val input = MemoryStream[DebEv](spark)
    val q = input.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(StreamingOps.debounceFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("debounce_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      val s = 1000L
      // batch 1: click at t=0 kept; click at t=30s dropped (same type,
      // inside the window)
      input.addData(DebEv(1, 0 * s, 1, "click"), DebEv(1, 30 * s, 2, "click"))
      q.processAllAvailable()
      // batch 2: click at t=50s — 20s after the previous batch's TAIL
      // (the dropped t=30s event), so still dropped; view at t=55s kept
      // (type change); view at t=200s kept (gap > 60s)
      input.addData(DebEv(1, 50 * s, 3, "click"),
        DebEv(1, 55 * s, 4, "view"), DebEv(1, 200 * s, 5, "view"))
      q.processAllAvailable()
      val kept = spark.table("debounce_xbatch").as[DebEv]
        .collect().map(_.event_id).sorted.toSeq
      assert(kept == Seq(1L, 4L, 5L),
        s"expected events 1,4,5 to survive the debounce, got $kept")
    } finally q.stop()
  }

  test("burst state spans micro-batches: an error 3-in-300s window " +
      "straddling the batch boundary still alerts") {
    import spark.implicits._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{BurstAlert, ErrEv}
    val tmp = java.nio.file.Files.createTempDirectory("graft-burst").toString
    val input = MemoryStream[ErrEv](spark)
    val q = input.toDS().groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(StreamingOps.burstFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("burst_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      val s = 1000L
      // batch 1: two errors — not yet a burst (needs a third in window)
      input.addData(ErrEv(1, 0 * s, 1), ErrEv(1, 100 * s, 2))
      q.processAllAvailable()
      // batch 2: t=250s closes a 3-in-300s window with the PREVIOUS
      // batch's t=0 (span 250s); t=600s and t=650s are each > 300s from
      // their 2nd-back; t=700s closes a window with t=600 (span 100s)
      input.addData(ErrEv(1, 250 * s, 3), ErrEv(1, 600 * s, 4),
        ErrEv(1, 650 * s, 5), ErrEv(1, 700 * s, 6))
      q.processAllAvailable()
      val alerts = spark.table("burst_xbatch").as[BurstAlert]
        .collect().sortBy(_.event_id).toSeq
      assert(alerts.map(a => (a.event_id, a.span_ms)) ==
        Seq((3L, 250 * s), (6L, 100 * s)),
        s"expected alerts on events 3 and 6, got $alerts")
    } finally q.stop()
  }

  test("seasonal baseline spans micro-batches: a cell scored in batch 2 " +
      "uses moments accumulated in batch 1, and the sqrt(2)-sigma cut " +
      "matches the exact-integer inequality") {
    import spark.implicits._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{CellObs, SeasonAlert}
    val tmp = java.nio.file.Files.createTempDirectory("graft-season").toString
    val input = MemoryStream[CellObs](spark)
    val q = input.toDS().groupByKey(c => (c.dow, c.hr))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(StreamingOps.seasonalFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("season_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      // batch 1: three ordinary Monday-9am cells — priors only (the
      // first two are below the n >= 2 scoring floor; the third has
      // dev² = (2·11−22)² = 0).
      input.addData(CellObs(0, 9, "2024-01-01", 10),
        CellObs(0, 9, "2024-01-08", 12), CellObs(0, 9, "2024-01-15", 11))
      q.processAllAvailable()
      // batch 2: cnt=11 sits on the prior mean (no alert: dev = 0);
      // cnt=60 against priors n=4, s=44, ss=486: dev = 4·60−44 = 196,
      // varn = 4·486 − 44² = 8 → 196² > 2·8 fires, z = 196/√8.
      input.addData(CellObs(0, 9, "2024-01-22", 11),
        CellObs(0, 9, "2024-01-29", 60))
      q.processAllAvailable()
      val alerts = spark.table("season_xbatch").as[SeasonAlert]
        .collect().toSeq
      assert(alerts.map(a => (a.dt, a.cnt, a.n_prior)) ==
        Seq(("2024-01-29", 60L, 4L)), s"expected one alert, got $alerts")
      assert(math.abs(alerts.head.z - 196.0 / math.sqrt(8.0)) < 1e-12)
      assert(alerts.head.mean_prior == 11.0)
    } finally q.stop()
  }

  test("hll register fold spans micro-batches: the streamed sketch " +
      "equals q126's batch aggregate bit-for-bit on the same rows — " +
      "register max is arrival-order-insensitive, so there is no " +
      "batch-vs-stream divergence window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{HashObs, HllSnapshot}
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("key"),
        conv(substring(md5(encode(col("o_custkey").cast("string"),
          "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
      .as[HashObs].collect()
    // deliberately uneven split so batch 2 revisits every key
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val input = MemoryStream[HashObs](spark)
    val q = input.toDS().groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(StreamingOps.hllFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hll_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // Update-mode memory sink appends one snapshot per key per batch;
      // the estimate only grows (registers are monotone), so the max
      // per key is the final state
      val streamed = spark.table("hll_xbatch").as[HllSnapshot]
        .collect().groupBy(_.key).view
        .mapValues(_.maxBy(_.estimate)).toMap
      val batch = graft.SparkEntry.queries("q126_hll_agg")(spark, dir)
        .collect().map(r => r.getAs[String]("priority") ->
          (r.getAs[Long]("n_buckets_hit"), r.getAs[Double]("hll_estimate")))
        .toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, snap) =>
        assert((snap.n_buckets_hit.toLong, snap.estimate) == batch(k),
          s"key=$k streamed=$snap batch=${batch(k)}")
      }
    } finally q.stop()
  }

  test("cms fold spans micro-batches: the streamed counter matrix " +
      "equals the batch cms_sketch_agg bit-for-bit on the same rows — " +
      "counter add is arrival-order-insensitive, so there is no " +
      "batch-vs-stream divergence window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{CmsObs, CmsSnapshot}
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type").as("key"),
        conv(substring(md5(encode(col("user_id").cast("string"),
          "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
      .as[CmsObs].collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val input = MemoryStream[CmsObs](spark)
    val q = input.toDS().groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(StreamingOps.cmsFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("cms_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // the final snapshot per key is the one with the most observations
      val streamed = spark.table("cms_xbatch").as[CmsSnapshot]
        .collect().groupBy(_.key).view
        .mapValues(_.maxBy(_.n_obs)).toMap
      val batch = graft.Tables.events(spark, dir)
        .select(col("event_type").as("key"),
          conv(substring(md5(encode(col("user_id").cast("string"),
            "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
        .groupBy(col("key"))
        .agg(expr("cms_sketch_agg(h, 4, 64)").as("m"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getAs[String]("key") ->
          (r.getSeq[Long](1).toArray, r.getAs[Long]("n"))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, snap) =>
        val (m, n) = batch(k)
        assert(snap.n_obs == n, s"key=$k")
        assert(snap.matrix_sig == CmsSnapshot.signature(m),
          s"key=$k streamed=$snap")
        assert(snap.n_nonzero == m.count(_ > 0L))
      }
    } finally q.stop()
  }

  test("top-k fold spans micro-batches: the streamed bounded state " +
      "equals the batch graft_topk aggregate on the same rows — top-k " +
      "of a union is the top-k of top-ks, so arrival order is " +
      "irrelevant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{TopKObs, TopKSnapshot}
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type").as("key"), col("value").as("v"),
        col("event_id").as("id"))
      .as[TopKObs].collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-topk").toString
    val input = MemoryStream[TopKObs](spark)
    val q = input.toDS().groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(StreamingOps.topkFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("topk_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // Update mode appends one snapshot per key per batch; batch 2's
      // snapshot folds the full history (values only improve), so take
      // the LAST per key (max top head value, then lexicographic)
      val streamed = spark.table("topk_xbatch").as[TopKSnapshot]
        .collect().groupBy(_.key).view
        .mapValues(_.maxBy(s => s.top.map(p => (p._1, -p._2)).toIndexedSeq)(
          Ordering.Implicits.seqOrdering[IndexedSeq, (Double, Long)]))
        .toMap
      val batch = graft.Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(expr("graft_topk(value, event_id, 5)").as("top"))
        .collect().map(r => r.getAs[String]("event_type") ->
          r.getSeq[org.apache.spark.sql.Row](1)
            .map(p => (p.getDouble(0), p.getLong(1)))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, snap) =>
        assert(snap.top == batch(k), s"key=$k streamed=${snap.top}")
      }
    } finally q.stop()
  }

  test("simhash fold spans micro-batches: the streamed fingerprint " +
      "equals the batch simhash_agg on the same rows — bit votes add, " +
      "so arrival order is irrelevant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{SimObs, SimSnapshot}
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type").as("key"),
        conv(substring(md5(encode(col("user_id").cast("string"),
          "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
      .as[SimObs].collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-sim").toString
    val input = MemoryStream[SimObs](spark)
    val q = input.toDS().groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        StreamingOps.simhashFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sim_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("sim_xbatch").as[SimSnapshot]
        .collect().groupBy(_.key).view.mapValues(_.maxBy(_.n_obs)).toMap
      val batch = graft.Tables.events(spark, dir)
        .select(col("event_type").as("key"),
          conv(substring(md5(encode(col("user_id").cast("string"),
            "UTF-8")), 1, 15), 16, 10).cast("long").as("h"))
        .groupBy(col("key"))
        .agg(expr("simhash_agg(h)").as("fp"), count(lit(1)).as("n"))
        .collect().map(r => r.getAs[String]("key") ->
          (r.getAs[Long]("fp"), r.getAs[Long]("n"))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, snap) =>
        assert((snap.fingerprint, snap.n_obs) == batch(k), s"key=$k")
      }
    } finally q.stop()
  }

  test("quantile fold spans micro-batches: the streamed KMV estimates " +
      "equal the batch quantile_sketch on the same rows — bottom-k of " +
      "a union is the bottom-k of bottom-ks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{QuantObs, QuantSnapshot}
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type").as("key"),
        conv(substring(md5(encode(col("event_id").cast("string"),
          "UTF-8")), 1, 15), 16, 10).cast("long").as("h"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .as[QuantObs].collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-quant").toString
    val input = MemoryStream[QuantObs](spark)
    val q = input.toDS().groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        StreamingOps.quantileFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("quant_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("quant_xbatch").as[QuantSnapshot]
        .collect().groupBy(_.key).view.mapValues(_.maxBy(_.n_sample)).toMap
      val batch = graft.Tables.events(spark, dir)
        .select(col("event_type").as("key"),
          conv(substring(md5(encode(col("event_id").cast("string"),
            "UTF-8")), 1, 15), 16, 10).cast("long").as("h"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
        .groupBy(col("key"))
        .agg(expr("quantile_sketch(h, v, 128, 0.5, 0.9)").as("qs"))
        .collect().map(r => r.getAs[String]("key") ->
          r.getSeq[Double](1)).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (k, snap) =>
        assert(Seq(snap.p50, snap.p90) == batch(k), s"key=$k $snap")
      }
    } finally q.stop()
  }

  test("bitmap fold spans micro-batches: the streamed exact distinct " +
      "equals the batch bitmap_agg on the same rows — bit-OR is " +
      "arrival-order-insensitive") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{BitmapObs, BitmapSnapshot}
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(spark, dir)
      .select(col("event_type").as("key"), col("user_id").as("id"))
      .as[BitmapObs].collect()
    val (b1, b2) = rows.splitAt(rows.length / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm").toString
    val input = MemoryStream[BitmapObs](spark)
    val q = input.toDS().groupByKey(_.key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        StreamingOps.bitmapFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("bm_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // distinct count only grows, so the max per key is the final state
      val streamed = spark.table("bm_xbatch").as[BitmapSnapshot]
        .collect().groupBy(_.key).view
        .mapValues(_.map(_.n_distinct).max).toMap
      val batch = graft.Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(expr("bitmap_count(bitmap_agg(user_id))").as("nd"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("coverage fold spans micro-batches: the streamed rolling backtest " +
      "equals q145's batch rows bit-for-bit on an in-order weekly " +
      "replay, and the judged week never sees its own data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{WeekCell, CoverageSnapshot}
    val dir = "/root/testdata/sf0.001"
    val cells = graft.Tables.orders(spark, dir)
      .select(expr("CAST(datediff(o_orderdate, DATE '1992-01-01') " +
          "AS BIGINT) div 7").as("wk"),
        graft.Parity.cents2(col("o_totalprice")).as("cents"))
      .groupBy(col("wk"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("revenue").as("key"), col("wk"), col("cents"),
        col("cnt"))
      .as[WeekCell].collect().sortBy(c => (c.wk, c.cents))
    // split on a week boundary so batch 2 scores against state built
    // entirely in batch 1
    val weeks = cells.map(_.wk).distinct.sorted
    val cut = weeks(weeks.length / 2)
    val (b1, b2) = cells.partition(_.wk < cut)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cov").toString
    val input = MemoryStream[WeekCell](spark)
    val q = input.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(StreamingOps.coverageFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cov_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("cov_xbatch").as[CoverageSnapshot]
        .collect().map(s => s.wk ->
          (s.n_prior, s.p10, s.p90, s.n_cur, s.n_inside, s.coverage))
        .toMap
      val batch = graft.SparkEntry
        .queries("q145_quantile_coverage")(spark, dir)
        .collect().map(r => r.getAs[Long]("wk") ->
          (r.getAs[Long]("n_prior"), r.getAs[Long]("p10"),
            r.getAs[Long]("p90"), r.getAs[Long]("n_cur"),
            r.getAs[Long]("n_inside"), r.getAs[Double]("coverage")))
        .toMap
      assert(streamed == batch,
        s"stream-batch divergence: ${streamed.size} vs ${batch.size}")
      // each scoreable week emitted exactly once across both batches
      assert(spark.table("cov_xbatch").count() == batch.size.toLong)
    } finally q.stop()
  }

  test("cusum fold spans micro-batches: fed q127's calibration products " +
      "(mul=10n, ref=11T, h=20T), the streamed fixed-reference CUSUM " +
      "equals the batch prefix-minus-running-min rows bit-for-bit on an " +
      "in-order daily replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{DayTotal, CusumAlert}
    val dir = "/root/testdata/sf0.001"
    val daily = graft.Tables.orders(spark, dir)
      .select(datediff(col("o_orderdate").cast("date"),
        to_date(lit("1970-01-01"))).cast("long").as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("day")).agg(sum(col("cents")).as("x"))
      .select(lit("revenue").as("key"), col("day"), col("x"))
      .as[DayTotal].collect().sortBy(_.day)
    val n = daily.length.toLong
    val t = daily.map(_.x).sum
    val (mul, ref, h) = (10L * n, 11L * t, 20L * t)
    val cut = daily(daily.length / 2).day
    val (b1, b2) = daily.partition(_.day < cut)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    val input = MemoryStream[DayTotal](spark)
    val q = input.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(StreamingOps.cusumFold(mul, ref, h) _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cusum_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("cusum_xbatch").as[CusumAlert]
        .collect().map { a =>
          val dt = java.time.LocalDate.ofEpochDay(a.day).toString
          dt -> (a.x, a.s.toDouble / (10.0 * n.toDouble), a.is_drift)
        }.toMap
      val batch = graft.SparkEntry.queries("q127_cusum_drift")(spark, dir)
        .collect().map(r => r.getAs[String]("dt") ->
          (r.getAs[Long]("revenue_cents"), r.getAs[Double]("cusum_cents"),
            r.getAs[Boolean]("is_drift"))).toMap
      assert(streamed == batch,
        s"stream-batch divergence: ${streamed.size} vs ${batch.size}")
      assert(spark.table("cusum_xbatch").count() == n)
    } finally q.stop()
  }

  test("ewmaFold replays q104's weekly cells across two micro-batches " +
      "and reproduces the batch EWMA rows bit-for-bit") {
    import spark.implicits._
    import graft.operators.StreamingOps.{WeekTotal, EwmaPoint}
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // q104's weekly carrier, recomputed independently: per (region,
    // week) order-total cents
    val geo = graft.Tables.nation(spark, dir)
      .join(graft.Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("r_name"))
    val weekly = graft.Tables.orders(spark, dir)
      .select(col("o_custkey"),
        (datediff(col("o_orderdate"), lit("1970-01-01")) / 7)
          .cast("long").as("wk"),
        graft.Parity.cents2(col("o_totalprice")).as("c"))
      .join(graft.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(geo, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("r_name"), col("wk"))
      .agg(sum(col("c")).as("cents"))
      .collect().map(r =>
        WeekTotal(r.getString(0), r.getLong(1), r.getLong(2)))
    val cut = weekly.map(_.wk).sorted.apply(weekly.length / 2)
    val (b1, b2) = weekly.partition(_.wk < cut)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ewma").toString
    val input = MemoryStream[WeekTotal](spark)
    val q = input.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        graft.operators.StreamingOps.ewmaFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ewma_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("ewma_xbatch").as[EwmaPoint].collect()
        .map(p => (p.key, p.wk) -> (p.revenue, p.ewma_revenue)).toMap
      val batch = graft.SparkEntry.queries("q104_ewma_revenue")(spark, dir)
        .collect().map(r => (r.getAs[String]("r_name"),
          r.getAs[Long]("wk")) ->
          (r.getAs[Double]("revenue"), r.getAs[Double]("ewma_revenue")))
        .toMap
      assert(streamed == batch,
        s"stream-batch divergence: ${streamed.size} vs ${batch.size}")
    } finally q.stop()
  }

  test("stateful query runs on the RocksDB state store (the bounded-memory " +
      "store for 100 TB-scale state)") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-rocks").toString
      val input = MemoryStream[Long](spark)
      def fn(user: Long, rows: Iterator[Long],
          state: GroupState[Int]): Iterator[Hit] = {
        val total = state.getOption.getOrElse(0) + rows.size
        state.update(total)
        Iterator.single(Hit(user, total))
      }
      val q = input.toDS().groupByKey(identity)
        .flatMapGroupsWithState(OutputMode.Update,
          GroupStateTimeout.NoTimeout)(fn)
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("rocks_state")
        .option("checkpointLocation", s"$tmp/chk").start()
      try {
        input.addData(1L, 1L, 2L)
        q.processAllAvailable()
        input.addData(1L)
        q.processAllAvailable()
        val latest = spark.table("rocks_state").as[Hit].collect()
          .groupBy(_.user).view.mapValues(_.map(_.n).max).toMap
        assert(latest == Map(1L -> 3, 2L -> 1))
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
  test("transformWithState (Spark 4 arbitrary-state API): ValueState " +
      "accumulates per key across micro-batches on RocksDB") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // transformWithState requires the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-tws").toString
      val input = MemoryStream[Long](spark)
      val q = input.toDS().groupByKey(identity)
        .transformWithState(new StatefulStreamSpec.CountProcessor,
          TimeMode.None(), OutputMode.Update())
        .writeStream.outputMode(OutputMode.Update)
        .format("memory").queryName("tws_state")
        .option("checkpointLocation", s"$tmp/chk").start()
      try {
        input.addData(1L, 1L, 2L)
        q.processAllAvailable()
        input.addData(1L, 2L)
        q.processAllAvailable()
        val latest = spark.table("tws_state").as[Hit].collect()
          .groupBy(_.user).view.mapValues(_.map(_.n).max).toMap
        assert(latest == Map(1L -> 3, 2L -> 2))
      } finally q.stop()
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("holtWintersFold replays q189's dense daily series across two " +
      "micro-batches and the final state reproduces the batch forecast " +
      "bit-for-bit") {
    import spark.implicits._
    import graft.operators.StreamingOps.{DayTotal, HwPoint}
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    // q189's carrier recomputed independently: dense zero-filled daily
    // order-total cents over the observed calendar
    val daily = graft.Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
        .as("cents"))
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay,
        r.getLong(1))).toMap
    val days = daily.keys.min to daily.keys.max
    val series = days.map(d =>
      DayTotal("revenue", d, daily.getOrElse(d, 0L))).toIndexedSeq
    val cut = series(series.length / 2).day
    val (b1, b2) = series.partition(_.day < cut)
    val tmp = java.nio.file.Files.createTempDirectory("graft-hw").toString
    val input = MemoryStream[DayTotal](spark)
    val q = input.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        graft.operators.StreamingOps.holtWintersFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("hw_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val pts = spark.table("hw_xbatch").as[HwPoint].collect()
      assert(pts.length === series.length - 14,
        "one point per post-warm-up day")
      val last = pts.maxBy(_.day)
      // the batch final state's 7-day forecast, recomputed with the
      // identical expression from the streamed final state
      val batch = graft.SparkEntry.queries("q189_holt_winters")(spark, dir)
        .collect().map(r => r.getAs[Long]("h") ->
          (r.getAs[Double]("forecast"), r.getAs[Double]("level"),
            r.getAs[Double]("trend"), r.getAs[Double]("rmse"))).toMap
      (1 to 7).foreach { h =>
        val fc = last.level + h.toDouble * last.trend +
          last.seasonal((last.i + h - 1) % 7)
        assert(batch(h.toLong)._1 === fc / 100.0, s"forecast h=$h")
      }
      assert(batch(1L)._2 === last.level / 100.0)
      assert(batch(1L)._3 === last.trend / 100.0)
      assert(batch(1L)._4 ===
        math.sqrt(last.sse / (last.i - 14).toDouble) / 100.0)
    } finally q.stop()
  }

  test("crostonFold replays q190's intermittent series across two " +
      "micro-batches and the final state matches the batch smoother " +
      "bit-for-bit") {
    import spark.implicits._
    import graft.operators.StreamingOps.{DayTotal, CrostonPoint}
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val li = graft.Tables.lineitem(spark, dir)
    val daily = li.filter(col("l_partkey") === 1)
      .groupBy(col("l_shipdate").cast("date").as("day"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("qty"))
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay,
        r.getLong(1))).toMap
    val bounds = li.agg(min(col("l_shipdate").cast("date")),
      max(col("l_shipdate").cast("date"))).collect().head
    val days = bounds.getDate(0).toLocalDate.toEpochDay to
      bounds.getDate(1).toLocalDate.toEpochDay
    val series = days.map(d =>
      DayTotal("part1", d, daily.getOrElse(d, 0L))).toIndexedSeq
    val cut = series(series.length / 2).day
    val (b1, b2) = series.partition(_.day < cut)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cro").toString
    val input = MemoryStream[DayTotal](spark)
    val q = input.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        graft.operators.StreamingOps.crostonFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("croston_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val pts = spark.table("croston_xbatch").as[CrostonPoint].collect()
      val batch = graft.SparkEntry.queries("q190_croston")(spark, dir)
        .collect().head
      if (batch.isNullAt(batch.fieldIndex("demand_size"))) {
        assert(pts.isEmpty, "no demand days -> no emissions")
      } else {
        val last = pts.maxBy(_.day)
        assert(last.demand_size === batch.getAs[Double]("demand_size"))
        assert(last.mean_interval === batch.getAs[Double]("mean_interval"))
        assert(last.demand_size / last.mean_interval ===
          batch.getAs[Double]("croston_rate"))
        assert(last.n_demands === batch.getAs[Long]("n_demands"))
        assert(pts.length.toLong === last.n_demands,
          "exactly one point per demand day (zero days emit nothing)")
      }
    } finally q.stop()
  }

  test("holtWintersFold and crostonFold drop replayed/out-of-order days " +
      "(lastDay guard): an at-least-once redelivery leaves state " +
      "identical to the clean in-order fold") {
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{DayTotal, HwState, CrostonState}
    import org.apache.spark.sql.streaming.{TestGroupState, GroupStateTimeout}
    import org.apache.spark.api.java.Optional
    def state[S](prev: Option[S]): TestGroupState[S] =
      TestGroupState.create[S](
        prev.map(Optional.of[S]).getOrElse(Optional.empty[S]()),
        GroupStateTimeout.NoTimeout, 0L, Optional.empty(), false)
    val series = (0L until 45L).map(d =>
      DayTotal("k", d, 100L + (d * 37L) % 50L))
    // clean reference: everything in one in-order batch
    val hwClean = state[HwState](None)
    val cleanPts = StreamingOps.holtWintersFold("k", series.iterator,
      hwClean).toVector
    // faulty run: batch 1 = days 0..39; batch 2 REPLAYS days 30..39
    // (at-least-once redelivery after a failure) before days 40..44
    val hwDirty = state[HwState](None)
    StreamingOps.holtWintersFold("k", series.take(40).iterator, hwDirty)
    val dirty2 = state[HwState](Some(hwDirty.get))
    val pts2 = StreamingOps.holtWintersFold("k",
      (series.slice(30, 40) ++ series.drop(40)).iterator, dirty2).toVector
    assert(pts2.map(_.day) === (40L until 45L).toVector,
      "replayed days must emit nothing")
    assert(dirty2.get === hwClean.get,
      "state after replay must equal the clean in-order fold")
    assert(cleanPts.filter(_.day >= 40L) === pts2)
    // croston: intermittent series (demand every 3rd day)
    val cro = (0L until 45L).map(d =>
      DayTotal("k", d, if (d % 3L == 0L) 4L + (d % 7L) else 0L))
    val cClean = state[CrostonState](None)
    val cCleanPts = StreamingOps.crostonFold("k", cro.iterator,
      cClean).toVector
    val cDirty = state[CrostonState](None)
    StreamingOps.crostonFold("k", cro.take(40).iterator, cDirty)
    val cDirty2 = state[CrostonState](Some(cDirty.get))
    val cPts2 = StreamingOps.crostonFold("k",
      (cro.slice(30, 40) ++ cro.drop(40)).iterator, cDirty2).toVector
    assert(cDirty2.get === cClean.get,
      "croston state after replay must equal the clean fold " +
        "(gap counter not double-advanced)")
    assert(cCleanPts.filter(_.day >= 40L) === cPts2)
    // SAME-BATCH duplicates: a producer-retry duplicate landing in the
    // same micro-batch as the original must fold once, not twice (the
    // guard reads st.lastDay per row, not once at batch entry)
    val hwDup = state[HwState](None)
    val dupPts = StreamingOps.holtWintersFold("k",
      (series ++ series.slice(20, 25)).iterator, hwDup).toVector
    assert(hwDup.get === hwClean.get,
      "in-batch duplicate days must not double-fold HW state")
    assert(dupPts === cleanPts)
    val cDup = state[CrostonState](None)
    StreamingOps.crostonFold("k",
      (cro ++ cro.slice(20, 25)).iterator, cDup)
    assert(cDup.get === cClean.get,
      "in-batch duplicate days must not double-advance the gap counter")
  }

  test("cfFold maintains item-CF counts across micro-batches with " +
      "replayed purchases; scoring the accumulated deltas equals the " +
      "batch itemCfScores bit-for-bit") {
    import spark.implicits._
    import graft.operators.StreamingOps.{CfEvent, CfDelta}
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(41)
    val purchases = (for {
      c <- 0L until 25L
      b <- 0 until 12 if rnd.nextDouble() < 0.3
    } yield CfEvent(c, s"B$b")).toVector
    val (b1, rest) = purchases.splitAt(purchases.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-cf").toString
    val input = MemoryStream[CfEvent](spark)
    val q = input.toDS().groupByKey(_.c)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(graft.operators.StreamingOps.cfFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cf_deltas")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      // at-least-once chaos: batch 2 REPLAYS all of batch 1 first
      input.addData(b1 ++ b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      val deltas = spark.table("cf_deltas").as[CfDelta]
      val nPer = deltas.filter(col("kind") === "own")
        .groupBy(col("bi").as("brand")).agg(count(lit(1)).as("n"))
      val co = deltas.filter(col("kind") === "co")
        .groupBy(col("bi"), col("bj")).agg(count(lit(1)).as("co"))
      val rMat = purchases.distinct.toDF("c", "brand")
      val target = col("c") % 2 === 0
      val streamed = graft.operators.Graph
        .itemCfScoresFromCounts(rMat, nPer, co, target).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val batch = graft.operators.Graph
        .itemCfScores(rMat, target).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(streamed === batch,
        "incremental co-occurrence == batch self-join, scored identically")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("wedgeFold maintains the wedge set across micro-batches with " +
      "replayed edges; scoring the accumulated frames equals the batch " +
      "linkPredictionScores bit-for-bit") {
    import spark.implicits._
    import graft.operators.StreamingOps.{AdjEvent, WedgeDelta}
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(43)
    val n = 22
    val edges = (for (i <- 0L until n; j <- (i + 1) until n
      if rnd.nextDouble() < 0.2) yield (i, j)).toVector
    // route each undirected edge to BOTH endpoints
    def adj(es: Seq[(Long, Long)]): Seq[AdjEvent] =
      es.flatMap { case (a, b) => Seq(AdjEvent(a, b), AdjEvent(b, a)) }
    val (e1, rest) = edges.splitAt(edges.size / 3)
    val (e2, e3) = rest.splitAt(rest.size / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-wedge").toString
    val input = MemoryStream[AdjEvent](spark)
    val q = input.toDS().groupByKey(_.v)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(graft.operators.StreamingOps.wedgeFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wedge_deltas")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(adj(e1): _*); q.processAllAvailable()
      input.addData(adj(e1 ++ e2): _*); q.processAllAvailable() // replay
      input.addData(adj(e3): _*); q.processAllAvailable()
      val deltas = spark.table("wedge_deltas").as[WedgeDelta]
      val wedges = deltas.filter(col("kind") === "wedge")
        .select(col("a"), col("b"), col("z"))
      // adjacency rows carry (v, nb) in (a, b); undirected e = a < b
      val e = deltas.filter(col("kind") === "adj" && col("a") < col("b"))
        .select(col("a").as("pa"), col("b").as("pb"))
      val deg = deltas.filter(col("kind") === "adj")
        .groupBy(col("a").as("pa")).agg(count(lit(1)).as("deg"))
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("a"), r.getAs[Long]("b")) ->
          (r.getAs[Long]("cn"), r.getAs[Long]("ra_fp"),
            r.getAs[Long]("deg_a"), r.getAs[Long]("deg_b"),
            r.getAs[Double]("jaccard"), r.getAs[Double]("ra"))
      val streamed = graft.operators.Graph
        .linkPredictionFromWedges(wedges, e, deg).collect().map(key).toMap
      val batch = graft.operators.Graph
        .linkPredictionScores(edges.toDF("pa", "pb")).collect()
        .map(key).toMap
      assert(streamed === batch,
        "incremental wedge maintenance == batch wedge join, " +
          "scored identically (RA on final degrees)")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("weeklyPairFold maintains the weekly (revenue, orders) carrier " +
      "across micro-batches with replayed orders; scoring it equals " +
      "the batch q200 Granger output bit-for-bit") {
    import spark.implicits._
    import graft.operators.StreamingOps.{WkOrder, WkRow}
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // order-level events: one (week, orderkey, exact cents) per order
    val orders = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(expr(
        "CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT) div 7")
        .as("w"), col("l_orderkey").as("okey"))
      .agg(expr("sum(CAST(round(l_extendedprice * 100) AS BIGINT))")
        .as("cents"))
      .as[WkOrder].collect().toVector
    val (b1, rest) = orders.splitAt(orders.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 3)
    val tmp = java.nio.file.Files.createTempDirectory("graft-wk").toString
    val input = MemoryStream[WkOrder](spark)
    val q = input.toDS().groupByKey(_.w)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        graft.operators.StreamingOps.weeklyPairFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("wk_rows")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      // at-least-once chaos: batch 2 REPLAYS all of batch 1 first
      input.addData(b1 ++ b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
      // per week both values are monotone: latest == max
      val weekly = spark.table("wk_rows").as[WkRow]
        .groupBy(col("w")).agg(max(col("yv")).as("yv"),
          max(col("xv")).as("xv"))
      val streamed = graft.operators.Forecasting
        .grangerFromWeekly(weekly).collect()
      val batch = graft.SparkEntry
        .queries("q200_granger_causality")(spark, sf).collect()
      assert(streamed.toSeq === batch.toSeq,
        "incremental weekly carrier == batch carrier, scored identically")
      assert(batch.head.getAs[Long]("n_weeks") > 10L)
    } finally q.stop()
  }

  test("pageHinkleyFold replays q202's observed daily series across " +
      "micro-batches (calibration buffer straddling the cut) and the " +
      "emitted points equal the batch rows bit-for-bit; replayed days " +
      "drop") {
    import spark.implicits._
    import graft.operators.StreamingOps.{DayTotal, PhPoint, PhState}
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // q202's carrier recomputed independently: OBSERVED daily order
    // totals in cents (no zero-fill — PH runs on observed days)
    val series = graft.Tables.orders(spark, sf)
      .groupBy(expr("datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01')")
        .as("day"))
      .agg(sum(round(col("o_totalprice") * lit(100)).cast("long"))
        .as("cents"))
      .orderBy(col("day"))
      .collect().map(r => DayTotal("rev", r.getInt(0).toLong, r.getLong(1)))
      .toIndexedSeq
    assert(series.length > 60, "needs calibration + steady-state days")
    // cut INSIDE the 30-day calibration window: the buffer must
    // survive the state round-trip and the retro replay must emit
    // rows from both micro-batches
    val (b1, b2) = series.splitAt(17)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ph").toString
    val input = MemoryStream[DayTotal](spark)
    val q = input.toDS().groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(
        graft.operators.StreamingOps.pageHinkleyFold _)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ph_points")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      assert(spark.table("ph_points").count() === 0L,
        "still calibrating after 17 days: nothing emitted")
      // ...but the calibrating state is observable, not silent
      assert(graft.metrics.GraftMetrics.snapshot().exists { case (k, v) =>
        k.startsWith("PageHinkleyCalibrating[series=rev]") && v > 0L },
        "a calibrating series must bump the PageHinkleyCalibrating counter")
      // at-least-once chaos: batch 2 replays all of batch 1 first
      input.addData(b1 ++ b2: _*); q.processAllAvailable()
      val pts = spark.table("ph_points").as[PhPoint].collect()
        .map(p => p.dt -> ((p.revenue_cents, p.ph_cents, p.is_alarm)))
        .toMap
      val batch = graft.SparkEntry.queries("q202_page_hinkley")(spark, sf)
        .collect()
        .map(r => r.getAs[String]("dt") ->
          ((r.getAs[Long]("revenue_cents"), r.getAs[Double]("ph_cents"),
            r.getAs[Boolean]("is_alarm"))))
        .toMap
      assert(pts.size === series.length, "one point per observed day")
      assert(pts === batch,
        "streamed Page–Hinkley rows == batch rows bit-for-bit")
      assert(pts.values.exists(_._3) && pts.values.exists(!_._3),
        "both alarm states exercised")
    } finally q.stop()
    // pure-fold replay guard: a stale redelivery across batches drops
    // (idempotent under at-least-once) and state matches the clean fold
    locally {
      import org.apache.spark.sql.streaming.{TestGroupState, GroupStateTimeout}
      import org.apache.spark.api.java.Optional
      def state[S](prev: Option[S]): TestGroupState[S] =
        TestGroupState.create[S](
          prev.map(Optional.of[S]).getOrElse(Optional.empty[S]()),
          GroupStateTimeout.NoTimeout, 0L, Optional.empty(), false)
      val stClean = state[PhState](None)
      val clean = graft.operators.StreamingOps.pageHinkleyFold(
        "k", series.take(45).iterator, stClean).toVector
      assert(clean.size === 45)
      val st1 = state[PhState](None)
      graft.operators.StreamingOps.pageHinkleyFold(
        "k", series.take(40).iterator, st1)
      val st2 = state[PhState](Some(st1.get))
      val dup = graft.operators.StreamingOps.pageHinkleyFold(
        "k", (series.slice(35, 40) ++ series.slice(40, 45)).iterator,
        st2).toVector
      assert(dup.map(_.dt) === series.slice(40, 45).map(d =>
        java.time.LocalDate.ofEpochDay(d.day).toString).toVector,
        "replayed days 36-40 drop; only the five new days emit")
      assert(st2.get === stClean.get,
        "state after replay must equal the clean in-order fold")
      assert(clean.takeRight(5) === dup)
    }
  }

  test("entropyRateFold maintains t50's per-language bigram entropy " +
      "rate across a mid-corpus micro-batch cut and the final streamed " +
      "snapshot equals the batch t50 row bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{BigramObs, EntropySnapshot}
    val dir = "/root/testdata/sf0.001"
    // t50's carrier recomputed independently: in-order bigram
    // observations per document
    val obs = graft.Tables.documents(spark, dir)
      .select(col("lang"),
        expr("filter(split(trim(text), ' '), x -> x <> '')").as("ws"))
      .select(col("lang"), explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(0, size(ws) - 2), " +
          "i -> struct(ws[i] AS w1, ws[i+1] AS w2)) ELSE array() END"))
        .as("g"))
      .select(col("lang"), col("g.w1").as("w1"), col("g.w2").as("w2"))
      .as[BigramObs].collect()
    assert(obs.length > 100, "needs a real bigram stream")
    // mid-corpus cut: both batches touch most languages
    val (b1, b2) = obs.splitAt(obs.length / 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ent").toString
    val input = MemoryStream[BigramObs](spark)
    val q = input.toDS().groupByKey(_.lang)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        StreamingOps.entropyRateFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("ent_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      val mid = spark.table("ent_xbatch").as[EntropySnapshot].collect()
      assert(mid.nonEmpty && mid.forall(_.n_bigrams > 0L))
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      // counts only grow: the max-n_bigrams snapshot per lang is the
      // final state
      val streamed = spark.table("ent_xbatch").as[EntropySnapshot]
        .collect().groupBy(_.lang).view
        .mapValues(_.maxBy(_.n_bigrams)).toMap
      val batch = graft.SparkEntry.queries("t50_entropy_rate")(spark, dir)
        .collect().map(r => r.getAs[String]("lang") ->
          ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("n_contexts"),
            r.getAs[Long]("n_types"), r.getAs[Double]("nats_total"),
            r.getAs[Double]("entropy_rate_bits")))).toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (lang, s) =>
        assert((s.n_bigrams, s.n_contexts, s.n_types, s.nats_total,
          s.entropy_rate_bits) === batch(lang),
          s"streamed t50 row for $lang must equal batch bit-for-bit")
      }
    } finally q.stop()
  }

  test("sceneCutFold replays m14's frame timelines across micro-" +
      "batches (cut mid-timeline) and the final snapshots equal the " +
      "batch scene-cut rows bit-for-bit; replayed frames drop") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.StreamingOps
    import graft.operators.StreamingOps.{FrameObs, SceneSnapshot}
    import graft.operators.Multimodal.{MediaIn, MultimodalStub}
    val dir = "/root/testdata/sf0.001"
    val frames = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .where(length(col("payload")) > 0)
      .as[MediaIn].collect()
      .flatMap(m => MultimodalStub.frameHashes(m))
      .map(f => FrameObs(f.doc_id, f.frame_idx, f.ahash))
      .sortBy(f => (f.doc_id, f.frame_idx))
    assert(frames.length > 200, "needs real frame timelines")
    // cut INSIDE timelines: split by global position, so most docs
    // straddle the micro-batch boundary mid-timeline
    val (b1, b2) = frames.splitAt(frames.length / 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-scene").toString
    val input = MemoryStream[FrameObs](spark)
    val q = input.toDS().groupByKey(_.doc_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        StreamingOps.sceneCutFold _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("scene_xbatch")
      .option("checkpointLocation", s"$tmp/chk").start()
    try {
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      // at-least-once chaos: batch 2 replays all of batch 1 first —
      // the lastIdx guard must drop every replayed frame
      input.addData((b1 ++ b2).toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("scene_xbatch").as[SceneSnapshot]
        .collect().groupBy(_.doc_id).view
        .mapValues(_.maxBy(_.n_frames)).toMap
      val batch = graft.SparkEntry.queries("m14_scene_cuts")(spark, dir)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_frames"), r.getAs[Long]("n_cuts"),
            r.getAs[Long]("n_scenes"),
            r.getAs[Double]("mean_scene_frames")))).toMap
      assert(streamed.keySet === batch.keySet)
      streamed.foreach { case (doc, s) =>
        assert((s.n_frames, s.n_cuts, s.n_scenes, s.mean_scene_frames)
          === batch(doc),
          s"streamed m14 row for doc $doc must equal batch bit-for-bit")
      }
      assert(streamed.values.exists(_.n_cuts > 0L),
        "the corpus must exercise at least one detected cut")
    } finally q.stop()
  }
}

object StatefulStreamSpec {
  case class Hit(user: Long, n: Int)

  /** Per-key running count on the transformWithState ValueState API. */
  class CountProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Long, Hit] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var count: ValueState[Int] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Int]("count",
        org.apache.spark.sql.Encoders.scalaInt, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Long],
        timerValues: TimerValues): Iterator[Hit] = {
      val total = Option(count.get()).getOrElse(0) + rows.size
      count.update(total)
      Iterator.single(Hit(key, total))
    }
  }
}
