package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The spill-safety claim behind the doc-frequency window (DedupOps
  * scaladoc): a hot shingle's partition buffer must degrade to DISK,
  * not OOM, and spilling must not change results. Forced here by
  * shrinking the window buffer thresholds to a few rows — every
  * partition then takes the ExternalAppendOnlyUnsafeRowArray spill
  * path the 100 TB stop-shingle scenario would take.
  */
class DedupResilienceSpec extends SparkSpec {

  test("d03 under forced window-buffer spill: bytes hit disk, results " +
      "unchanged") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("d03_ngram_jaccard_pairs")
    val baseline = q(spark, d).collect().toSeq

    val spilled = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { spilled.addAndGet(m.diskBytesSpilled); () }
      }
    }
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.sparkContext.addSparkListener(listener)
    try {
      keys.foreach(spark.conf.set(_, "4"))
      val under = q(spark, d).collect().toSeq
      Thread.sleep(500) // drain task-end events off the async listener bus
      assert(under == baseline, "spilling changed the result")
      assert(spilled.get() > 0,
        "thresholds of 4 rows must force actual disk spill")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("d12 under forced sort-based aggregation fallback " +
      "(ObjectHashAggregate fallbackThreshold = 1): results unchanged") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("d12_passage_dedup_keep_first")
    val baseline = q(spark, d).collect().toSeq
    val k = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "1")
      val under = q(spark, d).collect().toSeq
      assert(under == baseline,
        "sort-based aggregation fallback changed the result")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  test("d05 (simhash_agg) under forced sort-based aggregation fallback: " +
      "the TypedImperativeAggregate's serialize/merge path yields the " +
      "same fingerprints") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("d05_simhash_pairs")
    val baseline = q(spark, d).collect().toSeq
    val k = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(k)
    try {
      spark.conf.set(k, "1")
      val under = q(spark, d).collect().toSeq
      assert(under == baseline,
        "sort-based fallback changed the simhash fingerprints")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  test("q107 under forced window/agg spill thresholds: triangle counts " +
      "unchanged") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("q107_triangle_count")
    val baseline = q(spark, d).collect().toSeq
    val keys = Seq("spark.sql.windowExec.buffer.in.memory.threshold",
      "spark.sql.windowExec.buffer.spill.threshold",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      keys.foreach(spark.conf.set(_, "4"))
      val under = q(spark, d).collect().toSeq
      assert(under == baseline, "spill thresholds changed the result")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("decontaminate() is a reusable surface: custom frames, n-gram " +
      "width, id/text columns; the anti-join yields the clean set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val train = Seq(
      (1L, "a b c d e x y z"),   // shares 4-gram "a b c d" with eval
      (2L, "p q r s t u v w"),   // clean
      (3L, "c d e f g h i j"),   // shares "c d e f"
      (4L, "one two")            // shorter than n: never contaminated
    ).toDF("id", "body")
    val eval = Seq((100L, "a b c d e f g")).toDF("id", "body")
    val hits = graft.operators.DedupOps
      .decontaminate(train, eval, n = 4, idCol = "id", textCol = "body")
    val got = hits.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares "a b c d" + "b c d e"; doc 3 "c d e f" + "d e f g"
    assert(got == Map(1L -> 2L, 3L -> 2L), got.toString)
    val clean = train.join(hits, Seq("id"), "left_anti")
      .select("id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(2L, 4L))
  }

  test("decontaminate corpus-vs-corpus path (broadcastEval = false): " +
      "identical results, and with auto-broadcast off the gram join " +
      "shuffles both hashed-gram sides instead of broadcasting") {
    import spark.implicits._
    val train = (0 until 40).map(i =>
      (i.toLong, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5} w${i % 7} end$i"))
      .toDF("doc_id", "text")
    val eval = (100 until 120).map(i =>
      (i.toLong, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 5} w${i % 3} tail"))
      .toDF("doc_id", "text")
    val viaBroadcast = graft.operators.DedupOps
      .decontaminate(train, eval, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = graft.operators.DedupOps
        .decontaminate(train, eval, n = 3, broadcastEval = false)
      assert(big.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        == viaBroadcast)
      val p = big.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"gram join must shuffle when the eval side is corpus-sized:\n" +
          p.take(1200))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("dedupeAgainst (incremental exact dedup): finds every batch doc " +
      "whose content exists in the corpus, reports the smallest corpus " +
      "id, never shuffles the corpus, and raises on fingerprint-" +
      "collision evidence") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma"), (11L, "delta epsilon"),
      (12L, "alpha beta gamma"), // corpus-internal dup: min id wins
      (13L, "unique corpus doc")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "alpha beta gamma"), // dup of 10 (not 12)
      (101L, "brand new"), // clean
      (102L, "delta epsilon"), // dup of 11
      (103L, "unique corpus doc")).toDF("doc_id", "text")
    val out = graft.operators.DedupOps.dedupeAgainst(corpus, batch)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 10L, 102L -> 11L, 103L -> 13L))
    // plan: the batch side broadcasts; the corpus side reaches the join
    // without any exchange below it
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    val joinIdx = p.indexOf("BroadcastHashJoin")
    val belowJoin = p.substring(joinIdx)
    val streamSide = belowJoin.linesIterator
      .filterNot(_.contains("BroadcastExchange"))
      .takeWhile(l => !l.contains("BroadcastQueryStage") &&
        !l.contains("BroadcastExchange"))
      .mkString("\n")
    assert(!streamSide.contains("Exchange hashpartitioning"),
      s"corpus side must not shuffle below the join:\n$streamSide")
  }

  test("nearDupeAgainst (incremental near dedup): finds batch docs that " +
      "are near- or exact dups of corpus docs with exact Jaccard, " +
      "ignores clean arrivals and batch-internal pairs") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"
    val corpus = Seq(
      (10L, s"$base endA"),
      (11L, "totally different corpus content nothing shared here at all"),
      (12L, "another unrelated doc body entirely made of other words"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, s"$base endB"), // near-dup of 10: 9 shared / 11 union
      (101L, s"$base endA"), // exact dup of 10: jaccard 1.0
      (102L, "completely fresh arrival with novel words only right here"))
      .toDF("doc_id", "text")
    val out = graft.operators.DedupOps.nearDupeAgainst(corpus, batch)
      .orderBy("batch_id", "dup_of")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq(
      (100L, 10L, 9L, 11L, 9.0 / 11.0),
      (101L, 10L, 10L, 10L, 1.0)), out.mkString(", "))
  }

  test("nearDupeAgainst equals the naive cross-split exact-Jaccard model " +
      "on random corpora with planted near-dups (J >= 0.9, where the " +
      "16x4 LSH miss probability is < 1e-9)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def word(i: Int): String = s"w$i"
    (0 until 4).foreach { iter =>
      // corpus: 12 random docs of 60..80 words over a 60-word vocab —
      // long enough that one changed word (<= 3 of >= 58 shingles)
      // keeps J >= (m-3)/(m+3) >= 0.90, where the 16x4-band miss
      // probability really is < 1e-9
      val corpus = (0 until 12).map(i => (i.toLong,
        Seq.fill(60 + rnd.nextInt(21))(word(rnd.nextInt(60))).mkString(" ")))
      // batch: 2 planted near-dups (one word changed at a random
      // position -> J >= 0.9 on 3-gram shingles) + 2 fresh docs
      val planted = (0 until 2).map { j =>
        val src = corpus(rnd.nextInt(corpus.size))._2.split(" ")
        val pos = rnd.nextInt(src.length)
        (100L + j, src.updated(pos, "zz" + j).mkString(" "))
      }
      val fresh = (0 until 2).map(j => (200L + j,
        Seq.fill(25)(word(100 + rnd.nextInt(40))).mkString(" ")))
      val batch = planted ++ fresh
      // naive model: exact Jaccard on word 3-gram shingle sets
      def shingleSet(t: String): Set[Seq[String]] = {
        val w = t.trim.split(" ").toSeq
        (0 to w.size - 3).map(i => w.slice(i, i + 3)).toSet
      }
      val expected = (for {
        (cid, ctext) <- corpus
        (bid, btext) <- batch
        cs = shingleSet(ctext)
        bs = shingleSet(btext)
        inter = (cs & bs).size
        un = (cs | bs).size
        if un > 0 && inter.toDouble / un >= 0.8
      } yield (bid, cid, inter.toLong, un.toLong)).toSet
      val got = graft.operators.DedupOps.nearDupeAgainst(
        corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"))
        .select("batch_id", "dup_of", "inter", "un")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"iter=$iter got=$got expected=$expected")
    }
  }

  test("stripBoilerplate equals the naive chunk-frequency model on random " +
      "corpora with planted shared chunks (order preserved, all-boiler " +
      "docs come back empty)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (0 until 5).foreach { iter =>
      val cw = 3 + rnd.nextInt(3) // chunk width 3..5
      val shared = Seq.fill(cw)("boiler" + iter).mkString(" ")
      val docs = (0 until 14).map { i =>
        val own = Seq.fill(cw * (1 + rnd.nextInt(3)))(
          s"u${i}_${rnd.nextInt(50)}").mkString(" ")
        // ~half the docs carry the shared chunk at a chunk boundary;
        // doc 13 is NOTHING BUT the shared chunk (must come back empty)
        val t =
          if (i == 13) shared
          else if (i % 2 == 0) s"$shared $own"
          else own
        (i.toLong, t)
      }
      def chunksOf(t: String): Seq[String] =
        t.trim.split(" ").grouped(cw).map(_.mkString(" ")).toSeq
      val freq = docs.flatMap { case (id, t) => chunksOf(t).distinct.map((_, id)) }
        .groupBy(_._1).view.mapValues(_.size).toMap
      val expected = docs.map { case (id, t) =>
        val kept = chunksOf(t).filter(c => freq(c) < 2)
        (id, chunksOf(t).size.toLong, (chunksOf(t).size - kept.size).toLong,
          kept.mkString(" "))
      }.toSet
      val got = graft.operators.DedupOps.stripBoilerplate(
        docs.toDF("doc_id", "text"), chunkWords = cw)
        .as[(Long, Long, Long, String)].collect().toSet
      assert(got == expected, s"iter=$iter cw=$cw\ngot=$got\nexp=$expected")
    }
  }

  test("t19's gram index short-circuits docs with <= 7 words to zero " +
      "grams instead of evaluating slice at index 0 (the descending " +
      "sequence(1, 0) guard)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "only seven words in this tiny doc", "srcA"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", "srcB"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.TextOps.sourceGramFps(docs)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!got.contains("srcA"), s"7-word doc must yield no grams: $got")
    assert(got("srcB") == 2, s"9 words -> 2 distinct 8-grams: $got")
  }

  test("growthAccounting attributes churn to a fully-dead calendar day " +
      "and the four series satisfy churned(d) = active(d-1) - retained(d)") {
    import spark.implicits._
    import java.sql.Date
    def day(d: Int) = Date.valueOf(f"2024-01-$d%02d")
    // u1 active d1,d2 then gone; u2 active d1 only; u3 appears d4
    // (resurrection is impossible here; d3 is fully dead but must
    // carry churn = active(d2) = 1). No d5 row: the window ends at
    // d4, so u3's fate is right-censored, not churn.
    val ud = Seq((1L, day(1)), (2L, day(1)), (1L, day(2)), (3L, day(4)))
      .toDF("user_id", "day")
    val got = graft.operators.Behavioral.growthAccounting(ud)
      .orderBy("day")
      .collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0).toLocalDate.toString,
        r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      ("2024-01-01", 2L, 2L, 0L, 0L, 0L),
      ("2024-01-02", 1L, 0L, 1L, 0L, 1L), // u2 churned
      ("2024-01-03", 0L, 0L, 0L, 0L, 1L), // DEAD day: u1's churn lands here
      ("2024-01-04", 1L, 1L, 0L, 0L, 0L)), got.toString)
  }

  test("passageDedupKeepFirst keeps exactly the first corpus-wide " +
      "occurrence of a repeated chunk (d11 would remove both)") {
    import spark.implicits._
    // chunkWords = 4: docs 1 and 2 share their first 4-word chunk;
    // doc 2 also repeats it internally as its second chunk
    val boiler = "alpha beta gamma delta"
    val docs = Seq(
      (1L, s"$boiler one two three four"),
      (2L, s"$boiler $boiler five six seven eight")
    ).toDF("doc_id", "text")
    val got = graft.operators.DedupOps
      .passageDedupKeepFirst(docs, chunkWords = 4)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 2L, 0L, s"$boiler one two three four"),
      (2L, 3L, 2L, "five six seven eight")), got.toString)
  }

  test("zInterleave's pure-arithmetic expression equals true bit " +
      "interleaving (independent bit-ops model) across random 16-bit pairs") {
    import spark.implicits._
    def morton(x: Long, y: Long): Long =
      (0 until 16).foldLeft(0L)((z, i) =>
        z | (((x >> i) & 1L) << (2 * i + 1)) | (((y >> i) & 1L) << (2 * i)))
    val rnd = new scala.util.Random(42)
    val pairs = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val got = pairs.toDF("x", "y")
      .withColumn("z", org.apache.spark.sql.functions.expr(
        graft.operators.Warehouse.zInterleave("x", "y", 16, "div")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) =>
      assert(z == morton(x, y), s"interleave($x, $y): got $z")
    }
  }

  test("e15 Lloyd refinement never increases quantization MSE " +
      "(the k-means descent guarantee)") {
    val rows = SparkEntry.queries("e15_kmeans_refine")(
      spark, "/root/testdata/sf0.001").collect()
    val mses = rows.sortBy(_.getInt(0)).map(_.getDouble(2)).toSeq
    assert(mses.size == 3, s"expected 3 iterations: $mses")
    assert(mses.sliding(2).forall { case Seq(a, b) => b <= a },
      s"MSE must be non-increasing: $mses")
  }

  test("decontaminate equals the naive n-gram intersection model on " +
      "random small-vocabulary corpora (overlap-dense by construction)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def mkDoc(len: Int, vocab: Int): String =
      Seq.fill(len)(s"w${rnd.nextInt(vocab)}").mkString(" ")
    (0 until 6).foreach { iter =>
      val n = 3 + rnd.nextInt(4) // gram width 3..6
      val vocab = 4 + rnd.nextInt(8)
      val docs = (0 until 20).map(i =>
        (i.toLong, mkDoc(8 + rnd.nextInt(30), vocab)))
      val (ev, tr) = docs.partition(_._1 % 5 == 0)
      def gramsOf(t: String): Set[String] = {
        val w = t.trim.split(" ").toSeq
        if (w.size < n) Set.empty
        else (0 to w.size - n).map(i => w.slice(i, i + n).mkString(" ")).toSet
      }
      val evalSet = ev.iterator.flatMap(d => gramsOf(d._2)).toSet
      val expected = tr.map { case (id, t) =>
        id -> (gramsOf(t) & evalSet).size.toLong
      }.filter(_._2 > 0).toMap
      val got = graft.operators.DedupOps.decontaminate(
        tr.toDF("doc_id", "text"), ev.toDF("doc_id", "text"), n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"iter=$iter n=$n vocab=$vocab")
    }
  }

  test("d21 under forced sort-merge-join buffer spill: the winnow pair " +
      "join degrades to disk, results unchanged") {
    val d = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("d21_winnow_pairs")
    val baseline = q(spark, d).collect().toSeq
    assert(baseline.nonEmpty, "fixture must produce winnow pairs")

    val spilled = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { spilled.addAndGet(m.diskBytesSpilled); () }
      }
    }
    // force the fingerprint self-join onto SMJ (no broadcast), then
    // shrink its match buffer to one row — every df>1 fingerprint then
    // takes the ExternalAppendOnlyUnsafeRowArray spill path a 100 TB
    // hot-fingerprint bucket would take
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "2",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "4")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    spark.sparkContext.addSparkListener(listener)
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      val df = q(spark, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("SortMergeJoin"),
        s"broadcast disabled, so the pair join must plan as SMJ:\n${
          plan.take(1000)}")
      val under = df.collect().toSeq
      Thread.sleep(500) // drain task-end events off the async listener bus
      assert(under == baseline, "spilling changed the result")
      assert(spilled.get() > 0,
        "a 4-row join buffer must force actual disk spill " +
          "(max fingerprint df is 9 on this fixture)")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("d18 band sweep: finer bands strictly widen the candidate set " +
      "(8x8 subset of 16x4 subset of 32x2), so found/recall are monotone") {
    // A 4-row band match means both its 2-row halves match, so every
    // 16x4 candidate is a 32x2 candidate (same for 8x8 vs 16x4) —
    // counts must be non-decreasing in the band count, and recall with
    // them. A violation means the band fold mixes configs' slot ranges.
    val rows = SparkEntry.queries("d18_minhash_band_tuning")(
      spark, "/root/testdata/sf0.001")
      .orderBy("bands").collect()
    assert(rows.map(_.getAs[Int]("bands")).toSeq == Seq(8, 16, 32))
    val cands = rows.map(_.getAs[Long]("n_candidates")).toSeq
    val found = rows.map(_.getAs[Long]("n_found")).toSeq
    assert(cands == cands.sorted, s"candidates not monotone: $cands")
    assert(found == found.sorted, s"found not monotone: $found")
    assert(rows.map(_.getAs[Long]("n_truth")).distinct.length == 1)
  }
}
