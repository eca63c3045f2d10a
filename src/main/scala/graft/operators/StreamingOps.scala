package graft.operators

import graft.{Parity, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Event-time / streaming-semantics operators, expressed over the bounded
  * `events` table so the driver's DuckDB oracle can check them. The same
  * plans run unchanged on a `readStream` DataFrame (plus `withWatermark`) —
  * the streaming integration specs in `src/test` drive that path.
  *
  * Reference mapping: the reference has no event-time story at all — its
  * only time is arrival time (reference
  * main/consumer/ConsumerProcessingManager.scala:82-89); windows/watermarks
  * are the declared Spark-side extension (SURVEY.md §2.2 "Streaming").
  * The per-key state machine (q44) is the analogue of the reference's
  * per-shard `ConsumerWorker` batch state machine
  * (main/consumer/ConsumerWorker.scala:202-548) re-expressed as
  * `mapGroupsWithState`.
  */
object StreamingOps extends OperatorFamily {
  import Parity._

  /** Typed row for the stateful sessionization (q44). */
  case class Ev(user_id: Long, ts_ms: Long, event_id: Long)
  /** Carries lastTs/curLen so a session spanning micro-batches continues
    * instead of splitting (incremental correctness, not just batch). */
  case class SessionAcc(nSessions: Long, nEvents: Long, maxLen: Long,
      lastTs: Long, curLen: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long,
      max_session_events: Long)

  private val GapMs = 30L * 60 * 1000

  /** Sessionization fold shared by the batch query (q44) and the
    * incremental streaming path: state carries (lastTs, curLen) so a
    * session spanning micro-batches continues rather than splitting.
    */
  def sessionFold(uid: Long, it: Iterator[Ev],
      state: GroupState[SessionAcc]): UserSessions = {
    val sorted = it.toArray.sortBy(e => (e.ts_ms, e.event_id))
    var acc = state.getOption
      .getOrElse(SessionAcc(0, 0, 0, Long.MinValue, 0))
    sorted.foreach { e =>
      val newSession =
        acc.lastTs == Long.MinValue || e.ts_ms >= acc.lastTs + GapMs
      val curLen = if (newSession) 1L else acc.curLen + 1
      acc = SessionAcc(
        acc.nSessions + (if (newSession) 1 else 0),
        acc.nEvents + 1,
        math.max(acc.maxLen, curLen),
        e.ts_ms, curLen)
    }
    state.update(acc)
    UserSessions(uid, acc.nSessions, acc.nEvents, acc.maxLen)
  }

  /** Debounce fold — the incremental twin of q101's run-length
    * compression: an event repeating the previous event's type within
    * [[DebounceMs]] on the same key's timeline is dropped. State
    * carries the LAST SEEN event (kept or dropped — q101's lag
    * semantics), so a duplicate arriving in the next micro-batch is
    * still suppressed.
    */
  val DebounceMs = 60000L
  case class DebState(lastType: String, lastTs: Long)
  case class DebEv(user_id: Long, ts_ms: Long, event_id: Long,
      event_type: String)
  def debounceFold(uid: Long, it: Iterator[DebEv],
      state: GroupState[DebState]): Iterator[DebEv] = {
    val sorted = it.toArray.sortBy(e => (e.ts_ms, e.event_id))
    var last = state.getOption
    val kept = sorted.filter { e =>
      val keep = last.forall(s =>
        s.lastType != e.event_type || e.ts_ms - s.lastTs > DebounceMs)
      last = Some(DebState(e.event_type, e.ts_ms))
      keep
    }
    last.foreach(state.update)
    kept.iterator
  }

  /** Incremental N-in-T burst detector — q106's streaming twin (the
    * debounceFold pattern applied to alerting): per-key state is the
    * last TWO error timestamps, and an incoming error raises an alert
    * when its 2nd-back predecessor landed within the window — the same
    * 3-in-300s rule q106 backtests in batch, firing live at the pager
    * latency a micro-batch allows. State is two longs per key
    * regardless of traffic (RocksDB-friendly at any key cardinality);
    * alerts are emitted in Append mode, once each.
    */
  val BurstWindowMs = 300000L
  val BurstNone: Long = Long.MinValue / 4 // sentinel: spans stay overflow-free
  case class BurstState(t1: Long, t2: Long) // 2nd-back, 1st-back error times
  case class ErrEv(user_id: Long, ts_ms: Long, event_id: Long)
  case class BurstAlert(user_id: Long, event_id: Long, ts_ms: Long,
      span_ms: Long)
  def burstFold(uid: Long, it: Iterator[ErrEv],
      state: GroupState[BurstState]): Iterator[BurstAlert] = {
    val sorted = it.toArray.sortBy(e => (e.ts_ms, e.event_id))
    var s = state.getOption.getOrElse(BurstState(BurstNone, BurstNone))
    val out = Array.newBuilder[BurstAlert]
    sorted.foreach { e =>
      if (e.ts_ms - s.t1 <= BurstWindowMs)
        out += BurstAlert(uid, e.event_id, e.ts_ms, e.ts_ms - s.t1)
      s = BurstState(s.t2, e.ts_ms)
    }
    state.update(s)
    out.result().iterator
  }

  /** q126's streaming twin: an incremental HLL distinct-count per key.
    * State per key is the 64-byte register file itself (fixed size
    * regardless of cardinality or history — the sketch's point, and
    * RocksDB-friendly); each micro-batch folds its hashes in via
    * [[graft.functions.HllRegisterAggregate.observe]] — the SAME
    * bucket/rho code the batch aggregate runs, so the stream and the
    * batch recompute produce the identical register file on the same
    * prefix of data (pinned in StatefulStreamSpec). Emits one snapshot
    * per key per batch (Update mode) with the running estimate; unlike
    * the q64/q108 twins there is NO batch-vs-stream divergence window —
    * register max is insensitive to arrival order, so a restart or
    * replay folds to the same sketch.
    */
  case class HashObs(key: String, h: Long)
  case class HllSnapshot(key: String, n_buckets_hit: Int, estimate: Double)
  def hllFold(key: String, it: Iterator[HashObs],
      state: GroupState[Array[Byte]]): HllSnapshot = {
    val regs = state.getOption.getOrElse(new Array[Byte](64))
    it.foreach(o => graft.functions.HllRegisterAggregate.observe(regs, o.h))
    state.update(regs)
    HllSnapshot(key, regs.count(_ > 0),
      graft.functions.HllRegisterAggregate.estimate(regs))
  }

  /** q129's streaming twin: an incremental Count-Min frequency sketch
    * per key. State per key is the 4×64 counter matrix itself (2 KB,
    * fixed regardless of stream length or key cardinality —
    * RocksDB-friendly, like the HLL fold's 64 bytes); each micro-batch
    * folds its hashes in via
    * [[graft.functions.CmsSketchAggregate.observe]] — the SAME
    * row-slice code the batch aggregate runs, so stream and batch
    * recompute produce the identical matrix on the same prefix of data
    * (pinned in StatefulStreamSpec). Emits one snapshot per key per
    * batch (Update mode) with the probed estimate for the batch's last
    * hash; counter ADD is insensitive to arrival order, so — as with
    * the HLL fold — restart/replay folds to the same sketch with no
    * batch-vs-stream divergence window.
    */
  case class CmsObs(key: String, h: Long)
  case class CmsSnapshot(key: String, n_obs: Long, n_nonzero: Int,
      matrix_sig: Long)
  def cmsFold(key: String, it: Iterator[CmsObs],
      state: GroupState[Array[Long]]): CmsSnapshot = {
    val m = state.getOption.getOrElse(new Array[Long](256))
    it.foreach(o => graft.functions.CmsSketchAggregate.observe(m, o.h, 4, 6))
    state.update(m)
    // n_obs: every observation increments exactly one row-0 counter
    CmsSnapshot(key, m.view.slice(0, 64).sum, m.count(_ > 0L),
      CmsSnapshot.signature(m))
  }
  object CmsSnapshot {
    /** Order-sensitive FNV-style fold of the counter matrix — two
      * matrices collide only if equal, for all practical purposes, so
      * the spec can pin stream == batch without shipping 256 longs. */
    def signature(m: Array[Long]): Long =
      m.foldLeft(1469598103934665603L)((a, c) => (a ^ c) * 1099511628211L)
  }

  /** q34's streaming twin: an incremental exact top-k per key. State
    * per key is the current k best `(value, id)` pairs — bounded at k
    * entries regardless of stream length; each micro-batch replays the
    * state into a [[graft.functions.TopKBuffer]] (the SAME insertion
    * code the batch `graft_topk` aggregate runs, so the two surfaces
    * cannot drift) and folds the batch's rows in. Top-k of a union is
    * the top-k of top-ks — arrival-order-insensitive like the HLL/CMS
    * folds, so restart/replay converges to the identical sketch
    * (pinned in StatefulStreamSpec against the batch aggregate).
    */
  case class TopKObs(key: String, v: Double, id: Long)
  case class TopKSnapshot(key: String, top: Seq[(Double, Long)])
  def topkFold(key: String, it: Iterator[TopKObs],
      state: GroupState[Seq[(Double, Long)]]): TopKSnapshot = {
    val buf = new graft.functions.TopKBuffer(5)
    state.getOption.getOrElse(Nil).foreach { case (v, id) => buf.add(v, id) }
    it.foreach(o => buf.add(o.v, o.id))
    state.update(buf.entries)
    TopKSnapshot(key, buf.sorted)
  }

  /** d05/d28's streaming twin: an incremental SimHash fingerprint per
    * key. State per key is the 60 bit-vote counters (480 bytes, fixed);
    * each micro-batch folds its word hashes in via
    * [[graft.functions.SimHashAggregate.observe]] — the SAME vote code
    * the batch `simhash_agg` runs — and the snapshot projects the
    * majority fingerprint with
    * [[graft.functions.SimHashAggregate.fingerprint]]. Vote addition is
    * arrival-order-insensitive, so stream and batch agree bit-for-bit
    * on any prefix (pinned in StatefulStreamSpec). The use case is the
    * d09 incremental-ingest shape: a document's (or source's) evolving
    * fingerprint maintained as chunks stream in, ready for banded
    * hamming LSH against the standing corpus.
    */
  case class SimObs(key: String, h: Long)
  case class SimSnapshot(key: String, n_obs: Long, fingerprint: Long)
  def simhashFold(key: String, it: Iterator[SimObs],
      state: GroupState[(Long, Array[Long])]): SimSnapshot = {
    var (n, votes) = state.getOption.getOrElse((0L, new Array[Long](60)))
    it.foreach { o =>
      graft.functions.SimHashAggregate.observe(votes, o.h)
      n += 1
    }
    state.update((n, votes))
    SimSnapshot(key, n, graft.functions.SimHashAggregate.fingerprint(votes))
  }

  /** q52's streaming twin: incremental KMV quantile estimates per key.
    * State per key is the bottom-k (hash, value) sample — bounded at k
    * pairs regardless of stream length; each micro-batch replays the
    * state into a [[graft.functions.QuantileSketchBuffer]] (the SAME
    * insertion code the batch `quantile_sketch` aggregate runs) and
    * folds the batch's rows in. Bottom-k of a union is the bottom-k of
    * bottom-ks — arrival-order-insensitive like every fold in this
    * family — and the snapshot projects p50/p90 through the shared
    * [[graft.functions.QuantileSketchAggregate.interpolate]], so the
    * streamed estimates equal the batch aggregate's bit-for-bit
    * (pinned in StatefulStreamSpec).
    */
  case class QuantObs(key: String, h: Long, v: Long)
  case class QuantSnapshot(key: String, n_sample: Int, p50: Double,
      p90: Double)
  def quantileFold(key: String, it: Iterator[QuantObs],
      state: GroupState[Seq[(Long, Long)]]): QuantSnapshot = {
    val buf = new graft.functions.QuantileSketchBuffer(128)
    state.getOption.getOrElse(Nil).foreach { case (h, v) => buf.add(h, v) }
    it.foreach(o => buf.add(o.h, o.v))
    val entries = buf.entries.toSeq
    state.update(entries)
    val vs = entries.map(_._2).toArray.sorted
    if (vs.isEmpty) QuantSnapshot(key, 0, 0.0, 0.0)
    else QuantSnapshot(key, vs.length,
      graft.functions.QuantileSketchAggregate.interpolate(vs, 0.5),
      graft.functions.QuantileSketchAggregate.interpolate(vs, 0.9))
  }

  /** q136's streaming twin: incremental EXACT distinct-count per key
    * over bounded dense ids. State per key is the serialized bitmap
    * itself (⌈dictionary/64⌉ words — bounded by the KEY SPACE, not the
    * stream, which is the bitmap's contract; the HLL fold is the
    * sketch alternative when ids are unbounded); each micro-batch
    * replays the bytes into a [[graft.functions.BitmapBuffer]] (the
    * SAME insertion code the batch `bitmap_agg` runs) and folds the
    * batch's ids in. Bit-OR is arrival-order-insensitive, so stream ==
    * batch on any prefix (pinned in StatefulStreamSpec).
    */
  case class BitmapObs(key: String, id: Long)
  case class BitmapSnapshot(key: String, n_distinct: Long)
  def bitmapFold(key: String, it: Iterator[BitmapObs],
      state: GroupState[Array[Byte]]): BitmapSnapshot = {
    val buf = state.getOption
      .map(graft.functions.BitmapBuffer.fromBytes)
      .getOrElse(new graft.functions.BitmapBuffer())
    it.foreach(o => buf.add(o.id))
    val bytes = buf.bytes
    state.update(bytes)
    BitmapSnapshot(key, graft.functions.BitmapBuffer.count(bytes))
  }

  /** q108's streaming twin: incremental seasonal-residual anomaly
    * scoring. Input is completed (date, hour) activity cells (produced
    * upstream by a watermarked tumbling count); state per
    * (day-of-week, hour) key is the running (n, Σcnt, Σcnt²) — three
    * longs regardless of history length. Each arriving cell is scored
    * against the baseline accumulated SO FAR (the streaming-honest
    * stance: a batch recompute sees the whole period, a stream can
    * only know its past — same divergence contract as the q64
    * incremental-agg twin), then folded in. The √2-sigma cut uses the
    * identical exact-integer inequality as q108 — dev² > 2·(n·ss − s²)
    * via BigInt, so no overflow and no float boundary; scoring needs
    * n ≥ 2 priors. Σcnt² accumulates with Math.addExact /
    * multiplyExact — a cell count past ~3e9 fails loudly rather than
    * wrapping (the d01 collision-guard stance).
    */
  case class CellObs(dow: Int, hr: Int, dt: String, cnt: Long)
  case class SeasonState(n: Long, s: Long, ss: Long)
  case class SeasonAlert(dow: Int, hr: Int, dt: String, cnt: Long,
      n_prior: Long, mean_prior: Double, z: Double)
  def seasonalFold(key: (Int, Int), it: Iterator[CellObs],
      state: GroupState[SeasonState]): Iterator[SeasonAlert] = {
    var st = state.getOption.getOrElse(SeasonState(0L, 0L, 0L))
    val out = Array.newBuilder[SeasonAlert]
    it.toArray.sortBy(_.dt).foreach { c =>
      if (st.n >= 2) {
        val dev = BigInt(st.n) * c.cnt - st.s
        val varn = BigInt(st.n) * st.ss - BigInt(st.s) * st.s
        if (varn > 0 && dev * dev > varn * 2)
          out += SeasonAlert(key._1, key._2, c.dt, c.cnt, st.n,
            st.s.toDouble / st.n, dev.toDouble / math.sqrt(varn.toDouble))
      }
      st = SeasonState(st.n + 1, Math.addExact(st.s, c.cnt),
        Math.addExact(st.ss, Math.multiplyExact(c.cnt, c.cnt)))
    }
    state.update(st)
    out.result().iterator
  }

  /** q145's streaming twin: the rolling quantile-coverage backtest run
    * continuously. Input is completed weekly value-grid cells
    * (key, wk, cents, cnt) — upstream a watermarked weekly rollup, the
    * seasonalFold "completed cells" contract; key names the monitored
    * series (a deployment watches k metrics, keyed). State per key is
    * the last 8 weeks' grids — bounded by the value grid × 8, never
    * the stream. Each completing week is scored FIRST against the
    * trailing-8-week state (discrete p10/p90 via the identical
    * smallest-value-reaching-k-tenths integer rule, coverage as the
    * same single division), THEN folded in and the horizon evicted —
    * so an in-order weekly replay reproduces q145's batch rows
    * bit-for-bit (pinned in StatefulStreamSpec), and the week being
    * judged never influences its own bounds on the stream either.
    * Weeks arriving in one micro-batch are processed in ascending
    * order; a week with no in-horizon history emits nothing (q145's
    * warm-up drop).
    */
  case class WeekCell(key: String, wk: Long, cents: Long, cnt: Long)
  case class CoverageSnapshot(key: String, wk: Long, n_prior: Long,
      p10: Long, p90: Long, n_cur: Long, n_inside: Long,
      coverage: Double)
  def coverageFold(key: String, it: Iterator[WeekCell],
      state: GroupState[Seq[(Long, Seq[(Long, Long)])]])
      : Iterator[CoverageSnapshot] = {
    var hist = state.getOption.getOrElse(Nil)
    val out = Array.newBuilder[CoverageSnapshot]
    it.toArray.groupBy(_.wk).toSeq.sortBy(_._1).foreach { case (w, cs) =>
      val grid = cs.groupBy(_.cents).view
        .mapValues(_.map(_.cnt).sum).toSeq.sortBy(_._1)
      val prior = hist.filter(h => h._1 >= w - 8 && h._1 < w)
      if (prior.nonEmpty) {
        val merged = prior.flatMap(_._2).groupBy(_._1).view
          .mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
        val tot = merged.map(_._2).sum
        var cum = 0L; var p10 = -1L; var p90 = -1L
        merged.foreach { case (c, n) =>
          cum += n
          if (p10 < 0 && 10L * cum >= tot) p10 = c
          if (p90 < 0 && 10L * cum >= 9L * tot) p90 = c
        }
        val nCur = grid.map(_._2).sum
        val inside = grid.collect {
          case (c, n) if c >= p10 && c <= p90 => n
        }.sum
        out += CoverageSnapshot(key, w, tot, p10, p90, nCur, inside,
          inside.toDouble / nCur.toDouble)
      }
      hist = (hist :+ (w -> grid)).filter(_._1 > w - 8)
    }
    state.update(hist)
    out.result().iterator
  }

  /** q127's streaming twin: one-sided CUSUM drift detection run
    * continuously. Input is completed daily totals (key, day, x) — a
    * watermarked daily rollup upstream, the seasonalFold "completed
    * cells" contract; key names the monitored series. State per key
    * is ONE long — the running cusum S — regardless of history
    * length. Parameters are the calibration products (mul, ref, h):
    * S_t = max(0, S_{t-1} + mul·x_t − ref), drift when S_t > h — the
    * classic fixed-reference CUSUM, with (mul, ref, h) chosen from a
    * calibration window exactly as an industrial deployment tunes
    * (k, h). Fed q127's own full-period products (mul = 10n,
    * ref = 11T, h = 20T), the recursion IS q127's prefix-sum-minus-
    * running-min identity, so an in-order daily replay reproduces the
    * batch rows bit-for-bit (pinned in StatefulStreamSpec) — all
    * arithmetic exact longs with addExact/multiplyExact, overflow
    * fails loudly (the d01 collision-guard stance). Days arriving in
    * one micro-batch fold in ascending order.
    */
  case class DayTotal(key: String, day: Long, x: Long)
  case class CusumAlert(key: String, day: Long, x: Long, s: Long,
      is_drift: Boolean)
  def cusumFold(mul: Long, ref: Long, h: Long)(key: String,
      it: Iterator[DayTotal], state: GroupState[Long])
      : Iterator[CusumAlert] = {
    var s = state.getOption.getOrElse(0L)
    val out = Array.newBuilder[CusumAlert]
    it.toArray.sortBy(_.day).foreach { o =>
      s = math.max(0L,
        Math.addExact(s,
          Math.subtractExact(Math.multiplyExact(mul, o.x), ref)))
      out += CusumAlert(key, o.day, o.x, s, s > h)
    }
    state.update(s)
    out.result().iterator
  }

  /** q104's streaming twin: the truncated 8-term power-of-2 EWMA run
    * continuously. Input is completed weekly cells (key, wk, cents) —
    * a watermarked weekly rollup upstream, the seasonalFold
    * "completed cells" contract; key names the monitored series
    * (q104's region). State per key is the trailing ≤ 7 observed
    * cents values — BOUNDED regardless of history length. Weights
    * mirror q104 exactly: current week 128, j-th previous OBSERVED
    * week 2^(7−j), absent terms contribute nothing to numerator or
    * denominator — so an in-order weekly replay reproduces the batch
    * rows bit-for-bit (pinned in StatefulStreamSpec), including the
    * warm-up weeks where the denominator is still filling. All
    * integer arithmetic is addExact/multiplyExact — overflow fails
    * loudly (the d01 collision-guard stance); the two final double
    * projections copy the batch's operation sequence. Weeks arriving
    * in one micro-batch fold in ascending order.
    */
  case class WeekTotal(key: String, wk: Long, cents: Long)
  case class EwmaPoint(key: String, wk: Long, revenue: Double,
      ewma_revenue: Double)
  def ewmaFold(key: String, it: Iterator[WeekTotal],
      state: GroupState[Seq[Long]]): Iterator[EwmaPoint] = {
    var hist = state.getOption.getOrElse(Seq.empty[Long])
    val out = Array.newBuilder[EwmaPoint]
    it.toArray.sortBy(_.wk).foreach { o =>
      var num = Math.multiplyExact(o.cents, 128L)
      var den = 128L
      hist.reverse.zipWithIndex.foreach { case (c, i) =>
        val w = 1L << (6 - i) // lag j = i + 1 weighs 2^(7-j)
        num = Math.addExact(num, Math.multiplyExact(c, w))
        den += w
      }
      out += EwmaPoint(key, o.wk, o.cents.toDouble / 100.0,
        num.toDouble / (den.toDouble * 100.0))
      hist = (hist :+ o.cents).takeRight(7)
    }
    state.update(hist)
    out.result().iterator
  }

  /** q189's streaming twin: additive Holt–Winters (period 7) run
    * continuously over the DENSE zero-filled daily series (the q189
    * carrier — the caller's upstream rollup supplies every calendar
    * day exactly once, in order across micro-batches). State per key
    * is (level, trend, 7 seasonals, position, SSE) plus the ≤14-day
    * warm-up buffer — BOUNDED regardless of history. Every double
    * operation copies q189's SQL fold verbatim (dyadic α=1/4,
    * β=γ=1/8; NL/err duplication preserved), so an in-order daily
    * replay reproduces the batch state bit-for-bit — the final
    * point's 7-day forecast equals q189's rows exactly (pinned in
    * StatefulStreamSpec). Days arriving in one micro-batch fold in
    * ascending order; emission starts once the 14-day warm-up
    * completes (day 15 emits the first point, exactly where the
    * batch fold starts).
    */
  case class HwState(lvl: Double, trd: Double, s: Seq[Double], i: Int,
      sse: Double, warm: Boolean, buf: Seq[Double],
      lastDay: Long = Long.MinValue)
  case class HwPoint(key: String, day: Long, level: Double,
      trend: Double, seasonal: Seq[Double], i: Int, sse: Double)
  def holtWintersFold(key: String, it: Iterator[DayTotal],
      state: GroupState[HwState]): Iterator[HwPoint] = {
    var st = state.getOption.getOrElse(
      HwState(0.0, 0.0, Seq.fill(7)(0.0), 14, 0.0, warm = false, Seq.empty))
    val out = Array.newBuilder[HwPoint]
    // lastDay makes the dense-series contract self-enforcing: a day
    // <= lastDay is an at-least-once replay (or out-of-order arrival)
    // of a row already folded into level/trend/SSE — dropping it is
    // the only idempotent choice; re-folding would corrupt silently.
    // The guard reads st.lastDay PER ROW (st advances inside the
    // loop), so a duplicate delivered within the same micro-batch is
    // dropped too — an eager pre-filter against the batch-entry state
    // would let it double-fold.
    it.toArray.sortBy(_.day).foreach { o =>
      if (o.day > st.lastDay) {
      val y = o.x.toDouble
      if (!st.warm) {
        val buf = st.buf :+ y
        st = if (buf.length == 14) {
          val a = buf
          // q189's init, operation-for-operation; the warm-up buffer
          // is dropped once consumed so steady-state checkpoint rows
          // carry only the documented 10 scalars
          val m1 = ((((((a(0) + a(1)) + a(2)) + a(3)) + a(4)) + a(5))
            + a(6)) / 7.0
          val m2 = ((((((a(7) + a(8)) + a(9)) + a(10)) + a(11)) + a(12))
            + a(13)) / 7.0
          val trd0 = (m2 - m1) / 7.0
          val s0 = (0 until 7).map(j =>
            ((a(j) - m1) + (a(j + 7) - m2)) / 2.0)
          HwState(m1, trd0, s0, 14, 0.0, warm = true, Seq.empty, o.day)
        } else st.copy(buf = buf, lastDay = o.day)
      } else {
        val sIdx = st.i % 7
        val nl = 0.25 * (y - st.s(sIdx)) + 0.75 * (st.lvl + st.trd)
        val err = y - ((st.lvl + st.trd) + st.s(sIdx))
        val trd = 0.125 * (nl - st.lvl) + 0.875 * st.trd
        val s = st.s.updated(sIdx, 0.125 * (y - nl) + 0.875 * st.s(sIdx))
        st = HwState(nl, trd, s, st.i + 1, st.sse + err * err,
          warm = true, Seq.empty, o.day)
        out += HwPoint(key, o.day, st.lvl, st.trd, st.s, st.i, st.sse)
      }
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** q190's streaming twin: Croston's intermittent-demand smoother run
    * continuously over the dense zero-filled daily quantity series.
    * State per key is (size z, interval p, gap counter, seen, demand
    * count) — five scalars. Updates fire only on demand days, exactly
    * q190's fold (dyadic α=1/4); a replay reproduces the batch state
    * bit-for-bit (pinned in StatefulStreamSpec). Zero-demand days
    * still advance the gap counter, so the dense-series contract
    * matters here too.
    */
  case class CrostonState(z: Double, p: Double, q: Long, seen: Boolean,
      nd: Long, lastDay: Long = Long.MinValue)
  case class CrostonPoint(key: String, day: Long, demand_size: Double,
      mean_interval: Double, n_demands: Long)
  def crostonFold(key: String, it: Iterator[DayTotal],
      state: GroupState[CrostonState]): Iterator[CrostonPoint] = {
    var st = state.getOption.getOrElse(CrostonState(0.0, 0.0, 1L, false, 0L))
    val out = Array.newBuilder[CrostonPoint]
    // same lastDay replay guard as holtWintersFold, read per row so a
    // same-batch duplicate cannot double-advance the gap counter
    it.toArray.sortBy(_.day).foreach { o =>
      if (o.day > st.lastDay) {
        val y = o.x.toDouble
        st =
          if (y > 0.0) CrostonState(
            if (st.seen) st.z + 0.25 * (y - st.z) else y,
            if (st.seen) st.p + 0.25 * (st.q.toDouble - st.p)
            else st.q.toDouble,
            1L, seen = true, st.nd + 1, o.day)
          else st.copy(q = st.q + 1, lastDay = o.day)
        // emit ONLY on demand days — zero-demand days advance the gap
        // counter but change no smoothed value (one point per demand,
        // matching the "updates fire only on demand days" contract)
        if (y > 0.0) out += CrostonPoint(key, o.day, st.z, st.p, st.nd)
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** q196's streaming twin (round-8 verdict item 5, the d09/e12
    * incremental pattern): maintain the item-CF co-occurrence counts
    * continuously as purchases arrive. Keyed by customer; state = the
    * customer's owned-brand set (BOUNDED by the item vocabulary — the
    * same bound the batch surface's broadcast affinity matrix already
    * requires). A newly-owned brand emits one "own" delta plus one
    * "co" delta per previously-owned brand (bi < bj); a re-delivered
    * (c, brand) pair is dropped by the ownership check, so the counts
    * are exactly-once under at-least-once replay. Summing the deltas
    * reproduces the batch `nPer`/`co` frames exactly;
    * [[Graph.itemCfScoresFromCounts]] then scores them with the
    * identical integer expressions — batch == stream bit-for-bit
    * (pinned in StatefulStreamSpec). In-batch arrivals fold in sorted
    * brand order so emission is deterministic.
    */
  case class CfEvent(c: Long, brand: String)
  case class CfState(owned: Seq[String])
  case class CfDelta(kind: String, bi: String, bj: String)
  def cfFold(c: Long, it: Iterator[CfEvent],
      state: GroupState[CfState]): Iterator[CfDelta] = {
    var owned = state.getOption.map(_.owned.toSet).getOrElse(Set.empty)
    val out = Vector.newBuilder[CfDelta]
    it.toArray.map(_.brand).sorted.foreach { b =>
      if (!owned.contains(b)) {
        out += CfDelta("own", b, "")
        owned.foreach { o =>
          out += (if (b < o) CfDelta("co", b, o) else CfDelta("co", o, b))
        }
        owned += b
      }
    }
    state.update(CfState(owned.toSeq.sorted))
    out.result().iterator
  }

  /** q197's streaming twin: maintain the wedge set (common-neighbor
    * witnesses) continuously as edges arrive. Keyed by VERTEX — the
    * caller routes each undirected edge (pa, pb) to both endpoints as
    * [[AdjEvent]]s — with state = the vertex's neighbor set (bound
    * vertex degree upstream at 100 TB, the batch surface's documented
    * wedge-fan-out bound). A new neighbor n of center z emits one
    * "adj" delta (the z→n adjacency row) plus one "wedge" delta
    * (a, b, z) per existing neighbor (a < b); duplicates drop on the
    * neighbor-set check. The accumulated wedges + adjacency rows feed
    * [[Graph.linkPredictionFromWedges]] — degrees and the
    * non-adjacency anti-join come from the SAME accumulated frames,
    * so RA uses final degrees exactly as the batch surface does
    * (batch == stream bit-for-bit, pinned in StatefulStreamSpec).
    */
  case class AdjEvent(v: Long, nb: Long)
  case class AdjState(nbs: Seq[Long])
  case class WedgeDelta(kind: String, a: Long, b: Long, z: Long)
  def wedgeFold(v: Long, it: Iterator[AdjEvent],
      state: GroupState[AdjState]): Iterator[WedgeDelta] = {
    var nbs = state.getOption.map(_.nbs.toSet).getOrElse(Set.empty[Long])
    val out = Vector.newBuilder[WedgeDelta]
    it.toArray.map(_.nb).sorted.foreach { n =>
      if (!nbs.contains(n)) {
        out += WedgeDelta("adj", v, n, 0L)
        nbs.foreach { o =>
          out += (if (n < o) WedgeDelta("wedge", n, o, v)
            else WedgeDelta("wedge", o, n, v))
        }
        nbs += n
      }
    }
    state.update(AdjState(nbs.toSeq.sorted))
    out.result().iterator
  }

  /** q200's streaming twin: maintain the weekly (revenue, order-count)
    * carrier continuously as ORDER-level events arrive. Keyed by
    * calendar week; state = the week's seen-orderkey set (the cfFold
    * ownership pattern — a replayed order is dropped, so both the
    * cents sum and the distinct count are exactly-once under
    * at-least-once delivery; bound: orders per week — at 100 TB swap
    * the set for upstream WAL dedup or a Bloom guard) plus the exact
    * cents accumulator. A batch that changed the week emits its
    * UPDATED (yv = whole thousands of dollars, xv = order count) row;
    * per week both values are monotone, so max-per-week of the
    * emitted rows IS the batch weeklyPair frame in exact integers —
    * [[Forecasting.grangerFromWeekly]] then scores the streamed
    * carrier bit-for-bit equal to the batch q200
    * (StatefulStreamSpec).
    */
  case class WkOrder(w: Long, okey: Long, cents: Long)
  case class WkState(okeys: Seq[Long], cents: Long)
  case class WkRow(w: Long, yv: Long, xv: Long)
  def weeklyPairFold(w: Long, it: Iterator[WkOrder],
      state: GroupState[WkState]): Iterator[WkRow] = {
    var seen = state.getOption.map(_.okeys.toSet).getOrElse(Set.empty[Long])
    var cents = state.getOption.map(_.cents).getOrElse(0L)
    var changed = false
    it.toArray.sortBy(_.okey).foreach { o =>
      if (!seen.contains(o.okey)) {
        seen += o.okey; cents += o.cents; changed = true
      }
    }
    state.update(WkState(seen.toSeq.sorted, cents))
    if (changed) Iterator.single(WkRow(w, cents / 100000L, seen.size.toLong))
    else Iterator.empty
  }

  /** q202's streaming twin (the 16th batch==stream fold): Page–Hinkley
    * drift detection over the observed daily revenue series, run
    * continuously. The batch statistic's one non-incremental piece is
    * the calibration baseline (S_K over the first K=30 OBSERVED days),
    * so the fold buffers the first 30 days, then replays them through
    * the exact-integer recurrence the moment calibration completes —
    * emission covers the WHOLE series (30 retro rows + incremental
    * thereafter) and reproduces the batch q202 rows bit-for-bit:
    * M_t = 200·K·P_t − 201·t·S_K in exact BigInt, running prefix min,
    * display ph = (M−min).toDouble / (200·K) and alarm e > 2000·S_K —
    * the identical operation order as the batch DECIMAL(38,0) algebra
    * (BigInt.doubleValue and Spark's Decimal→double are both
    * correctly-rounded conversions). State: (t, P, S_K, K, minM) plus
    * the ≤30-row calibration buffer — bounded regardless of history.
    * Same per-row lastDay replay guard as [[holtWintersFold]]: days
    * arrive in order, each exactly once; replays/out-of-order drop.
    * A series that never reaches 30 observed days emits nothing (the
    * detector is still calibrating — there is no baseline to drift
    * from), but each calibrating micro-batch bumps the
    * `PageHinkleyCalibrating[series=<key>]` counter so the state is
    * observable rather than silent (round-11 advice).
    */
  case class PhState(t: Long, p: BigInt, sk: BigInt, k: Long,
      minM: BigInt, buf: Seq[(Long, Long)], lastDay: Long = Long.MinValue)
  case class PhPoint(key: String, dt: String, revenue_cents: Long,
      ph_cents: Double, is_alarm: Boolean)
  def pageHinkleyFold(key: String, it: Iterator[DayTotal],
      state: GroupState[PhState]): Iterator[PhPoint] = {
    var st = state.getOption.getOrElse(
      PhState(0L, BigInt(0), BigInt(0), 0L, BigInt(0), Seq.empty))
    val out = Array.newBuilder[PhPoint]
    def emit(day: Long, x: Long, e: BigInt): Unit =
      out += PhPoint(key,
        java.time.LocalDate.ofEpochDay(day).toString, x,
        e.toDouble / (200.0 * st.k.toDouble),
        e > BigInt(2000) * st.sk)
    it.toArray.sortBy(_.day).foreach { o =>
      if (o.day > st.lastDay) {
        if (st.k < 30L) {
          val buf = st.buf :+ (o.day -> o.x)
          if (buf.length == 30) {
            // calibration complete: fix S_K, replay the buffer through
            // the recurrence (batch semantics apply the FULL baseline
            // to the calibration rows too — its base frame crossJoins
            // every row)
            val sk = buf.map(r => BigInt(r._2)).sum
            st = st.copy(sk = sk, k = 30L, lastDay = o.day)
            var minM: BigInt = null
            buf.foreach { case (d, x) =>
              val t = st.t + 1
              val p = st.p + x
              val mt = BigInt(200) * BigInt(st.k) * p -
                BigInt(201) * BigInt(t) * st.sk
              minM = if (minM == null) mt else minM.min(mt)
              st = st.copy(t = t, p = p, minM = minM, buf = Seq.empty)
              emit(d, x, mt - minM)
            }
          } else {
          st = st.copy(buf = buf, lastDay = o.day)
          // calibrating: nothing emits yet (no baseline to drift
          // from), but the state is OBSERVABLE — a short-history
          // deployment sees this counter instead of silent zero
          // output (round-11 advice)
          graft.metrics.GraftMetrics.add(
            "PageHinkleyCalibrating", s"series=$key", 1L)
        }
        } else {
          val t = st.t + 1
          val p = st.p + o.x
          val mt = BigInt(200) * BigInt(st.k) * p -
            BigInt(201) * BigInt(t) * st.sk
          val minM = st.minM.min(mt)
          st = st.copy(t = t, p = p, minM = minM, lastDay = o.day)
          emit(o.day, o.x, mt - minM)
        }
      }
    }
    state.update(st)
    out.result().iterator
  }

  /** t50's streaming twin (the 17th batch==stream fold): the per-
    * language bigram conditional-entropy rate H(W₂|W₁), maintained
    * incrementally as documents stream in. State per language is the
    * live bigram statistic itself — the (w₁,w₂)→count and w₁→count
    * maps (bounded by the corpus's TYPE counts, the exact state any
    * streaming entropy monitor must hold; the space-joined bigram key
    * is unambiguous because tokens are split ON spaces). Each
    * micro-batch folds its
    * bigram observations in (counter ADD — same exactly-once-under-
    * checkpointed-micro-batches contract as [[cmsFold]]) and emits one
    * snapshot per changed language computed by t50's exact algebra:
    * per-type terms c₂·ln(c₁/c₂) quantized to scale-9 HALF_UP decimals
    * (bit-identical to Spark's double→DECIMAL(18,9) cast: both go
    * through the shortest-repr BigDecimal.valueOf) and summed exactly,
    * so the last snapshot equals the batch t50 row bit-for-bit
    * (StatefulStreamSpec pins a mid-corpus micro-batch cut). Snapshot
    * cost is O(types) per changed language per batch — a production
    * deployment emits on a cadence, the statistic itself is O(1) per
    * observation.
    */
  case class BigramObs(lang: String, w1: String, w2: String)
  case class EntState(c2: Map[String, Long], c1: Map[String, Long])
  case class EntropySnapshot(lang: String, n_bigrams: Long,
      n_contexts: Long, n_types: Long, nats_total: Double,
      entropy_rate_bits: Double)
  def entropyRateFold(lang: String, it: Iterator[BigramObs],
      state: GroupState[EntState]): EntropySnapshot = {
    val st = state.getOption.getOrElse(EntState(Map.empty, Map.empty))
    var c2 = st.c2
    var c1 = st.c1
    it.foreach { o =>
      val k2 = o.w1 + " " + o.w2
      c2 = c2.updated(k2, c2.getOrElse(k2, 0L) + 1L)
      c1 = c1.updated(o.w1, c1.getOrElse(o.w1, 0L) + 1L)
    }
    state.update(EntState(c2, c1))
    // t50's algebra over the live counts: quantize each type's term
    // BEFORE the exact decimal sum (the t44 libm-ln rule)
    var nats = java.math.BigDecimal.ZERO
    var n = 0L
    c2.foreach { case (k2, cc2) =>
      val w1 = k2.substring(0, k2.indexOf(' '))
      val cc1 = c1(w1)
      val term = cc2.toDouble * math.log(cc1.toDouble / cc2.toDouble)
      nats = nats.add(java.math.BigDecimal.valueOf(term)
        .setScale(9, java.math.RoundingMode.HALF_UP))
      n += cc2
    }
    val natsD = nats.doubleValue
    EntropySnapshot(lang, n, c1.size.toLong, c2.size.toLong, natsD,
      (natsD / n.toDouble) / 0.6931471805599453)
  }

  /** m14's streaming twin (the 18th batch==stream fold, and the first
    * MULTIMODAL one): incremental scene-cut detection over a media
    * asset's frame timeline. State per doc is (last consumed
    * frame_idx, its perceptual hash, running frame/cut counts) — four
    * integers, bounded regardless of stream length; each arriving
    * frame past the watermark compares `bit_count(prev ^ ahash) > 8`
    * exactly as batch m14's lag window does, so the final snapshot
    * equals the batch row bit-for-bit (StatefulStreamSpec pins a cut
    * mid-timeline). Frames must arrive in index order, each exactly
    * once; replays/out-of-order drop via the lastIdx guard (the
    * [[holtWintersFold]] discipline — a video ingest emits frames
    * monotonically per asset). Emits one snapshot per doc per batch.
    */
  case class FrameObs(doc_id: Long, frame_idx: Int, ahash: Long)
  case class SceneState(lastIdx: Int, lastHash: Long, nFrames: Long,
      nCuts: Long)
  case class SceneSnapshot(doc_id: Long, n_frames: Long, n_cuts: Long,
      n_scenes: Long, mean_scene_frames: Double)
  def sceneCutFold(doc: Long, it: Iterator[FrameObs],
      state: GroupState[SceneState]): SceneSnapshot = {
    var st = state.getOption.getOrElse(
      SceneState(Int.MinValue, 0L, 0L, 0L))
    it.toArray.sortBy(_.frame_idx).foreach { f =>
      if (f.frame_idx > st.lastIdx) {
        val cut =
          if (st.nFrames > 0L &&
            java.lang.Long.bitCount(st.lastHash ^ f.ahash) > 8) 1L
          else 0L
        st = SceneState(f.frame_idx, f.ahash, st.nFrames + 1L,
          st.nCuts + cut)
      }
    }
    state.update(st)
    SceneSnapshot(doc, st.nFrames, st.nCuts, st.nCuts + 1L,
      st.nFrames.toDouble / (st.nCuts + 1L).toDouble)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Tumbling event-time window aggregate. Streaming twin: identical plan
    // + withWatermark("ts", ...); partial agg keeps the shuffle tiny.
    "q40_tumbling_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("window.start").as("ws"), col("window.end").as("we"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("ws"), col("event_type"))
    }),

    // Sliding window (60 min width, 30 min slide): each event lands in 2
    // windows; Spark's window() expands rows internally.
    "q41_sliding_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("ts"), "60 minutes", "30 minutes"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("window.start").as("ws"), col("window.end").as("we"),
          col("n"), col("n_users"))
        .orderBy(col("ws"))
    }),

    // Session window with a 30-minute inactivity gap, keyed by user.
    "q42_session_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // Stream dedup semantics (keep FIRST by event time) — the
    // deterministic batch twin of dropDuplicates(["user_id","event_type"]).
    "q43_dedup_keep_first" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    // Arbitrary per-key state via mapGroupsWithState (the reference's
    // per-shard batch state machine slot). Batch mode calls the function
    // once per key; the streaming specs drive it incrementally. Events are
    // sorted in-group before folding so the result is deterministic.
    "q44_stateful_sessionization" -> ((s, d) => {
      import s.implicits._
      val evs = Tables.events(s, d)
        .select(col("user_id"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000").as("ts_ms"), col("event_id"))
        .as[Ev]
      evs.groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout)(sessionFold)
        .toDF()
        .orderBy(col("user_id"))
    }),

    // Contiguous-ack watermark — the reference's ResponseCollector
    // semantics (reference main/consumer/ConsumerWorker.scala:259-276,
    // pinned by test/consumer/ConsumerWorkerSpec.scala:156-224): highest
    // sequence number such that every earlier sequence in the shard is
    // acked. Acks are simulated deterministically (every 97th seq fails).
    "q45_contiguous_ack_watermark" -> ((s, d) => {
      val env = Tables.events(s, d)
        .select(col("event_id").as("seq"),
          pmod(col("event_id"), lit(8)).as("shard"),
          (pmod(col("event_id"), lit(97)) =!= 0).as("acked"))
      val firstUnacked = env.filter(!col("acked"))
        .groupBy(col("shard")).agg(min(col("seq")).as("first_unacked"))
      env.filter(col("acked"))
        .join(broadcast(firstUnacked), Seq("shard"), "left")
        .filter(col("first_unacked").isNull
          || col("seq") < col("first_unacked"))
        .groupBy(col("shard")).agg(max(col("seq")).as("watermark"))
        .orderBy(col("shard"))
    }),

    // Canonical ingest envelope (SURVEY.md §1.3) materialized from events
    // and aggregated per shard — proves the envelope schema plumbing
    // (binary payload, decimal seqNo) end-to-end.
    "q46_envelope_per_shard" -> ((s, d) => {
      Tables.events(s, d)
        .select(
          lit("events").as("streamName"),
          concat(lit("shardId-"),
            lpad(pmod(col("user_id"), lit(8)).cast("string"), 12, "0"))
            .as("shardId"),
          col("user_id").cast("string").as("partitionKey"),
          col("event_id").cast("decimal(38,0)").as("seqNo"),
          lit(0L).as("subSeqNo"),
          encode(col("props"), "UTF-8").as("data"),
          col("ts").as("approxArrivalTs"))
        .groupBy(col("shardId"))
        .agg(count(lit(1)).as("n"),
          min(col("seqNo")).cast("double").as("min_seq"),
          max(col("seqNo")).cast("double").as("max_seq"),
          sum(octet_length(col("data"))).as("payload_bytes"))
        .orderBy(col("shardId"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q40_tumbling_window" ->
      s"""SELECT DATE_TRUNC('hour', ts) AS ws,
         DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS we,
         event_type, COUNT(1) AS n, ${dsumSql("value")} AS total_value
         FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type""",

    "q41_sliding_window" ->
      """WITH b AS (SELECT ts, user_id,
           DATE_TRUNC('hour', ts) + CASE WHEN EXTRACT(minute FROM ts) >= 30
             THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS b0
           FROM events),
         w2 AS (SELECT b0 AS ws, user_id FROM b
                UNION ALL
                SELECT b0 - INTERVAL 30 MINUTE AS ws, user_id FROM b)
         SELECT ws, ws + INTERVAL 60 MINUTE AS we, COUNT(1) AS n,
                COUNT(DISTINCT user_id) AS n_users
         FROM w2 GROUP BY ws ORDER BY ws""",

    "q42_session_window" ->
      """WITH mk AS (SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                WHEN ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1
                ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sid AS (SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS s
           FROM mk)
         SELECT user_id, MIN(ts) AS session_start,
                MAX(ts) + INTERVAL 30 MINUTE AS session_end,
                COUNT(1) AS n_events
         FROM sid GROUP BY user_id, s
         ORDER BY user_id, session_start""",

    "q43_dedup_keep_first" ->
      """SELECT user_id, event_type, event_id, ts FROM (
           SELECT user_id, event_type, event_id, ts,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id, event_type""",

    "q44_stateful_sessionization" ->
      """WITH mk AS (SELECT user_id, ts, event_id,
           CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                WHEN ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1
                ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sid AS (SELECT user_id,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS s
           FROM mk),
         g AS (SELECT user_id, s, COUNT(1) AS n FROM sid GROUP BY user_id, s)
         SELECT user_id, COUNT(1) AS n_sessions,
                CAST(SUM(n) AS BIGINT) AS n_events,
                MAX(n) AS max_session_events
         FROM g GROUP BY user_id ORDER BY user_id""",

    "q45_contiguous_ack_watermark" ->
      """WITH env AS (SELECT event_id AS seq, event_id % 8 AS shard,
                             event_id % 97 <> 0 AS acked FROM events),
         gap AS (SELECT shard, MIN(seq) AS first_unacked
                 FROM env WHERE NOT acked GROUP BY shard)
         SELECT e.shard, MAX(e.seq) AS watermark
         FROM env e LEFT JOIN gap g USING (shard)
         WHERE e.acked AND (g.first_unacked IS NULL OR e.seq < g.first_unacked)
         GROUP BY e.shard ORDER BY e.shard""",

    "q46_envelope_per_shard" ->
      """SELECT 'shardId-' || LPAD(CAST(user_id % 8 AS VARCHAR), 12, '0')
                  AS shardId,
                COUNT(1) AS n,
                CAST(MIN(CAST(event_id AS DECIMAL(38,0))) AS DOUBLE) AS min_seq,
                CAST(MAX(CAST(event_id AS DECIMAL(38,0))) AS DOUBLE) AS max_seq,
                CAST(SUM(OCTET_LENGTH(CAST(props AS BLOB))) AS BIGINT)
                  AS payload_bytes
         FROM events GROUP BY 1 ORDER BY shardId"""
  )
}
