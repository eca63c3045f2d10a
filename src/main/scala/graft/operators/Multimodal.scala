package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque `binary` payloads with typed
  * metadata, processed by a partition-mapped typed decode stage — the
  * Spark-side shape of an image/audio decode pipeline. The real decode
  * (image/audio libs) is not available in this container, so the decoder
  * is a deterministic stand-in ([[MultimodalStub.decode]]) that extracts
  * byte-level metadata; the Spark plumbing — binary schema, typed
  * Dataset, mapPartitions batch shape, partition sizing — is real and
  * oracle-checked (byte lengths, header bytes, md5, strided checksum are
  * all recomputable in SQL).
  */
object Multimodal extends OperatorFamily {

  case class MediaIn(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(doc_id: Long, n_bytes: Int, header: Int,
      fp: String, sample_checksum: Long)
  case class MediaResized(doc_id: Long, resized_len: Int, resized_fp: String)
  case class MediaFeatures(doc_id: Long, mean_byte: Double, max_byte: Int,
      n_distinct_bytes: Int)
  case class Frame(doc_id: Long, frame_idx: Int, frame_len: Int,
      frame_fp: String)
  case class MediaHeader(doc_id: Long, width: Int, height: Int,
      codec: String, duration_ms: Int)
  case class MediaAHash(doc_id: Long, ahash: Long)
  case class FrameHash(doc_id: Long, frame_idx: Int, ahash: Long)
  case class FrameEnergy(doc_id: Long, frame_idx: Int, flen: Int,
      energy: Long)

  /** STUB decoder: stands in for image/audio decode + feature extraction.
    * Deterministic byte-level "features": length, first byte, md5 hex,
    * and a strided-sample checksum (every 16th byte — the "frame
    * sampling" shape: O(n_bytes/stride) work per record).
    */
  object MultimodalStub {
    def decode(m: MediaIn): MediaMeta = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(m.payload).map("%02x".format(_)).mkString
      val header = if (m.payload.nonEmpty) m.payload(0) & 0xff else -1
      var checksum = 0L
      var i = 0
      while (i < m.payload.length) {
        checksum = (checksum + (m.payload(i) & 0xff)) % 997
        i += 16
      }
      MediaMeta(m.doc_id, m.payload.length, header, hex, checksum)
    }

    /** "Resize" stub: stride-4 downsample of the payload (the byte-level
      * shape of image downscaling: output size n/4, deterministic). */
    def resize(m: MediaIn): MediaResized = {
      val out = Array.range(0, m.payload.length, 4).map(m.payload(_))
      val md = java.security.MessageDigest.getInstance("MD5")
      MediaResized(m.doc_id, out.length,
        md.digest(out).map("%02x".format(_)).mkString)
    }

    /** The frame slicing every per-frame stub shares: (frame_idx,
      * start, end) of one frame of up to 32 bytes every 64-byte stride
      * — the one-record-to-many-frames generator shape of video frame
      * extraction. An empty payload yields one empty frame. */
    private def slices(m: MediaIn): Iterator[(Int, Int, Int)] =
      Iterator.range(0, math.max(m.payload.length, 1), 64).zipWithIndex
        .map { case (off, idx) =>
          (idx, off, math.min(off + 32, m.payload.length))
        }

    private def slice(m: MediaIn, off: Int, end: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(m.payload, off, end)

    /** "Frame sampling" stub: each [[slices]] frame independently
      * fingerprinted. */
    def frames(m: MediaIn): Iterator[Frame] =
      slices(m).map { case (idx, off, end) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        Frame(m.doc_id, idx, end - off,
          md.digest(slice(m, off, end)).map("%02x".format(_)).mkString)
      }

    /** "Container header" stub: parses the leading 7 payload bytes as a
      * fixed fake header — width/height as 16-bit big-endian pairs, a
      * codec id byte, a 16-bit duration — the typed-metadata-struct
      * shape of real container probing (ffprobe/EXIF). Callers filter
      * payloads shorter than the 7-byte header first. */
    val codecNames: IndexedSeq[String] =
      IndexedSeq("h264", "vp9", "av1", "hevc")
    def header(m: MediaIn): MediaHeader = {
      def u(i: Int): Int = m.payload(i) & 0xff
      MediaHeader(m.doc_id,
        u(0) * 256 + u(1),
        u(2) * 256 + u(3),
        codecNames(u(4) % 4),
        u(5) * 256 + u(6))
    }

    /** Perceptual hash (aHash) over the opaque payload: the bytes are
      * divided into 60 equal block ranges; bit b is set iff block b's
      * byte mean exceeds the whole-payload mean. The mean comparison is
      * an exact integer cross-multiplication
      * (block_sum * n > total_sum * block_len), so the hash — unlike a
      * float-mean aHash — is bit-identical in any engine. This is the
      * downsample-and-threshold shape of real image aHash/dHash; a real
      * deployment swaps the byte blocks for decoded pixel blocks and
      * keeps everything downstream (banding, hamming verify) unchanged. */
    def ahash(m: MediaIn): MediaAHash = {
      val n = m.payload.length
      if (n == 0) return MediaAHash(m.doc_id, 0L)
      val bsum = new Array[Long](60)
      val blen = new Array[Long](60)
      var total = 0L
      var i = 0
      while (i < n) {
        val b = (i.toLong * 60 / n).toInt
        val v = m.payload(i) & 0xff
        bsum(b) += v
        blen(b) += 1
        total += v
        i += 1
      }
      var h = 0L
      var b = 0
      while (b < 60) {
        if (bsum(b) * n > total * blen(b)) h |= 1L << b
        b += 1
      }
      MediaAHash(m.doc_id, h)
    }

    /** Per-frame perceptual hash: [[ahash]] over each [[slices]] frame
      * — the per-frame fingerprint a scene-cut detector compares along
      * the timeline. */
    def frameHashes(m: MediaIn): Iterator[FrameHash] =
      slices(m).map { case (idx, off, end) =>
        FrameHash(m.doc_id, idx,
          ahash(MediaIn(m.doc_id, slice(m, off, end))).ahash)
      }

    /** Per-frame "energy" stub: the byte sum of each [[slices]] frame —
      * the RMS-energy shape a voice-activity detector windows over an
      * audio timeline (exact integers, so the adaptive threshold
      * compares cross-multiplied with no doubles). */
    def frameEnergies(m: MediaIn): Iterator[FrameEnergy] =
      slices(m).map { case (idx, off, end) =>
        var e = 0L
        var i = off
        while (i < end) { e += (m.payload(i) & 0xff); i += 1 }
        FrameEnergy(m.doc_id, idx, end - off, e)
      }

    /** "Feature extraction" stub: byte-level statistics (mean/max/
      * cardinality) — the shape of embedding/feature computation. */
    def features(m: MediaIn): MediaFeatures = {
      var sum = 0L
      var mx = -1
      val seen = new java.util.BitSet(256)
      m.payload.foreach { b =>
        val v = b & 0xff
        sum += v; if (v > mx) mx = v; seen.set(v)
      }
      val mean =
        if (m.payload.isEmpty) 0.0 else sum.toDouble / m.payload.length
      MediaFeatures(m.doc_id, mean, mx, seen.cardinality())
    }
  }

  /** (doc_id, payload): every document's UTF-8 bytes as one opaque
    * media payload — the input of every typed media stage below. */
  private def payloads(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))

  /** [[payloads]] with at least one byte: the media every fingerprint
    * and per-frame timeline stage reads. */
  private def media(s: SparkSession, d: String): DataFrame =
    payloads(s, d).where(length(col("payload")) > 0)

  /** [[payloads]] long enough to carry the 7-byte container header. */
  private def headerable(s: SparkSession, d: String): DataFrame =
    payloads(s, d).where(length(col("payload")) >= 7)

  /** The typed header probe ([[MultimodalStub.header]]) over a
    * [[headerable]] frame (m05/m12/m13/m18). */
  private def headers(base: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    base.as[MediaIn].mapPartitions(_.map(MultimodalStub.header)).toDF()
  }

  /** The codec of a header-parseable `text` column: the column form of
    * [[MultimodalStub.header]]'s codec byte (ASCII corpus, so char 5 is
    * payload byte 4). */
  private def codecOf(text: Column): Column =
    element_at(array(MultimodalStub.codecNames.map(lit): _*),
      (ascii(substring(text, 5, 1)) % 4) + 1)

  /** DuckDB twin of [[codecOf]]; DuckDB lists are 1-indexed. */
  private def codecSql(text: String): String =
    MultimodalStub.codecNames.map(n => s"'$n'").mkString("[", ", ", "]") +
      s"[ORD(SUBSTR($text, 5, 1)) % 4 + 1]"

  /** Per-media aHash fingerprints (doc_id, ahash) — shared by the LSH
    * pair search (m07/m10/m17), its recall evaluation (m11) and the band
    * tuning audit (m19), so every report measures exactly the
    * fingerprints the index banded. */
  private def ahashFrame(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).as[MediaIn].mapPartitions(_.map(MultimodalStub.ahash)).toDF()
  }

  /** m07's verified near-dup pair frame (doc_a, doc_b, hamming): aHash
    * fingerprints (exact integer block-mean thresholding, see
    * MultimodalStub.ahash) + banded LSH candidates + hamming <= 12
    * verification — the "find visually-near-identical images across a
    * crawl" step, next to m06's exact content-hash dedup. Scale shape:
    * the hash is one map pass over the payload; the only shuffles key
    * on (band, band-hash) — the canonical LSH exchange, |docs| x 4
    * rows of 16 bytes, never a payload. Verification runs BEFORE the
    * pair distinct: hamming is a function of the pair, so the result
    * is identical, but the dedup exchange then carries only true
    * near-dups, not every band collision.
    *
    * Eager build: the fingerprint cut and its count run while the
    * DataFrame is built (see [[phashPairsFrom]]). */
  private def phashPairs(s: SparkSession, d: String): DataFrame = {
    val fp = Materialize.LocalCheckpoint(ahashFrame(s, d))
    phashPairsFrom(s, fp, fp.count())
  }

  /** Media count up to which the banding stays 4 x 15 bits and an
    * n-row fingerprint side may be broadcast (see [[phashPairsFrom]]). */
  private[graft] val BandKnee = 32768L

  /** The banded-LSH pair search over a MATERIALIZED fingerprint frame
    * (round 13). The cut means the documents scan + ahash map pass runs
    * ONCE per query instead of once per consumer (m11 previously paid
    * it 3x: truth + both derivations inside this method). The round-12
    * revert ("a cut erases size stats, the band join flips from
    * auto-broadcast to sort-merge, 0.6 s -> 3.1 s") is answered the way
    * the lesson prescribed rather than by giving up the cut: the join
    * strategy is chosen HERE, deterministically, from the actual media
    * count `nMedia` of `fp`, which the caller takes — counting an
    * eagerly-checkpointed frame is a local block scan, and n_media is
    * exactly the scalar the count-adaptive banding already keys on.
    * That count is a Spark job at DataFrame-construction time, so every
    * caller (m07/m10/m11/m17) is an eager-build query, declared in
    * `OperatorsSmokeSpec.eagerBuild`. Banding stays COUNT-ADAPTIVE (the
    * ScaleCurve lesson): 4 bands x 15 bits carries a random-collision
    * candidate term ~ 4n²/2^15 that turns super-linear past n ≈ 32768
    * media items; above that the banding widens to 3 bands x 20 bits —
    * one fewer collision chance (recall, which m11 measures) for a
    * collision term that stays ~linear. The same knee decides the join:
    * at n <= 32768 the banded probe side (n·nb rows of 16 bytes,
    * <= ~3 MB framed) is explicitly broadcast; past it the join falls
    * back to the canonical shuffled LSH exchange on (band, bh) — never
    * a corpus-sized broadcast. Values are identical either way (same
    * nb/w per n_media as the old in-plan scalar; join strategy does not
    * change results), so the oracle CTEs are untouched.
    *
    * One-long-key rule: `bh` is an INT (it holds at most 20 bits), so the
    * `(band int, bh int)` join key packs into one long
    * (`HashJoin.rewriteKeyExpr`) and the broadcast builds a
    * `LongHashedRelation`, sized to its rows. An `(int, bigint)` key
    * builds an `UnsafeHashedRelation`, whose map pins one whole
    * `spark.buffer.pageSize` page (32 MiB on a 3 GB heap) on every
    * executor for as long as the broadcast lives. */
  private[graft] def phashPairsFrom(s: SparkSession, fp: DataFrame,
      nMedia: Long): DataFrame = {
    val (nb, w) = if (nMedia <= BandKnee) (4, 15) else (3, 20)
    val banded = fp
      .select(col("doc_id"), col("ahash"),
        explode(expr(s"sequence(0, ${nb - 1})")).as("band"))
      .withColumn("bh", expr(s"CAST(shiftright(ahash, CAST(band * $w AS INT))" +
        s" & ${(1L << w) - 1}L AS INT)"))
      .select(col("doc_id"), col("ahash"), col("band"), col("bh"))
    val a = banded.select(col("doc_id").as("doc_a"),
      col("ahash").as("ha"), col("band"), col("bh"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("ahash").as("hb"), col("band"), col("bh"))
    val probe = if (nMedia <= BandKnee) broadcast(b) else b
    a.join(probe, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
      .filter(col("hamming") <= 12)
      .distinct()
  }

  /** m11's recall report over a MATERIALIZED fingerprint frame `fp`
    * (doc_id, ahash): per hamming bucket, the exhaustive truth pairs
    * (a < b, hamming <= 12) and how many of them the banded index
    * ([[phashPairsFrom]]) finds. One cut is shared by the truth scan and
    * the banded index (round 13): the documents scan + ahash pass ran
    * 3x here before (truth + twice inside phashPairs). The truth side's
    * build frame is explicitly broadcast — n rows of 16 bytes, and the
    * O(n²) scan is this query's DECLARED eval-twin contract — because
    * the cut erases the stats the auto-broadcast decision used. The
    * hint is guarded by the banded index's knee, on the count the index
    * needs anyway, so no corpus-sized frame is ever broadcast.
    *
    * found ⊆ truth: both keep doc_a < doc_b and hamming <= 12 over the
    * same fingerprints, and doc ids are unique. So counting the union
    * of both sides per bucket gives exactly the counts of a truth LEFT
    * JOIN found on (doc_a, doc_b), without that join, whose two-long
    * key would build an `UnsafeHashedRelation` (one-long-key rule, see
    * [[phashPairsFrom]]). */
  private[graft] def phashRecall(s: SparkSession, fp: DataFrame)
      : DataFrame = {
    val nMedia = fp.count()
    val a = fp.select(col("doc_id").as("doc_a"), col("ahash").as("ha"))
    val b = fp.select(col("doc_id").as("doc_b"), col("ahash").as("hb"))
    val truth = a.join(if (nMedia <= BandKnee) broadcast(b) else b,
        col("doc_a") < col("doc_b"))
      .select(expr("CAST(bit_count(ha ^ hb) AS INT)").as("hamming"))
      .filter(col("hamming") <= 12)
    val found = phashPairsFrom(s, fp, nMedia).select(col("hamming"))
    truth.withColumn("is_truth", lit(true))
      .unionByName(found.withColumn("is_truth", lit(false)))
      .groupBy(when(col("hamming") <= 4, "d00_04")
        .when(col("hamming") <= 8, "d05_08")
        .otherwise("d09_12").as("bucket"))
      .agg(count_if(col("is_truth")).as("n_true"),
        count_if(!col("is_truth")).as("n_found"))
      .withColumn("recall",
        col("n_found").cast("double") / col("n_true"))
      .orderBy(col("bucket"))
  }

  /** Media near-dup clusters (doc_id, cluster_rep) over the
    * [[phashPairs]] graph, with `nodes` (doc_id) as the vertex set. */
  private def mediaClusters(s: SparkSession, d: String,
      nodes: DataFrame): DataFrame =
    DedupOps.connectedComponents(nodes,
        phashPairs(s, d).select(col("doc_a"), col("doc_b")))._1
      .select(col("doc_id"), col("lbl").as("cluster_rep"))

  private val frameOrder =
    Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))

  /** m14/m20's per-frame timeline (doc_id, frame_idx, ahash, prev):
    * per-frame aHash ([[MultimodalStub.frameHashes]]) next to the
    * previous frame's (null on a medium's first frame). Hashing is a
    * pure map over payload partitions; the lag window partitions by
    * doc_id, so only (doc_id, idx, 8-byte hash) rows ever shuffle. */
  private def frameTimeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    media(s, d).as[MediaIn]
      .mapPartitions(_.flatMap(MultimodalStub.frameHashes)).toDF()
      .withColumn("prev", lag(col("ahash"), 1).over(frameOrder))
  }

  /** 1 where a [[frameTimeline]] frame starts a new scene (a hamming
    * jump > 8 from the previous frame), else 0. */
  private val sceneCut: Column = when(col("prev").isNotNull &&
    expr("bit_count(prev ^ ahash)") > 8, 1L).otherwise(0L)

  /** Shard byte budget of the media training-shard layout (m08/m16). */
  private val ShardBytes = 65536L

  /** m08's byte-budget shard manifest (doc_id, codec, n_bytes,
    * cum_bytes, shard_idx), shared with m16's balance audit: each header-parseable
    * record lands in the [[ShardBytes]] shard its bytes START in, per
    * codec stream, via [[Packing.twoPhasePrefixSum]] (no codec stream
    * funnels through one task). Reads [[Tables.documentsNarrow]]: the
    * per-row work is one octet_length, and the spread exchange costs
    * more than the parallelism buys (measured 4.6 s vs 1.0 s at sf0.1).
    * Eager build: the prefix sum cuts its block frame. */
  private def shardManifest(s: SparkSession, d: String): DataFrame = {
    val frame = Tables.documentsNarrow(s, d)
      .filter(length(col("text")) >= 7) // header-parseable media (m05)
      .select(col("doc_id"), codecOf(col("text")).as("codec"),
        octet_length(encode(col("text"), "UTF-8")).cast("int")
          .as("n_bytes"))
    Packing.twoPhasePrefixSum(frame, "codec", "n_bytes")
      .withColumnRenamed("cum", "cum_bytes")
      .withColumn("shard_idx",
        expr(s"(cum_bytes - n_bytes) div $ShardBytes"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary ingest -> typed partition-mapped decode -> metadata table.
    "m01_multimodal_decode" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).as[MediaIn]
        .mapPartitions(_.map(MultimodalStub.decode))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // Stride-downsample "resize" stage over binary payloads.
    "m02_multimodal_resize" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).as[MediaIn]
        .mapPartitions(_.map(MultimodalStub.resize))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // Byte-statistics "feature extraction" stage.
    "m03_multimodal_features" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).as[MediaIn]
        .mapPartitions(_.map(MultimodalStub.features))
        .toDF()
        .orderBy(col("doc_id"))
    }),

    // Typed metadata-struct decode (fake container header) + a rollup
    // by codec — the "probe then aggregate by format" pipeline stage.
    "m05_multimodal_header" -> ((s, d) => {
      headers(headerable(s, d)).groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          (sum(col("width")).cast("double") / count(lit(1)))
            .as("avg_width"),
          (sum(col("height")).cast("double") / count(lit(1)))
            .as("avg_height"),
          max(col("duration_ms")).as("max_duration_ms"))
        .orderBy(col("codec"))
    }),

    // Per-codec payload SIZE profile: exact byte-size quartiles, total
    // and max bytes per codec stream — the capacity table behind m08's
    // shard packing (shard budgets are set per codec, and the p75/max
    // spread says whether a stream needs size-partitioned shards or
    // one budget fits all). Scale: the typed header probe and the
    // byte length are both in-row map work over the payload; the only
    // exchange is the doc_id equi-join between the two map outputs
    // (at 100 TB, fold the byte length into the header stub to make
    // it exchange-free — kept separate here so the typed-stage
    // composition is what's tested); quartile interpolation at binary
    // fractions over small-integer byte counts is bit-exact (q50's
    // argument).
    "m12_codec_size_profile" -> ((s, d) => {
      val base = headerable(s, d)
      val meta = headers(base).select(col("doc_id"), col("codec"))
      val sz = base.select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"))
      meta.join(sz, Seq("doc_id"))
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_bytes")).as("total_bytes"),
          expr("percentile(n_bytes, 0.25)").as("p25"),
          median(col("n_bytes")).as("med"),
          expr("percentile(n_bytes, 0.75)").as("p75"),
          max(col("n_bytes")).as("max_bytes"))
        .orderBy(col("codec"))
    }),

    // RESOLUTION profile: orientation × pixel-count bucket histogram
    // from the typed header probe — the media-curation table behind
    // "what resize targets does this corpus need" (a training mix
    // resamples per resolution tier, and a tier with three rows isn't
    // worth a decode branch). Orientation is an integer compare,
    // px_bucket an integer division — both row-local over the m05
    // header frame, so the only exchange is the final tiny rollup
    // (|orientations| × |buckets| groups). Width·height is widened to
    // BIGINT before multiplying: 65535² overflows INT, and under ANSI
    // mode (the engine default) that would fail the query rather than
    // wrap.
    "m13_resolution_profile" -> ((s, d) => {
      headers(headerable(s, d))
        .withColumn("orientation",
          when(col("width") > col("height"), "landscape")
            .when(col("width") < col("height"), "portrait")
            .otherwise("square"))
        .withColumn("px_bucket",
          expr("(CAST(width AS BIGINT) * height) div 200000000"))
        .groupBy(col("orientation"), col("px_bucket"))
        .agg(count(lit(1)).as("n"),
          (sum(col("width")).cast("double") / count(lit(1)))
            .as("avg_width"),
          (sum(col("height")).cast("double") / count(lit(1)))
            .as("avg_height"),
          (sum(col("duration_ms")).cast("double") / count(lit(1)))
            .as("avg_duration_ms"))
        .orderBy(col("orientation"), col("px_bucket"))
    }),

    // Media dedup by content fingerprint: the binary-payload twin of
    // d01 — identical payload bytes collapse to one representative
    // (min doc_id) with a copy count. This is the "dedup images/audio
    // across a crawl" step: the groupBy key is the md5 of the OPAQUE
    // payload, so it works for any modality without decoding, and the
    // shuffle moves 32-hex fingerprints, not payloads.
    "m06_multimodal_dedup" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).as[MediaIn]
        .mapPartitions(_.map(MultimodalStub.decode))
        .toDF()
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("n_bytes")).as("n_bytes"),
          count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("fp"), col("n_bytes"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // Perceptual-hash media NEAR-dup pairs (see [[phashPairs]]).
    "m07_multimodal_phash_neardup" -> ((s, d) =>
      phashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // pHash index RECALL (e07's discipline applied to the media
    // index): m07's banded-LSH pairs measured against the exhaustive
    // hamming<=12 ground truth over the SAME aHash fingerprints,
    // bucketed by distance. 4 bands x 15 bits guarantee recall 1.0
    // only up to hamming 3 (pigeonhole: <=3 flipped bits cannot touch
    // all 4 bands); beyond that an all-bands-hit pair is possible and
    // this report is what says whether the banding is actually losing
    // pairs where it matters (near-threshold distances). Ground-truth
    // side is the O(n²) scan — per-bucket / sampled only, like every
    // eval twin (e02/e07/e14); the index side is the m07 scale path.
    "m11_phash_recall" -> ((s, d) =>
      phashRecall(s, Materialize.LocalCheckpoint(ahashFrame(s, d)))),

    // Media near-dup CLUSTERS: m07's verified pair graph collapsed by
    // the same path-halving connected components the text corpus uses
    // (d07) — keep-canonical over visually-near-identical media is a
    // cluster decision, not a pair decision (A~B and B~C must land in
    // one group even when A~C's hamming exceeds the bound). Every
    // medium reports its cluster representative (min doc_id;
    // singletons point at themselves) — the frame a keep-canonical
    // filter or a m08 manifest consumes.
    "m10_media_neardup_components" -> ((s, d) =>
      mediaClusters(s, d, media(s, d).select(col("doc_id")))
        .orderBy(col("doc_id"))),

    // One-record-to-many-frames sampling stage (generator shape).
    "m04_multimodal_frames" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).as[MediaIn]
        .mapPartitions(_.flatMap(MultimodalStub.frames))
        .toDF()
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Cross-media repeated-frame detection: frames (m04's sampling
    // stage) whose fingerprint recurs in >= 2 distinct media records —
    // the intro/outro/watermark-frame signal of video corpus prep
    // (shared openings dominate crawled video; dropping them is the
    // frame-level analogue of t17's boilerplate lines). Report rows
    // are (frame_fp, n_media, n_occurrences, first doc) — the shuffle
    // carries 32-hex fingerprints, never frame bytes.
    "m09_repeated_frames" -> ((s, d) => {
      import s.implicits._
      payloads(s, d).as[MediaIn]
        .mapPartitions(_.flatMap(MultimodalStub.frames))
        .toDF()
        .groupBy(col("frame_fp"))
        .agg(countDistinct(col("doc_id")).as("n_media"),
          count(lit(1)).as("n_occurrences"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_media") >= 2)
        .orderBy(col("frame_fp"))
    }),

    // Training-shard manifest for media payloads: assign each media
    // record to the fixed-byte-budget shard (64 KiB here; GB-scale in
    // production) its bytes START in, per codec stream — the "pack
    // media into webdataset-style shards" layout step of a multimodal
    // training pipeline, computed with [[Packing.twoPhasePrefixSum]]
    // (t07's shared 100 TB running-sum shape) so no codec stream ever
    // funnels through one task. The manifest is what a downstream
    // shard writer consumes; shard boundaries are deterministic
    // functions of (codec, doc order).
    "m08_media_shard_manifest" -> ((s, d) =>
      shardManifest(s, d)
        .select(col("doc_id"), col("codec"), col("n_bytes"),
          col("cum_bytes"), col("shard_idx"))
        .orderBy(col("doc_id"))),

    // SCENE-CUT detection: per-frame perceptual hashes (m04's slicing +
    // m07's exact-integer aHash) compared along each medium's timeline;
    // a hamming jump > 8 between successive frames marks a cut, and the
    // report is the per-medium segmentation profile (frame count, cuts,
    // scenes, mean scene length) — the keyframe-selection front end of
    // video corpus prep (sample one frame per scene instead of one per
    // stride). Scale shape: frame hashing is a pure map over payload
    // partitions; the lag window partitions by doc_id (timeline-local,
    // high cardinality); the rollup partial-aggregates to one row per
    // medium. Nothing wider than (doc_id, idx, 8-byte hash) ever
    // shuffles — frames stay where they were decoded.
    "m14_scene_cuts" -> ((s, d) => {
      frameTimeline(s, d)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"), sum(sceneCut).as("n_cuts"))
        .select(col("doc_id"), col("n_frames"), col("n_cuts"),
          (col("n_cuts") + 1L).as("n_scenes"),
          (col("n_frames").cast("double")
            / (col("n_cuts") + 1L).cast("double")).as("mean_scene_frames"))
        .orderBy(col("doc_id"))
    }),

    // FRAME-SAMPLER COVERAGE AUDIT (round 10) — the question every
    // fixed-fps video sampler begs: at keep-every-k, how many SCENES
    // (m14's cut-delimited runs) contribute zero frames to the
    // training set? A scene [s, e] (0-based frame indices) is
    // represented iff some kept index k·i lands inside it — pure
    // integer algebra, (e div k) >= ((s + k - 1) div k) — so the
    // audit never enumerates kept frames. Reported per k ∈ {2, 4, 8}:
    // scenes missed, the frame budget spent (kept ratio), and how
    // long the missed scenes were (short scenes are exactly what
    // fixed-rate sampling loses — the motivation for cut-aware
    // samplers). Scale shape: the m14 per-doc frame/cut pipeline,
    // one (doc, scene) rollup, a 3-value in-row k-explode, two tiny
    // per-k aggregates joined broadcast.
    "m20_sampler_coverage" -> ((s, d) => {
      val fr = frameTimeline(s, d)
        .withColumn("cut", sceneCut)
        .withColumn("scene", sum(col("cut")).over(frameOrder
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val scenes = fr.groupBy(col("doc_id"), col("scene"))
        .agg(min(col("frame_idx")).cast("long").as("s0"),
          max(col("frame_idx")).cast("long").as("e0"),
          count(lit(1)).as("len"))
      val ks = array(lit(2L), lit(4L), lit(8L))
      val perScene = scenes.withColumn("k", explode(ks))
        .withColumn("missed", when(
          expr("e0 div k") < expr("(s0 + k - 1) div k"), 1L)
          .otherwise(0L))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_scenes"),
          sum(col("missed")).as("n_scenes_missed"),
          sum(when(col("missed") === 1L, col("len")).otherwise(0L))
            .as("missed_frames"))
      val perDoc = scenes.groupBy(col("doc_id"))
        .agg(max(col("e0")).as("last0"), sum(col("len")).as("nf"))
        .withColumn("k", explode(ks))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("last0 div k") + lit(1L)).as("kept_frames"),
          sum(col("nf")).as("total_frames"))
      perScene.join(perDoc, Seq("k"))
        .select(col("k"), col("n_docs"), col("n_scenes"),
          col("n_scenes_missed"),
          (col("n_scenes_missed").cast("double") /
            col("n_scenes").cast("double")).as("miss_rate"),
          (col("kept_frames").cast("double") /
            col("total_frames").cast("double")).as("kept_frame_ratio"),
          when(col("n_scenes_missed") > 0L,
            col("missed_frames").cast("double") /
              col("n_scenes_missed").cast("double"))
            .as("mean_missed_scene_len"))
        .orderBy(col("k"))
    }),

    // VOICE-ACTIVITY SEGMENTATION (round 12): the speech-data
    // pipeline's first cut — window the media timeline into frames,
    // score each frame's energy, keep frames above the recording's
    // OWN mean energy density (adaptive threshold: a quiet podcast
    // and a loud stream segment correctly under one rule), and stitch
    // consecutive kept frames into segments (gaps-and-islands:
    // frame_idx − row_number per doc). Decode is the deterministic
    // byte-energy stub ([[MultimodalStub.frameEnergies]]); the
    // Spark-side plumbing — frame explode, exact-integer adaptive
    // threshold (e·Σlen > Σe·len cross-multiplied, no doubles), island
    // assembly, per-segment rollup — is the real operator. Scale
    // shape: frames never shuffle with payloads (the stub emits
    // 4-integer rows), the threshold join keys on doc_id against a
    // per-doc 1-row aggregate, and the islands window partitions by
    // doc. Emits one row per segment.
    "m21_voice_activity_segments" -> ((s, d) => {
      import s.implicits._
      val fr = media(s, d).as[MediaIn]
        .mapPartitions(_.flatMap(MultimodalStub.frameEnergies))
        .toDF()
      val tot = fr.groupBy(col("doc_id"))
        .agg(sum(col("energy")).as("tot_e"),
          sum(col("flen")).cast("long").as("tot_len"))
      val voiced = fr.join(tot, Seq("doc_id"))
        .filter(col("energy") * col("tot_len") >
          col("tot_e") * col("flen").cast("long"))
      voiced
        .withColumn("grp", col("frame_idx").cast("long") -
          row_number().over(frameOrder).cast("long"))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("frame_idx")).cast("long").as("seg_start"),
          max(col("frame_idx")).cast("long").as("seg_end"),
          count(lit(1)).as("n_frames"),
          sum(col("energy")).as("seg_energy"),
          sum(col("flen")).cast("long").as("seg_bytes"))
        .select(col("doc_id"), col("seg_start"), col("seg_end"),
          col("n_frames"), col("seg_energy"), col("seg_bytes"),
          (col("seg_energy").cast("double") /
            col("seg_bytes").cast("double")).as("energy_per_byte"))
        .orderBy(col("doc_id"), col("seg_start"))
    }),

    // CLIP-REUSE detection: maximal runs of CONSECUTIVE shared frames
    // between two media — m09 finds frames that recur anywhere, this
    // finds the aligned sequences (the "same clip spliced into two
    // videos" audit, d15's repeated-span mining lifted to the frame
    // timeline). Matching positions (ia, ib) with equal content hash
    // lie on diagonal ia − ib; the island merge (ia − row_number per
    // (pair, diagonal)) stitches them into clips, keeping runs of
    // ≥ 3 frames (singles are m09's business). Scale shape: frames
    // never carry payload bytes past the stub — the match join keys
    // on the 16-byte content hash, the islands window partitions by
    // (pair, diagonal), and every exchange row is five integers.
    "m15_clip_reuse" -> ((s, d) => {
      import s.implicits._
      val f = payloads(s, d).as[MediaIn]
        .mapPartitions(_.map(MultimodalStub.frames).flatten)
        .toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("idx"),
          col("frame_fp").as("fp"))
      val m = f.toDF("doc_a", "ia", "fp")
        .join(f.toDF("doc_b", "ib", "fp"), Seq("fp"))
        .filter(col("doc_a") < col("doc_b"))
      val wRun = Window.partitionBy(col("doc_a"), col("doc_b"),
        col("ia") - col("ib")).orderBy(col("ia"))
      m.withColumn("run", col("ia") - row_number().over(wRun))
        .groupBy(col("doc_a"), col("doc_b"),
          (col("ia") - col("ib")).as("diag"), col("run"))
        .agg(min(col("ia")).as("start_a"), min(col("ib")).as("start_b"),
          count(lit(1)).as("clip_len"))
        .filter(col("clip_len") >= 3)
        .select(col("doc_a"), col("doc_b"), col("start_a"),
          col("start_b"), col("clip_len"))
        .orderBy(col("doc_a"), col("doc_b"), col("start_a"),
          col("start_b"))
    }),

    // SHARD-BALANCE audit of m08's manifest — the e18 stance applied
    // to the media layout: per codec stream, how many shards the
    // byte-budget packing produced and how level they are (max/min/
    // mean shard bytes, item counts). The last shard of each stream
    // is partial by construction; the audit reports it rather than
    // hiding it, because a downstream reader sees exactly these
    // files. Scale shape: reuses m08's two-phase prefix sum (no
    // codec stream funnels through one task), then two tiny rollups
    // keyed by (codec, shard) and codec.
    "m16_shard_balance" -> ((s, d) => {
      shardManifest(s, d).groupBy(col("codec"), col("shard_idx"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("n_bytes").cast("long")).as("bytes"))
        .groupBy(col("codec"))
        .agg(count(lit(1)).as("n_shards"),
          sum(col("n_items")).as("n_items"),
          sum(col("bytes")).as("total_bytes"),
          max(col("bytes")).as("max_shard_bytes"),
          min(col("bytes")).as("min_shard_bytes"))
        .withColumn("mean_shard_bytes",
          col("total_bytes").cast("double") /
            col("n_shards").cast("double"))
        .orderBy(col("codec"))
    }),

    // DEDUP-SAVINGS manifest: for every m10 near-dup cluster keep the
    // smallest-payload member (ties by doc_id) and price what a
    // keep-one-per-cluster policy buys, per the kept record's codec —
    // the storage/decode-compute audit a multimodal pipeline reads
    // BEFORE committing to dedup (m07 finds pairs, m10 clusters them,
    // this prices the decision; the byte deltas are exactly what the
    // shard writer m08 would no longer pack). Scale: rides m10's
    // banded-LSH candidate generation (never O(n²)); codec parse and
    // byte counts are in-row; the per-cluster rollup keys on
    // cluster_rep; the report is |codecs|+1 rows.
    "m17_dedup_savings" -> ((s, d) => {
      val payload = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          octet_length(encode(col("text"), "UTF-8")).cast("long")
            .as("n_bytes"))
        .where(col("n_bytes") > 0)
      val meta = payload.select(col("doc_id"), col("n_bytes"),
        when(length(col("text")) >= 7, codecOf(col("text")))
          .otherwise(lit("unknown")).as("codec"))
      val clusters = mediaClusters(s, d, payload.select(col("doc_id")))
        .join(meta, Seq("doc_id"))
        .groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bytes")).as("bytes_total"),
          min(struct(col("n_bytes"), col("doc_id"))).as("keep"),
          min_by(col("codec"),
            struct(col("n_bytes"), col("doc_id"))).as("codec"))
      clusters.groupBy(col("codec"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_docs")).as("n_docs"),
          (sum(col("n_docs")) - count(lit(1))).as("n_dropped"),
          sum(col("bytes_total")).as("bytes_total"),
          sum(col("keep.n_bytes")).as("bytes_kept"),
          (sum(col("bytes_total")) - sum(col("keep.n_bytes")))
            .as("bytes_saved"))
        .orderBy(col("codec"))
    }),

    // ASPECT-RATIO BUCKET PACKING — multimodal training batches must
    // group images of like aspect ratio (resize-to-bucket wastes
    // pixels or distorts otherwise): assign every decoded header to
    // the NEAREST of 5 canonical ratios and emit the per-bucket batch
    // manifest (batch size 16). The argmin is EXACT RATIONAL
    // arithmetic, no division: |w/h − bw/bh| ordered via the integer
    // key |w·bh − h·bw| · (144/bh) — the h in every denominator
    // cancels in pairwise comparisons and 144 = lcm of the bh set, so
    // the scaled costs compare exactly across buckets (ties broken by
    // bucket name via a struct min). Scale shape: header probe and
    // bucket argmin are in-row map work (5-way explode over a
    // broadcast-literal bucket table); the only exchange is the
    // |buckets|-row manifest rollup. Batch counts are pure arithmetic
    // on n — per-batch doc assignment at scale rides
    // Packing.orderedRank per bucket.
    "m18_aspect_bucket_pack" -> ((s, d) => {
      val meta = headers(headerable(s, d))
      val bucketDefs = Seq(("square", 1, 1), ("landscape_4_3", 4, 3),
        ("portrait_3_4", 3, 4), ("wide_16_9", 16, 9),
        ("tall_9_16", 9, 16))
      // the exact-rational argmin needs mult = LCM/bh to be an exact
      // integer — a bucket whose bh does not divide the scale constant
      // would silently truncate and break the ordering
      val bhLcm = 144
      bucketDefs.foreach { case (nm, _, bh) =>
        require(bhLcm % bh == 0,
          s"bucket $nm: bh=$bh does not divide $bhLcm — recompute the lcm")
      }
      val bArr = array(
        bucketDefs.map { case (nm, bw, bh) =>
          struct(lit(nm).as("bucket"), lit(bw).as("bw"),
            lit(bh).as("bh"), lit(bhLcm / bh).as("mult"))
        }: _*)
      meta.select(col("doc_id"), col("width"), col("height"),
          explode(bArr).as("b"))
        .withColumn("cost",
          abs(col("width") * col("b.bh") - col("height") * col("b.bw"))
            .cast("long") * col("b.mult"))
        .groupBy(col("doc_id"), col("width"), col("height"))
        .agg(min(struct(col("cost"), col("b.bucket"))).as("pick"))
        .groupBy(col("pick.bucket").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          expr("(count(1) + 15) div 16").as("n_batches"),
          expr("count(1) - ((count(1) + 15) div 16 - 1) * 16")
            .as("tail_fill"),
          (sum(col("width")).cast("double") / count(lit(1)))
            .as("avg_width"),
          (sum(col("height")).cast("double") / count(lit(1)))
            .as("avg_height"))
        .orderBy(col("bucket"))
    }),

    // pHASH BAND-TUNING AUDIT — the d18 idiom for the media index:
    // price the exact trade the count-adaptive banding in
    // [[phashPairs]] makes. For configs {4x15, 3x20, 2x30} over the
    // 60-bit ahash: CANDIDATE COST from bucket sizes alone
    // (Σ s·(s−1)/2 per (band, bucket) — a rollup, never a pair scan,
    // the count that stays computable at any corpus size) and RECALL
    // against the exhaustive hamming ≤ 12 truth (declared eval-twin,
    // the m11 contract). Reading this table IS the adaptive-banding
    // decision: wider bands cut the random-collision candidate term
    // ~n²/2^w at the price of fewer collision chances. The fingerprint
    // frame is materialized once and shared by all three configs and
    // the truth scan.
    "m19_band_tuning" -> ((s, d) => {
      val fp = Materialize.LocalCheckpoint(ahashFrame(s, d))
      val truthCnt = fp.as("a").join(fp.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .filter(expr("bit_count(a.ahash ^ b.ahash) <= 12"))
        .agg(count(lit(1)).as("n_truth"))
      val configs = Seq((4, 15L), (3, 20L), (2, 30L))
      val rows = configs.map { case (nb, w) =>
        val banded = fp.select(col("doc_id"), col("ahash"),
          explode(expr(s"sequence(0, ${nb - 1})")).as("band"))
          .withColumn("bh",
            expr(s"shiftright(ahash, CAST(band * $w AS INT)) & ${(1L << w) - 1}L"))
        val cost = banded.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("sz"))
          .agg(sum(expr("sz * (sz - 1) div 2")).as("n_candidate_pairs"),
            sum(when(col("sz") > 1L, 1L).otherwise(0L))
              .as("n_hot_buckets"))
        val found = banded.as("x").join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
              && col("x.doc_id") < col("y.doc_id"))
          .filter(expr("bit_count(x.ahash ^ y.ahash) <= 12"))
          .select(col("x.doc_id"), col("y.doc_id")).distinct()
          .agg(count(lit(1)).as("n_found"))
        cost.crossJoin(found)
          .select(lit(s"${nb}x$w").as("config"),
            col("n_candidate_pairs"), col("n_hot_buckets"),
            col("n_found"))
      }
      rows.reduce(_ unionByName _)
        .crossJoin(broadcast(truthCnt))
        .select(col("config"), col("n_candidate_pairs"),
          col("n_hot_buckets"), col("n_found"), col("n_truth"),
          when(col("n_truth") > 0L,
            col("n_found").cast("double") / col("n_truth").cast("double"))
            .as("recall"),
          when(col("n_candidate_pairs") > 0L,
            col("n_found").cast("double") /
              col("n_candidate_pairs").cast("double"))
            .as("candidate_yield"))
        .orderBy(col("config"))
    })
  )

  /** DuckDB twin of [[media]]: CTE `s` (doc_id, text, n = byte
    * length) over non-empty payloads. The corpus is ASCII, so
    * ORD(SUBSTR(text, i, 1)) is payload byte i - 1. */
  private val MediaCte =
    """s AS (SELECT doc_id, text,
         CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS INT) AS n
         FROM documents WHERE OCTET_LENGTH(CAST(text AS BLOB)) > 0)"""

  /** DuckDB twin of [[ahashFrame]]: [[MediaCte]], then the identical
    * integer block-mean arithmetic as MultimodalStub.ahash (exact
    * cross-multiplication, no float means) into CTE `fp` (doc_id,
    * ahash). */
  private val AhashCtes =
    s"""$MediaCte,
       ch AS (SELECT doc_id, n, i, ORD(SUBSTR(text, i, 1)) AS v,
                ((i-1)*60)//n AS b
              FROM s, UNNEST(GENERATE_SERIES(1, n)) AS t(i)),
       tot AS (SELECT doc_id, n, SUM(v) AS total FROM ch
               GROUP BY doc_id, n),
       blk AS (SELECT doc_id, b, SUM(v) AS bsum, COUNT(1) AS blen
               FROM ch GROUP BY doc_id, b),
       fp AS (SELECT blk.doc_id,
                CAST(SUM(CASE WHEN bsum*tot.n > tot.total*blen
                         THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                  AS ahash
              FROM blk JOIN tot ON blk.doc_id = tot.doc_id
              GROUP BY blk.doc_id)"""

  /** DuckDB twin of [[phashPairs]]: [[AhashCtes]], the same
    * count-adaptive banding, and CTE `cand` (doc_a, doc_b, hamming) of
    * the band-colliding pairs at hamming <= 12. */
  private val PairCtes =
    s"""$AhashCtes,
       bw AS (SELECT CASE WHEN COUNT(*) <= $BandKnee THEN 4 ELSE 3 END
                  AS nb,
                CASE WHEN COUNT(*) <= $BandKnee THEN 15 ELSE 20 END AS w
              FROM fp),
       banded AS (SELECT doc_id, ahash,
                    (ahash >> (j*w)) & ((1::BIGINT << w) - 1) AS bh,
                    j AS band
                  FROM fp, bw, UNNEST(GENERATE_SERIES(0, nb - 1))
                    AS t2(j)),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT)
                    AS hamming
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bh = b.bh
                 AND a.doc_id < b.doc_id
                 AND bit_count(xor(a.ahash, b.ahash)) <= 12)"""

  /** DuckDB twin of [[mediaClusters]] over the [[PairCtes]] graph with
    * `s` as the vertex set: CTE `comp` (doc_id, cluster_rep). Needs
    * WITH RECURSIVE. */
  private val ClusterCtes =
    s"$PairCtes,\n       ${DedupOps.componentCtes("cand", "s")}"

  /** DuckDB twin of the stub's frame slicing over [[MediaCte]]: CTE
    * `fr` (doc_id, f = 1-based frame number, off = 1-based start,
    * flen). */
  private val FrameCtes =
    s"""$MediaCte,
       fr AS (SELECT doc_id, f, (f-1)*64 + 1 AS off,
                LEAST(32, n - ((f-1)*64 + 1) + 1) AS flen
              FROM s, UNNEST(GENERATE_SERIES(1, ((n-1)//64) + 1))
                AS t(f))"""

  /** DuckDB twin of [[frameTimeline]]: [[FrameCtes]], m07's integer
    * aHash per frame, and CTE `lg` (doc_id, f, ahash, prev). */
  private val TimelineCtes =
    s"""$FrameCtes,
       ch AS (SELECT fr.doc_id, fr.f, fr.flen,
                ORD(SUBSTR(s.text, fr.off + i - 1, 1)) AS v,
                ((i-1)*60)//fr.flen AS b
              FROM fr JOIN s USING (doc_id),
                UNNEST(GENERATE_SERIES(1, fr.flen)) AS t(i)),
       tot AS (SELECT doc_id, f, flen, SUM(v) AS total FROM ch
               GROUP BY 1, 2, 3),
       blk AS (SELECT doc_id, f, b, SUM(v) AS bsum, COUNT(1) AS blen
               FROM ch GROUP BY 1, 2, 3),
       fp AS (SELECT blk.doc_id, blk.f,
                CAST(SUM(CASE WHEN bsum*tot.flen > tot.total*blen
                         THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
                  AS ahash
              FROM blk JOIN tot ON blk.doc_id = tot.doc_id
                AND blk.f = tot.f
              GROUP BY 1, 2),
       lg AS (SELECT doc_id, f, ahash,
                lag(ahash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
              FROM fp)"""

  /** DuckDB twin of [[sceneCut]] over `lg`. */
  private val SceneCutSql =
    """CASE WHEN prev IS NOT NULL AND bit_count(xor(ahash, prev)) > 8
              THEN 1 ELSE 0 END"""

  /** DuckDB twin of [[headers]]: CTE `h` (doc_id, text, width, height,
    * codec, duration_ms) over header-parseable rows — the same byte
    * arithmetic over ASCII chars. */
  private val HeaderCte =
    s"""h AS (SELECT doc_id, text,
         ORD(SUBSTR(text, 1, 1)) * 256 + ORD(SUBSTR(text, 2, 1)) AS width,
         ORD(SUBSTR(text, 3, 1)) * 256 + ORD(SUBSTR(text, 4, 1)) AS height,
         ${codecSql("text")} AS codec,
         ORD(SUBSTR(text, 6, 1)) * 256 + ORD(SUBSTR(text, 7, 1))
           AS duration_ms
         FROM documents WHERE LENGTH(text) >= 7)"""

  /** DuckDB twin of [[shardManifest]]: CTE `manifest` (doc_id, codec,
    * n_bytes, cum_bytes, shard_idx) — one running sum per codec. */
  private val ManifestCtes =
    s"""m AS (SELECT doc_id, ${codecSql("text")} AS codec,
         CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS INT) AS n_bytes
         FROM documents WHERE LENGTH(text) >= 7),
       manifest AS (SELECT doc_id, codec, n_bytes,
           CAST(SUM(n_bytes) OVER w AS BIGINT) AS cum_bytes,
           CAST((SUM(n_bytes) OVER w - n_bytes) // $ShardBytes AS BIGINT)
             AS shard_idx
         FROM m
         WINDOW w AS (PARTITION BY codec ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING))"""

  def oracleSql: Map[String, String] = Map(
    "m01_multimodal_decode" ->
      """WITH s AS (SELECT doc_id, text,
           CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS INT) AS n_bytes
           FROM documents),
         samp AS (SELECT doc_id,
           CAST(SUM(ORD(SUBSTR(text, i, 1))) % 997 AS BIGINT) AS sample_checksum
           FROM s, UNNEST(GENERATE_SERIES(1, n_bytes, 16)) AS t(i)
           GROUP BY doc_id)
         SELECT s.doc_id, s.n_bytes,
           CASE WHEN s.n_bytes > 0 THEN ORD(SUBSTR(s.text, 1, 1))
                ELSE -1 END AS header,
           MD5(s.text) AS fp,
           COALESCE(samp.sample_checksum, 0) AS sample_checksum
         FROM s LEFT JOIN samp ON s.doc_id = samp.doc_id
         ORDER BY s.doc_id""",

    "m02_multimodal_resize" ->
      """WITH r AS (SELECT doc_id,
           STRING_AGG(SUBSTR(text, i, 1), '' ORDER BY i) AS rs
           FROM documents,
                UNNEST(GENERATE_SERIES(1, LENGTH(text), 4)) AS t(i)
           GROUP BY doc_id)
         SELECT doc_id, CAST(LENGTH(rs) AS INT) AS resized_len,
                MD5(rs) AS resized_fp
         FROM r ORDER BY doc_id""",

    "m03_multimodal_features" ->
      """WITH b AS (SELECT doc_id, ORD(SUBSTR(text, i, 1)) AS v
           FROM documents,
                UNNEST(GENERATE_SERIES(1, LENGTH(text))) AS t(i))
         SELECT doc_id,
                CAST(CAST(SUM(v) AS DOUBLE) / COUNT(1) AS DOUBLE) AS mean_byte,
                CAST(MAX(v) AS INT) AS max_byte,
                CAST(COUNT(DISTINCT v) AS INT) AS n_distinct_bytes
         FROM b GROUP BY doc_id ORDER BY doc_id""",

    "m05_multimodal_header" ->
      s"""WITH $HeaderCte
         SELECT codec, COUNT(1) AS n,
                CAST(SUM(width) AS DOUBLE) / COUNT(1) AS avg_width,
                CAST(SUM(height) AS DOUBLE) / COUNT(1) AS avg_height,
                CAST(MAX(duration_ms) AS INT) AS max_duration_ms
         FROM h GROUP BY codec ORDER BY codec""",

    // m05's header frame + blob byte length; quantile_cont over small
    // integers mirrors Spark's percentile interpolation
    "m12_codec_size_profile" ->
      s"""WITH $HeaderCte,
         hb AS (SELECT codec,
           CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
           FROM h)
         SELECT codec, COUNT(1) AS n,
                CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
                quantile_cont(n_bytes, 0.25) AS p25,
                quantile_cont(n_bytes, 0.5) AS med,
                quantile_cont(n_bytes, 0.75) AS p75,
                MAX(n_bytes) AS max_bytes
         FROM hb GROUP BY codec ORDER BY codec""",

    // m05's header frame; px widened before multiply
    "m13_resolution_profile" ->
      s"""WITH $HeaderCte,
         b AS (SELECT *,
           CASE WHEN width > height THEN 'landscape'
                WHEN width < height THEN 'portrait'
                ELSE 'square' END AS orientation,
           CAST(width AS BIGINT) * height // 200000000 AS px_bucket
           FROM h)
         SELECT orientation, px_bucket, COUNT(1) AS n,
                CAST(SUM(width) AS DOUBLE) / COUNT(1) AS avg_width,
                CAST(SUM(height) AS DOUBLE) / COUNT(1) AS avg_height,
                CAST(SUM(duration_ms) AS DOUBLE) / COUNT(1)
                  AS avg_duration_ms
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    "m06_multimodal_dedup" ->
      """SELECT MIN(doc_id) AS doc_id, MD5(text) AS fp,
         CAST(MIN(OCTET_LENGTH(CAST(text AS BLOB))) AS INT) AS n_bytes,
         COUNT(1) AS n_copies
         FROM documents GROUP BY MD5(text) ORDER BY doc_id""",

    // m07's pair CTEs + recursive reachability (d07's oracle pattern)
    "m10_media_neardup_components" ->
      s"""WITH RECURSIVE $ClusterCtes
         SELECT doc_id, cluster_rep FROM comp ORDER BY doc_id""",

    // m07's pair CTEs plus the exhaustive-truth side; n_found cast to
    // BIGINT (DuckDB SUM(int) is HUGEINT — q21 rule)
    "m11_phash_recall" ->
      s"""WITH $PairCtes,
         truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(bit_count(xor(a.ahash, b.ahash)) AS INT)
                       AS hamming
                   FROM fp a JOIN fp b ON a.doc_id < b.doc_id
                   WHERE bit_count(xor(a.ahash, b.ahash)) <= 12)
         SELECT CASE WHEN t.hamming <= 4 THEN 'd00_04'
                     WHEN t.hamming <= 8 THEN 'd05_08'
                     ELSE 'd09_12' END AS bucket,
                COUNT(*) AS n_true,
                CAST(SUM(CASE WHEN f.doc_a IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
                CAST(CAST(SUM(CASE WHEN f.doc_a IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                  / COUNT(*) AS recall
         FROM truth t LEFT JOIN cand f
           ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b
         GROUP BY 1 ORDER BY 1""",

    "m07_multimodal_phash_neardup" ->
      s"""WITH $PairCtes
         SELECT doc_a, doc_b, hamming FROM cand ORDER BY doc_a, doc_b""",

    // documents.text is ASCII, so char-based SUBSTR == byte slicing
    "m04_multimodal_frames" ->
      """SELECT doc_id,
           CAST((off - 1) / 64 AS INT) AS frame_idx,
           CAST(LENGTH(SUBSTR(text, off, 32)) AS INT) AS frame_len,
           MD5(SUBSTR(text, off, 32)) AS frame_fp
         FROM documents,
              UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(text), 1), 64))
                AS t(off)
         ORDER BY doc_id, frame_idx""",

    "m09_repeated_frames" ->
      """WITH f AS (SELECT doc_id, MD5(SUBSTR(text, off, 32)) AS frame_fp
                    FROM documents,
                    UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(text), 1), 64))
                      AS t(off))
         SELECT frame_fp, COUNT(DISTINCT doc_id) AS n_media,
                COUNT(1) AS n_occurrences, MIN(doc_id) AS first_doc
         FROM f GROUP BY frame_fp
         HAVING COUNT(DISTINCT doc_id) >= 2
         ORDER BY frame_fp""",

    "m08_media_shard_manifest" ->
      s"""WITH $ManifestCtes
         SELECT doc_id, codec, n_bytes, cum_bytes, shard_idx
         FROM manifest ORDER BY doc_id""",

    // m04's frame slicing + m07's integer aHash, per frame, then a lag
    // compare along the timeline (1-based chars; ASCII corpus so byte
    // and char offsets coincide, the m04 contract).
    "m14_scene_cuts" ->
      s"""WITH $TimelineCtes,
         agg AS (SELECT doc_id, COUNT(1) AS n_frames,
                   CAST(SUM($SceneCutSql) AS BIGINT) AS n_cuts
                 FROM lg GROUP BY 1)
         SELECT doc_id, n_frames, n_cuts, n_cuts + 1 AS n_scenes,
           CAST(n_frames AS DOUBLE) / CAST(n_cuts + 1 AS DOUBLE)
             AS mean_scene_frames
         FROM agg ORDER BY doc_id""",

    // m14's frame/ahash CTE chain, then pure integer scene algebra:
    // a scene [s0, e0] is represented at rate k iff e0//k >= (s0+k-1)//k
    "m20_sampler_coverage" ->
      s"""WITH $TimelineCtes,
         ct AS (SELECT doc_id, f - 1 AS idx0, $SceneCutSql AS cut
                FROM lg),
         sc AS (SELECT doc_id, idx0,
                  SUM(cut) OVER (PARTITION BY doc_id ORDER BY idx0)
                    AS scene
                FROM ct),
         scenes AS (SELECT doc_id, scene,
                      CAST(MIN(idx0) AS BIGINT) AS s0,
                      CAST(MAX(idx0) AS BIGINT) AS e0,
                      CAST(COUNT(1) AS BIGINT) AS len
                    FROM sc GROUP BY 1, 2),
         psc AS (SELECT k, CAST(COUNT(1) AS BIGINT) AS n_scenes,
                   CAST(SUM(missed) AS BIGINT) AS n_scenes_missed,
                   CAST(SUM(CASE WHEN missed = 1 THEN len ELSE 0 END)
                     AS BIGINT) AS missed_frames
                 FROM (SELECT t.k, sn.len,
                         CASE WHEN sn.e0 // t.k <
                                   (sn.s0 + t.k - 1) // t.k
                              THEN 1 ELSE 0 END AS missed
                       FROM scenes sn,
                         UNNEST([CAST(2 AS BIGINT), 4, 8]) AS t(k)) q
                 GROUP BY 1),
         pdc AS (SELECT k, CAST(COUNT(1) AS BIGINT) AS n_docs,
                   CAST(SUM(last0 // k + 1) AS BIGINT) AS kept_frames,
                   CAST(SUM(nf) AS BIGINT) AS total_frames
                 FROM (SELECT doc_id, MAX(e0) AS last0, SUM(len) AS nf
                       FROM scenes GROUP BY 1) dd,
                   UNNEST([CAST(2 AS BIGINT), 4, 8]) AS t(k)
                 GROUP BY 1)
         SELECT psc.k, n_docs, n_scenes, n_scenes_missed,
           CAST(n_scenes_missed AS DOUBLE) / CAST(n_scenes AS DOUBLE)
             AS miss_rate,
           CAST(kept_frames AS DOUBLE) / CAST(total_frames AS DOUBLE)
             AS kept_frame_ratio,
           CASE WHEN n_scenes_missed > 0
                THEN CAST(missed_frames AS DOUBLE) /
                     CAST(n_scenes_missed AS DOUBLE) END
             AS mean_missed_scene_len
         FROM psc JOIN pdc USING (k) ORDER BY psc.k""",

    // the frame/energy CTEs mirror the stub byte-for-byte (m14's
    // idiom); the adaptive threshold is the same cross-multiplied
    // integer compare, so segment membership is exact
    "m21_voice_activity_segments" ->
      s"""WITH $FrameCtes,
         en AS (SELECT fr.doc_id, fr.f, fr.flen,
                  CAST(SUM(ORD(SUBSTR(s.text, fr.off + i - 1, 1)))
                    AS BIGINT) AS e
                FROM fr JOIN s USING (doc_id),
                  UNNEST(GENERATE_SERIES(1, fr.flen)) AS t(i)
                GROUP BY 1, 2, 3),
         tot AS (SELECT doc_id, CAST(SUM(e) AS BIGINT) AS tot_e,
                   CAST(SUM(flen) AS BIGINT) AS tot_len
                 FROM en GROUP BY 1),
         vo AS (SELECT en.doc_id, en.f - 1 AS idx0, en.flen, en.e
                FROM en JOIN tot USING (doc_id)
                WHERE e * tot_len > tot_e * CAST(flen AS BIGINT)),
         seg AS (SELECT doc_id, idx0, flen, e,
                   idx0 - ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY idx0) AS grp
                 FROM vo)
         SELECT doc_id, CAST(MIN(idx0) AS BIGINT) AS seg_start,
           CAST(MAX(idx0) AS BIGINT) AS seg_end,
           CAST(COUNT(1) AS BIGINT) AS n_frames,
           CAST(SUM(e) AS BIGINT) AS seg_energy,
           CAST(SUM(flen) AS BIGINT) AS seg_bytes,
           CAST(SUM(e) AS DOUBLE) / CAST(SUM(flen) AS DOUBLE)
             AS energy_per_byte
         FROM seg GROUP BY doc_id, grp
         ORDER BY doc_id, seg_start""",

    "m15_clip_reuse" ->
      """WITH f AS (SELECT doc_id,
             CAST((off - 1) // 64 AS BIGINT) AS idx,
             MD5(SUBSTR(text, off, 32)) AS fp
           FROM documents,
             UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(text), 1), 64))
               AS t(off)),
         m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.idx AS ia, b.idx AS ib
           FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         r AS (SELECT doc_a, doc_b, ia, ib,
             ia - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, ia - ib
               ORDER BY ia) AS run
           FROM m)
         SELECT doc_a, doc_b, CAST(MIN(ia) AS BIGINT) AS start_a,
           CAST(MIN(ib) AS BIGINT) AS start_b, COUNT(1) AS clip_len
         FROM r GROUP BY doc_a, doc_b, ia - ib, run
         HAVING COUNT(1) >= 3
         ORDER BY doc_a, doc_b, start_a, start_b""",

    "m16_shard_balance" ->
      s"""WITH $ManifestCtes,
         per_shard AS (SELECT codec, shard_idx, COUNT(1) AS n_items,
             CAST(SUM(CAST(n_bytes AS BIGINT)) AS BIGINT) AS bytes
           FROM manifest GROUP BY 1, 2)
         SELECT codec, COUNT(1) AS n_shards,
           CAST(SUM(n_items) AS BIGINT) AS n_items,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           CAST(MAX(bytes) AS BIGINT) AS max_shard_bytes,
           CAST(MIN(bytes) AS BIGINT) AS min_shard_bytes,
           CAST(CAST(SUM(bytes) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(1) AS DOUBLE) AS mean_shard_bytes
         FROM per_shard GROUP BY codec ORDER BY codec""",

    // m10's component CTE chain + smallest-(bytes, doc_id) keeper per
    // cluster; sums cast to BIGINT (DuckDB HUGEINT — q21 rule)
    "m17_dedup_savings" ->
      s"""WITH RECURSIVE $ClusterCtes,
         meta AS (SELECT doc_id,
                    CAST(OCTET_LENGTH(CAST(text AS BLOB)) AS BIGINT)
                      AS n_bytes,
                    CASE WHEN LENGTH(text) >= 7
                      THEN ${codecSql("text")}
                      ELSE 'unknown' END AS codec
                  FROM documents
                  WHERE OCTET_LENGTH(CAST(text AS BLOB)) > 0),
         jm AS (SELECT c.cluster_rep, m2.doc_id, m2.n_bytes, m2.codec,
                  ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
                    ORDER BY m2.n_bytes, m2.doc_id) AS rk
                FROM comp c JOIN meta m2 ON c.doc_id = m2.doc_id),
         cl AS (SELECT cluster_rep, COUNT(1) AS n_docs,
                  SUM(n_bytes) AS bytes_total FROM jm GROUP BY 1),
         keep AS (SELECT cluster_rep, n_bytes AS kept_bytes, codec
                  FROM jm WHERE rk = 1)
         SELECT k.codec, COUNT(1) AS n_clusters,
           CAST(SUM(cl.n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(cl.n_docs) - COUNT(1) AS BIGINT) AS n_dropped,
           CAST(SUM(cl.bytes_total) AS BIGINT) AS bytes_total,
           CAST(SUM(k.kept_bytes) AS BIGINT) AS bytes_kept,
           CAST(SUM(cl.bytes_total) - SUM(k.kept_bytes) AS BIGINT)
             AS bytes_saved
         FROM cl JOIN keep k USING (cluster_rep)
         GROUP BY 1 ORDER BY 1""",

    // m05's header frame + exact-rational nearest-bucket argmin
    // (cost key |w·bh − h·bw| · 144/bh; ties by bucket name)
    "m18_aspect_bucket_pack" ->
      s"""WITH $HeaderCte,
         bk(bucket, bw, bh, mult) AS (VALUES
           ('square', 1, 1, 144), ('landscape_4_3', 4, 3, 48),
           ('portrait_3_4', 3, 4, 36), ('wide_16_9', 16, 9, 16),
           ('tall_9_16', 9, 16, 9)),
         costs AS (SELECT doc_id, width, height, bucket,
             CAST(ABS(width * bh - height * bw) AS BIGINT) * mult
               AS cost,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY CAST(ABS(width * bh - height * bw) AS BIGINT)
                 * mult, bucket) AS rk
           FROM h CROSS JOIN bk)
         SELECT bucket, CAST(COUNT(1) AS BIGINT) AS n_docs,
           (COUNT(1) + 15) // 16 AS n_batches,
           COUNT(1) - ((COUNT(1) + 15) // 16 - 1) * 16 AS tail_fill,
           CAST(SUM(width) AS DOUBLE) / COUNT(1) AS avg_width,
           CAST(SUM(height) AS DOUBLE) / COUNT(1) AS avg_height
         FROM costs WHERE rk = 1 GROUP BY bucket ORDER BY bucket""",

    // m19: the m07 ahash CTE, then per config (4x15/3x20/2x30):
    // candidate cost from bucket sizes (never a pair scan), distinct
    // found pairs at hamming <= 12, exhaustive truth shared
    "m19_band_tuning" -> {
      def cfgBlock(nb: Int, w: Int): String = {
        val mask = (1L << w) - 1
        val nm = s"c${nb}x$w"
        s"""${nm}_banded AS (SELECT doc_id, ahash,
             (ahash >> (j*$w)) & $mask AS bh, j AS band
           FROM fp, UNNEST(GENERATE_SERIES(0, ${nb - 1})) AS t_$nm(j)),
         ${nm}_sz AS (SELECT band, bh, COUNT(1) AS sz
           FROM ${nm}_banded GROUP BY band, bh),
         ${nm}_cost AS (SELECT
             CAST(SUM(sz * (sz - 1) // 2) AS BIGINT)
               AS n_candidate_pairs,
             CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hot_buckets
           FROM ${nm}_sz),
         ${nm}_found AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_found
           FROM (SELECT DISTINCT a.doc_id, b.doc_id AS d2
                 FROM ${nm}_banded a JOIN ${nm}_banded b
                   ON a.band = b.band AND a.bh = b.bh
                  AND a.doc_id < b.doc_id
                  AND bit_count(xor(a.ahash, b.ahash)) <= 12))"""
      }
      def cfgRow(nb: Int, w: Int): String = {
        val nm = s"c${nb}x$w"
        s"""SELECT '${nb}x$w' AS config, n_candidate_pairs,
             n_hot_buckets, n_found
           FROM ${nm}_cost CROSS JOIN ${nm}_found"""
      }
      val cfgs = Seq((4, 15), (3, 20), (2, 30))
      s"""WITH $AhashCtes,
         truth AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_truth
           FROM fp a JOIN fp b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.ahash, b.ahash)) <= 12),
         ${cfgs.map { case (nb, w) => cfgBlock(nb, w) }.mkString(",\n         ")},
         rows_u AS (
           ${cfgs.map { case (nb, w) => cfgRow(nb, w) }
             .mkString("\n           UNION ALL\n           ")})
         SELECT config, n_candidate_pairs, n_hot_buckets, n_found,
           n_truth,
           CASE WHEN n_truth > 0 THEN
             CAST(n_found AS DOUBLE) / CAST(n_truth AS DOUBLE) END
             AS recall,
           CASE WHEN n_candidate_pairs > 0 THEN
             CAST(n_found AS DOUBLE) / CAST(n_candidate_pairs AS DOUBLE)
             END AS candidate_yield
         FROM rows_u CROSS JOIN truth ORDER BY config"""
    }
  )
}
