package graft.operators

import graft.{Parity, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions.md5Hash60Sql

/** Large-scale training-data deduplication operators over `documents`.
  *
  * Exact dedup and n-gram Jaccard have DuckDB oracles (deterministic set
  * algebra); MinHash+LSH candidates are verified with exact Jaccard so the
  * final output is *also* oracle-checkable (the LSH stage only prunes the
  * pair space — at 16 bands × 4 rows, a pair at Jaccard 0.8 is missed with
  * probability (1-0.8^4)^16 ≈ 2·10^-4, and the observed near-dup pairs in
  * this corpus all sit ≥0.9 where the miss rate is <10^-9; verified
  * empirically at sf0.01 AND sf0.1). SimHash (d05) uses the portable
  * 60-bit md5 word hash, so it is fully oracle-checked too.
  *
  * Scale design (100 TB): everything is shingle-inverted-index joins —
  * shuffle keys are shingles/band-hashes, never a cross join. The exact
  * Jaccard verification joins only LSH candidates. Hot keys (stop-shingles)
  * would be salted/filtered by document frequency at real scale; the
  * pattern is the same.
  */
object DedupOps extends OperatorFamily {

  /** doc_id + distinct word-level 3-gram shingles, keyed by the
    * codegen'd [[graft.functions.WordGramHashes word_ngram_hashes]]
    * expression (one byte-hash per word + a 3-long chain per position —
    * the interpreted transform/slice/concat_ws lambda this replaces was
    * the hottest map-side loop of the pipeline). The hash happens in the
    * scan stage, BEFORE any exchange, so every downstream shuffle
    * (document frequency, prefix-candidate join, minhash agg,
    * intersection count) moves 8-byte longs instead of ~25-byte strings
    * — at 100 TB the shingle index is the dominant shuffle, so this is
    * a ~3× shuffle-volume cut. Exactness: results differ from
    * string-keyed shingles only on a 64-bit collision; P(any collision)
    * < n²/2^65 ≈ 3e-8 at n = 10^6 distinct shingles (sf0.1 is ~5·10^5),
    * and a collision shifts one pair's intersection count by one —
    * irrelevant to the near-dup decision and far below the oracle-gate
    * scale. */
  private def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        // array_distinct BEFORE the explode: per-set dedup is doc-LOCAL,
        // so doing it on the in-row array (cheap, codegen'd) instead of
        // a post-explode distinct() saves a full exchange of the
        // pre-dedup shingle stream — the difference between shuffling
        // every occurrence and shuffling nothing at this stage.
        explode(array_distinct(
          graft.functions.TextFunctions.wordGramHashes(col("text"), 3)))
          .as("sh"))

  /** Shingles annotated with corpus document frequency (sh, df, doc_id) —
    * computed once and shared by candidate generation and verification.
    * ONE exchange keyed on the shingle (a window count over the shingle
    * partition) produces the df alongside every posting row — vs the
    * naive groupBy + self-join, which shuffles the full shingle index
    * twice. Unlike a collect_list posting array, the window's partition
    * buffer is an ExternalAppendOnlyUnsafeRowArray that SPILLS past
    * `spark.sql.windowExec.buffer.spill.threshold` — a stop-shingle
    * appearing in most of a 100 TB corpus degrades to disk instead of
    * OOMing an executor. df >= 2 restriction (a df=1 shingle can never
    * contribute to a pair — standard inverted-index pruning) is applied
    * by the consumers; intersection counts are unaffected.
    */
  private def withDocFreq(sh: DataFrame): DataFrame = {
    sh.select(col("sh"),
      count(lit(1)).over(Window.partitionBy(col("sh"))).as("df"),
      col("doc_id"))
  }

  /** Per-document rollup of the df-annotated index — each document's
    * (df, sh) list plus its set size — and the SINGLE materialization
    * point of the whole dedup pipeline (eager local checkpoint; at
    * cluster scale, persist(MEMORY_AND_DISK) or a DFS checkpoint — pay
    * the index once, reuse it N times). Everything downstream (prefix
    * candidates, minhash signatures, set sizes, intersection postings)
    * derives from this one frame: [[postings]] re-explodes it WITHOUT a
    * shuffle (explode preserves the doc_id partitioning), so no
    * consumer re-runs the scan → window → groupBy pipeline. The
    * collect_list here is doc-bounded (a document's own shingles),
    * unlike the per-shingle posting lists [[withDocFreq]] deliberately
    * avoids. */
  private[operators] def byDocIndex(docs: DataFrame,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame =
    materialize(withDocFreq(shingles(docs))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("df"), col("sh"))).as("l"),
        count(lit(1)).as("sz")))

  /** (doc_id, df, sh) rows re-exploded from the materialized per-doc
    * index — no exchange, already doc_id-partitioned. */
  private def postings(byDoc: DataFrame): DataFrame =
    byDoc.select(col("doc_id"), explode(col("l")).as("e"))
      .select(col("doc_id"), col("e.df").as("df"), col("e.sh").as("sh"))

  /** Candidate pairs by PPJoin-style prefix filtering at Jaccard
    * threshold `t`. Three EXACT pruning rules compose (each a necessary
    * condition of J >= t — zero recall loss):
    *  - prefix filter: each document indexes only its
    *    (sz - ceil(t*sz) + 1) globally-rarest shingles (order: document
    *    frequency asc, shingle asc — a total order, so the
    *    prefix-intersection theorem applies); any qualifying pair must
    *    collide on some prefix shingle. df=1 prefix shingles are
    *    dropped after slicing — they can never match.
    *  - length filter: J >= t forces min(sa,sb) >= t*max(sa,sb).
    *  - positional filter: a collision at (1-based, full-sorted-list)
    *    positions (pa, pb) bounds the overlap by
    *    1 + min(sa-pa, sb-pb); require that to reach
    *    ceil(t/(1+t)*(sa+sb)), the overlap J >= t demands. A pair is
    *    kept if ANY of its collisions passes — the first (rarest)
    *    common shingle yields the largest bound, so nothing true is
    *    lost. (The double constant t/(1+t) rounds DOWN, which only
    *    admits extra candidates — the safe direction.)
    * At sf0.1 this cuts surviving candidates ~40x vs the prefix filter
    * alone, which is the difference between verifying a candidate set
    * and re-verifying a large fraction of the corpus at 100 TB.
    */
  private def prefixCandidates(byDoc: DataFrame, t: Double): DataFrame = {
    val prefix = byDoc
      .select(col("doc_id"), col("sz"),
        posexplode(expr(s"slice(array_sort(l), 1, " +
          s"size(l) - CAST(ceil($t * size(l)) AS INT) + 1)")))
      .filter(col("col.df") >= 2)
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("p"),
        col("col.sh").as("sh"))
    val a = prefix.select(col("doc_id").as("doc_a"), col("sz").as("sa"),
      col("p").as("pa"), col("sh"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("sz").as("sb"),
      col("p").as("pb"), col("sh"))
    a.join(b, "sh")
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("sa"), col("sb")).cast("double")
        >= lit(t) * greatest(col("sa"), col("sb")))
      .filter((lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb")))
        .cast("double")
        >= ceil(lit(t / (1 + t)) * (col("sa") + col("sb"))))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Attach exact Jaccard to candidate pairs and filter at `thr`. The
    * intersection join is keyed on (doc, shingle) pairs — no blowup
    * beyond actually-shared shingles. Both the posting rows and the set
    * sizes derive from the one materialized per-doc index. */
  private def jaccardOf(cand: DataFrame, byDoc: DataFrame,
      thr: Double): DataFrame = {
    val sizes = byDoc.select(col("doc_id"), col("sz"))
    val shp = postings(byDoc).filter(col("df") >= 2)
      .select(col("doc_id"), col("sh"))
    val inter = cand
      .join(shp.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(shp.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= thr)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sa") + col("sb") - col("inter")).as("un"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Min-label connected components over an undirected pair graph:
    * distributed label propagation WITH PATH HALVING. Each round
    * (a) takes the min label over graph neighbours (one shuffle join +
    * groupBy-min) and (b) shortcuts lbl -> labels[lbl] (one more join
    * on the labels table). Labels are monotone non-increasing and
    * always point at a node whose own label is <= it, so (b) is
    * exactly pointer-jumping: the distance to the component minimum at
    * least halves per round, giving O(log diameter) rounds even for
    * adversarial chains — at 100 TB a 10^6-node path converges in ~20
    * rounds where plain propagation needs 10^6 (the property is pinned
    * empirically by ConnectedComponentsSpec on a 1024-node path).
    * Edges are checkpointed eagerly so the upstream pipeline runs
    * ONCE, not once per iteration; label frontiers are checkpointed
    * per round to sever lineage (iterative-algorithm hygiene at
    * scale). If the round cap is hit with changes still pending we
    * THROW: an unconverged labelling must never pass silently as a
    * clustering.
    *
    * @param nodes one column: the node id (numeric/orderable)
    * @param pairs two columns doc_a, doc_b — undirected edges
    * @return (labels (doc_id, lbl = component min), rounds used)
    */
  private[graft] def connectedComponents(nodes: DataFrame,
      pairs: DataFrame, maxIters: Int = 60,
      materialize: Materialize = Materialize.LocalCheckpoint)
      : (DataFrame, Int) = {
    val edges = materialize(pairs
      .union(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b"))))
    var labels = materialize(nodes
      .select(col(nodes.columns.head).as("doc_id"),
        col(nodes.columns.head).as("lbl")))
    // the frame whose storage backs the current `labels` — unpersist
    // must target the MATERIALIZED frame itself: with Persist, calling
    // unpersist on a projection of it is a CacheManager no-op (plan
    // mismatch) and every round's corpus-scale cache entry would stay
    // pinned for the session
    var labelsStorage = labels
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("doc_b"),
          col("lbl").as("nlbl")), "doc_b")
        .groupBy(col("doc_a")).agg(min(col("nlbl")).as("minn"))
      val viaNbr = labels
        .join(nbrMin, labels("doc_id") === nbrMin("doc_a"), "left")
        .select(col("doc_id"), col("lbl"),
          least(col("lbl"), coalesce(col("minn"), col("lbl"))).as("lblN"))
      // path halving: jump to the label's own current label
      // (labels[x] <= x by monotonicity, so least() just guards nulls)
      val stepped = materialize(viaNbr
        .join(labels.select(col("doc_id").as("jmp_id"),
          col("lbl").as("jmp_lbl")), viaNbr("lblN") === col("jmp_id"), "left")
        .select(col("doc_id"), col("lbl"),
          least(col("lblN"), coalesce(col("jmp_lbl"), col("lblN")))
            .as("lbl2")))
      changed = stepped.filter(col("lbl2") =!= col("lbl")).count()
      // the count() above forced stepped's materialization, so the
      // PREVIOUS frontier's storage is no longer referenced: free its
      // checkpoint RDD blocks (localCheckpoint) and CacheManager entry
      // (Persist) — on the materialized frame, where unpersist matches
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(labelsStorage)
      labelsStorage.unpersist(blocking = false)
      labelsStorage = stepped
      labels = stepped.select(col("doc_id"), col("lbl2").as("lbl"))
      iters += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents: label propagation did not converge " +
          s"in $maxIters rounds ($changed labels still changing) — " +
          s"refusing to return an unconverged clustering")
    (labels, iters)
  }

  /** DuckDB twin of [[connectedComponents]]: the transitive closure of
    * the undirected edge CTE `pairs` (doc_a, doc_b) — the declarative
    * form of label propagation — and CTE `comp` (doc_id, cluster_rep =
    * the component minimum; singletons point at themselves) over the
    * node relation `nodes` (doc_id). Needs WITH RECURSIVE. */
  private[operators] def componentCtes(pairs: String,
      nodes: String): String =
    s"""bidir AS (SELECT doc_a AS a, doc_b AS b FROM $pairs
                 UNION SELECT doc_b, doc_a FROM $pairs),
       reach(a, b) AS (SELECT a, b FROM bidir
                       UNION
                       SELECT r.a, e.b FROM reach r
                       JOIN bidir e ON r.b = e.a),
       rep AS (SELECT a AS doc_id, MIN(b) AS m FROM reach GROUP BY a),
       comp AS (SELECT n.doc_id,
                  COALESCE(LEAST(n.doc_id, r.m), n.doc_id) AS cluster_rep
                FROM $nodes n LEFT JOIN rep r ON r.doc_id = n.doc_id)"""

  /** Eval-set n-gram decontamination, the reusable surface behind d08:
    * returns (idCol, n_shared) for every training document sharing at
    * least one word n-gram with the eval corpus — drop them with an
    * anti-join to get the clean training set.
    *
    * Scale shape (the reason this survives 100 TB): eval/benchmark sets
    * are tiny relative to a training corpus, so the DISTINCT eval
    * n-grams BROADCAST and the training side never shuffles — the
    * corpus-side n-gram explode is map-local and the per-doc hit count
    * partial-aggregates before the one exchange on idCol. Grams are
    * row-distinct BEFORE the explode: (id, gram) is then unique, so the
    * hit count is a plain count(1) with no count-distinct Expand.
    *
    * Grams are keyed by the codegen'd
    * [[graft.functions.WordGramHashes word_ngram_hashes]] expression (no
    * gram string is ever materialized; each word's bytes hash once), the
    * same hashed-key trick as [[shingles]]: the dominant corpus-side
    * cost was the interpreted transform/slice lambda building a key per
    * token position, and the broadcast set carries 8-byte longs instead
    * of strings. Exactness: a count shifts only on a 64-bit collision
    * between distinct grams (P < pairs/2^65 — immaterial at any judged
    * scale, and the collision bound scales with the EVAL set size,
    * which stays small by definition of the operator).
    *
    * `broadcastEval = false` drops the broadcast hint for the rare case
    * where the "eval" side is itself corpus-sized (e.g. decontaminating
    * one training corpus against another): the gram join then plans as
    * a shuffle join on the 8-byte gram key — both sides exchange hashed
    * grams, never text — with AQE still free to broadcast if the built
    * side turns out small. Results are identical either way. */
  /** (id-as-`as`, band, bh) LSH bucket rows from a minhash signature
    * column `sig` — the SINGLE definition of the banding scheme, shared
    * by d04 and d09 so their buckets can never silently diverge. */
  private def sigBands(df: DataFrame, as: String, nHashes: Int,
      bandRows: Int): DataFrame = {
    val bandArr: Column = array((0 until nHashes / bandRows).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * bandRows until (b + 1) * bandRows)
          .map(i => element_at(col("sig"), i + 1)): _*).as("bh"))
    }: _*)
    df.select(col(as), explode(bandArr).as("e"))
      .select(col(as), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** (id-as-`as`, g) rows — each document's DISTINCT n-gram hash keys,
    * deduped in-row before the explode (doc-local, costs no exchange).
    * Shared by [[decontaminate]] and [[contaminationAttribution]]. */
  private def gramRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, as: String): DataFrame = df
    .select(col(idCol).as(as), explode(array_distinct(
      graft.functions.TextFunctions.wordGramHashes(col(textCol), n)))
      .as("g"))

  def decontaminate(train: DataFrame, eval: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      broadcastEval: Boolean = true): DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2; got $n")
    require(idCol != "g",
      "decontaminate: idCol 'g' collides with the internal gram alias")
    val evalGrams = gramRows(eval, idCol, textCol, n, idCol)
      .select(col("g")).distinct()
    val evalSide = if (broadcastEval) broadcast(evalGrams) else evalGrams
    gramRows(train, idCol, textCol, n, idCol).join(evalSide, Seq("g"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Contamination ATTRIBUTION — the compliance-report twin of
    * [[decontaminate]]: for every (training doc, eval doc) pair sharing
    * at least one word n-gram, the count of distinct shared grams. This
    * is the report a decontamination decision is audited against
    * ("which benchmark leaked into which documents, and how badly"),
    * where [[decontaminate]] only answers the drop/keep question.
    *
    * Scale shape: same as [[decontaminate]] except the broadcast eval
    * side keeps its doc ids (still eval-sized — tiny by definition);
    * the corpus side is one map pass, and the only exchange is the
    * (train, eval) pair groupBy, bounded by actual contamination. */
  def contaminationAttribution(train: DataFrame, eval: DataFrame,
      n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2; got $n")
    require(idCol != "eval_doc_id" && idCol != "g",
      s"contaminationAttribution: idCol '$idCol' collides with an " +
        "internal alias (eval_doc_id / g)")
    gramRows(train, idCol, textCol, n, idCol)
      .join(broadcast(gramRows(eval, idCol, textCol, n, "eval_doc_id")),
        Seq("g"))
      .groupBy(col(idCol), col("eval_doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Graded contamination score — one row per `train` document with its
    * distinct n-gram count, the number of those grams present anywhere
    * in `eval`, and the overlap fraction (0 for gram-less short docs).
    * The threshold-policy companion to [[decontaminate]] (which returns
    * only contaminated docs): a decontamination report needs the clean
    * docs too, because the corpus-level contamination rate divides by
    * them. Scale shape: identical to [[decontaminate]] — broadcast
    * hashed eval grams, one corpus map pass, per-doc tallies
    * partial-aggregated before the single doc-id exchange; the closing
    * join that re-attaches zero-gram docs is co-partitioned on the same
    * key. */
  def contaminationScore(train: DataFrame, eval: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n-gram width must be >= 2; got $n")
    require(idCol != "g" && idCol != "hit",
      s"contaminationScore: idCol '$idCol' collides with an internal " +
        "alias (g / hit)")
    val evalGrams = gramRows(eval, idCol, textCol, n, idCol)
      .select(col("g")).distinct().withColumn("hit", lit(1L))
    val tallies = gramRows(train, idCol, textCol, n, idCol)
      .join(broadcast(evalGrams), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_shared"))
    train.select(col(idCol)).join(tallies, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contamination",
        when(col("n_grams") > 0, col("n_shared").cast("double")
          / col("n_grams").cast("double")).otherwise(lit(0.0)))
  }

  /** Incremental exact dedup — the daily-ingest shape: which documents
    * of a (small) new `batch` already exist, by content, in the
    * (enormous) `corpus`. Returns one row per duplicate batch document:
    * (batch id, `dup_of` = smallest matching corpus id).
    *
    * Scale shape: BOTH sides reduce to 16-byte md5 fingerprints at the
    * scan; the batch fingerprint set BROADCASTS, so the corpus is
    * neither shuffled nor re-fingerprinted into an index — one pure map
    * pass over the big side per ingest, the same
    * stream-the-big-side/broadcast-the-delta pattern as
    * [[decontaminate]]. The corpus side pre-aggregates min(id) per
    * fingerprint AFTER the broadcast-join filter, so only matching
    * fingerprints (≤ |batch|) ever reach the one tiny exchange.
    *
    * Exactness: same collision contract as d01 — every survivor carries
    * an independent second hash (xxhash64) plus the byte length, and
    * any disagreement between matched rows raises instead of reporting
    * a false duplicate. */
  def dedupeAgainst(corpus: DataFrame, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def fps(df: DataFrame, as: String): DataFrame = df.select(
      col(idCol).as(as),
      md5(encode(col(textCol), "UTF-8")).as("fp"),
      xxhash64(col(textCol)).as(s"h2_$as"),
      length(col(textCol)).as(s"len_$as"))
    fps(corpus, "dup_of").join(broadcast(fps(batch, "batch_id")), Seq("fp"))
      .select(col("batch_id"),
        when(col("h2_dup_of") =!= col("h2_batch_id")
            || col("len_dup_of") =!= col("len_batch_id"),
          raise_error(lit("dedupeAgainst: md5 fingerprint collision — " +
            "distinct texts share a fingerprint; refusing to report a " +
            "duplicate")))
          .otherwise(col("dup_of")).as("dup_of"))
      .groupBy(col("batch_id"))
      .agg(min(col("dup_of")).as("dup_of"))
  }

  /** Incremental NEAR dedup — the near-duplicate twin of
    * [[dedupeAgainst]] for the daily-ingest shape: which documents of a
    * (small) new `batch` are near-duplicates (3-gram shingle Jaccard
    * >= `t`) of documents in the (enormous) standing `corpus`. Returns
    * one row per qualifying (batch, corpus) pair:
    * (batch_id, dup_of, inter, un, jaccard).
    *
    * Scale shape: the batch's MinHash LSH band signatures (16 bands ×
    * 4 rows, d04's parameters) BROADCAST. The corpus side is map-ONLY
    * up to candidate selection: signatures come from per-row
    * `array_min(transform(...))` over the in-row shingle array — no
    * shingle explode, no exchange — so the corpus is never shuffled
    * and never indexed; band collisions against the broadcast batch
    * prune it to candidate docs. Only candidates (≤ band-collision
    * count) are exploded for exact verification: their shingles join
    * the broadcast batch shingles, and the operator's only exchanges
    * are candidate-bounded — the candidate-id `distinct` over band
    * collisions and the intersection groupBy (candidates × batch);
    * the corpus itself never shuffles. Every candidate corpus doc is
    * verified against the WHOLE
    * broadcast batch (cheaper than tracking which band matched, and
    * strictly better recall than pairwise-LSH).
    *
    * Recall contract (same as d04): a true pair is missed only if its
    * corpus doc shares no band with ANY batch doc —
    * P < (1-t^4)^16 ≈ 2e-4 at t = 0.8, < 1e-9 at the J >= 0.9 the
    * observed near-dups sit at; the verification stage itself is
    * exact, so reported pairs are never false positives. */
  def nearDupeAgainst(corpus: DataFrame, batch: DataFrame,
      t: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(t > 0 && t <= 1, s"jaccard threshold must be in (0, 1]; got $t")
    val nHashes = 64
    val bandRows = 4
    // (id, distinct shingle-hash array) — one row per doc, all map-local
    def withSh(df: DataFrame, as: String): DataFrame = df
      .select(col(idCol).as(as), array_distinct(
        graft.functions.TextFunctions.wordGramHashes(col(textCol), 3))
        .as("shs"))
      .filter(size(col("shs")) > 0) // shingle-less docs have no pairs
    // (id, band, bh) LSH bucket rows from the in-row array: minhash is
    // the codegen'd [[graft.functions.MinHashSignature]] (one pass, all
    // 64 minima, bit-identical to array_min-of-xxhash64 per seed) —
    // d04's signature without the groupBy exchange (the corpus side
    // must stay a pure map)
    def bandsOf(df: DataFrame, as: String): DataFrame =
      sigBands(df.select(col(as),
        graft.functions.TextFunctions.minhashSignature(col("shs"), nHashes)
          .as("sig")), as, nHashes, bandRows)
    val corpusSh = withSh(corpus, "dup_of")
    val batchSh = withSh(batch, "batch_id")
    val candIds = bandsOf(corpusSh, "dup_of")
      .join(broadcast(bandsOf(batchSh, "batch_id")), Seq("band", "bh"))
      .select(col("dup_of")).distinct()
    // exact verification: candidate corpus docs × the whole batch
    val corpusCand = corpusSh.join(broadcast(candIds), Seq("dup_of"))
      .select(col("dup_of"), size(col("shs")).as("sa"),
        explode(col("shs")).as("sh"))
    val batchExp = batchSh
      .select(col("batch_id"), size(col("shs")).as("sb"),
        explode(col("shs")).as("sh"))
    corpusCand.join(broadcast(batchExp), Seq("sh"))
      .groupBy(col("batch_id"), col("dup_of"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("un", (col("sa") + col("sb")).cast("long") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .filter(col("jaccard") >= t)
      .select(col("batch_id"), col("dup_of"), col("inter"), col("un"),
        col("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup PAIRS over any (doc_id, text) frame
    * — d03's PPJoin pipeline as a library surface: prefix + length +
    * positional filtering (zero recall loss), exact verification.
    * Returns (doc_a, doc_b, inter, un, jaccard) at jaccard >= t. */
  def nearDupPairs(docs: DataFrame, t: Double = 0.8,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    require(t > 0 && t <= 1, s"jaccard threshold must be in (0, 1]; got $t")
    val byDoc = byDocIndex(docs, materialize)
    jaccardOf(prefixCandidates(byDoc, t), byDoc, t)
  }

  /** Near-dup CLUSTERS over any (doc_id, text) frame — d07 as a library
    * surface: connected components (path-halving min-label propagation,
    * throws on non-convergence) over the verified pair graph. Returns
    * every document with its cluster representative (min doc_id;
    * singletons point at themselves). */
  def nearDupComponents(docs: DataFrame, t: Double = 0.8,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    val pairs = nearDupPairs(docs, t, materialize)
      .select(col("doc_a"), col("doc_b"))
    connectedComponents(docs.select(col("doc_id")), pairs,
      materialize = materialize)._1
      .select(col("doc_id"), col("lbl").as("cluster_rep"))
  }

  /** Boilerplate REMOVAL with document reconstruction — the transform
    * twin of t17's detection report (CCNet/Dolma-style line-level
    * dedup, applied at chunk granularity): any `chunkWords`-word window
    * occurring in >= `minDocs` DISTINCT documents is boilerplate
    * (headers, footers, navigation chrome) and is stripped from every
    * document; the survivors are re-joined in original order. Returns
    * (doc_id, n_chunks, n_removed, clean_text).
    *
    * Scale shape: the corpus text NEVER shuffles. Chunking and
    * fingerprinting are in-row (`transform` over the split array); the
    * one exchange carries (16-byte md5, doc_id) rows for the
    * document-frequency count; the resulting boiler fingerprint SET —
    * bounded by the number of distinct repeated chunks, not corpus
    * size — collapses to one row and BROADCASTS back, so removal and
    * reconstruction are a pure map pass over the original frame (the
    * same broadcast-the-small-set pattern as [[decontaminate]] and
    * t10's pass-list). Membership is by md5: 128-bit fingerprints, the
    * d02 identity contract — a collision would need two distinct
    * 16-word windows sharing a digest.
    *
    * Split into [[boilerplateSet]] (the corpus-wide count) and
    * [[stripBoilerplateWith]] (the map-only rewrite) so the set can be
    * built once and applied to later batches or a stream. */
  /** Chunk strings from a PRE-SPLIT `__ws` word-array column — callers
    * project `__ws = split(trim(text), ' ')` first so the split runs
    * once per document, not once per chunk inside the lambda (the
    * lambda references `__ws` twice, so CollapseProject keeps the
    * hoisted projection instead of re-inlining the split). */
  private def chunkArray(chunkWords: Int) = expr(
    s"transform(sequence(0, (size(__ws) - 1) div $chunkWords), " +
      s"i -> array_join(slice(__ws, i*$chunkWords + 1, " +
      s"$chunkWords), ' '))")

  private def withWords(docs: DataFrame, keep: Seq[Column]): DataFrame =
    docs.select(keep :+ split(trim(col("text")), " ").as("__ws"): _*)

  /** The corpus-wide half of [[stripBoilerplate]]: a ONE-ROW frame
    * holding the md5 fingerprints of every chunk occurring in >=
    * `minDocs` distinct documents (column `bfps`, array<string>). Build
    * it once on the standing corpus, then [[stripBoilerplateWith]] is a
    * pure map — including over STREAMING micro-batches, where the
    * global count is unobtainable per batch (the same
    * static-set-vs-delta shape as `dedupeAgainst` / streamed
    * decontamination). */
  def boilerplateSet(docs: DataFrame, chunkWords: Int = 16,
      minDocs: Int = 2): DataFrame = {
    require(chunkWords > 0 && minDocs >= 2,
      s"need chunkWords > 0, minDocs >= 2; got $chunkWords, $minDocs")
    withWords(docs, Seq(col("doc_id")))
      .select(col("doc_id"), chunkArray(chunkWords).as("chunks"))
      .select(col("doc_id"),
        explode(expr("transform(chunks, c -> md5(encode(c, 'UTF-8')))")).as("fp"))
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .agg(coalesce(collect_set(col("fp")), array()).as("bfps"))
  }

  /** Apply a prebuilt [[boilerplateSet]]: broadcast the one-row set and
    * rewrite each document in a single map pass (no exchange touches
    * `docs`). Every input column except `text` passes through, plus
    * (n_chunks, n_removed, clean_text) — so the rewrite composes into
    * pipelines without a join back for the metadata columns. */
  def stripBoilerplateWith(docs: DataFrame, boilerSet: DataFrame,
      chunkWords: Int = 16): DataFrame = {
    val keep = docs.columns.filterNot(_ == "text").map(col).toSeq
    withWords(docs, keep)
      .select(keep :+ chunkArray(chunkWords).as("chunks"): _*)
      .join(broadcast(boilerSet), lit(true))
      .select(keep ++ Seq(
        size(col("chunks")).cast("long").as("n_chunks"),
        expr("filter(chunks, c -> NOT array_contains(bfps, md5(encode(c, 'UTF-8'))))")
          .as("kept")): _*)
      .select(keep ++ Seq(col("n_chunks"),
        (col("n_chunks") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text")): _*)
  }

  def stripBoilerplate(docs: DataFrame, chunkWords: Int = 16,
      minDocs: Int = 2): DataFrame =
    stripBoilerplateWith(docs,
      boilerplateSet(docs, chunkWords, minDocs), chunkWords)

  /** Directional CONTAINMENT near-dup pairs (d14): C(A→B) =
    * |S_A ∩ S_B| / |S_A| >= `t` over distinct 3-word shingles — the
    * asymmetric signal symmetric Jaccard cannot see: a truncated copy,
    * a quoted excerpt, or a doc embedded in a larger one scores near 1
    * on containment while its Jaccard can be arbitrarily low.
    *
    * Candidate pruning (each rule a NECESSARY condition of C >= t —
    * zero recall loss, same discipline as [[prefixCandidates]]):
    *  - A-prefix: at most floor((1-t)·sa) of A's shingles may miss B,
    *    so A must collide within its (sa - ceil(t·sa) + 1)
    *    globally-rarest shingles. B carries NO prefix — containment
    *    bounds only A's misses — so B indexes its full sorted list.
    *  - size: inter >= ceil(t·sa) and inter <= sb force sb >= ceil(t·sa).
    *  - positional: the FIRST common shingle at sorted positions
    *    (pa, pb) bounds inter <= 1 + min(sa-pa, sb-pb); keep-if-any
    *    collision passes, and the first collision is always present.
    * All ceil(t·sa) bounds subtract 1e-9 first: double rounding (e.g.
    * 0.9*20 = 18.000000000000004) may only LOOSEN a prune, never drop
    * a true pair; exact division-form verification decides membership,
    * mirroring the oracle bit-for-bit. */
  def containmentPairs(docs: DataFrame, t: Double = 0.9,
      materialize: Materialize = Materialize.LocalCheckpoint): DataFrame = {
    require(t > 0 && t <= 1, s"need containment threshold in (0, 1]: $t")
    val byDoc = byDocIndex(docs, materialize)
    def ceilT(c: Column) = ceil(lit(t) * c - lit(1e-9))
    val aPrefix = byDoc
      .select(col("doc_id"), col("sz"),
        posexplode(expr(s"slice(array_sort(l), 1, " +
          s"size(l) - CAST(ceil($t * size(l) - 1e-9) AS INT) + 1)")))
      .filter(col("col.df") >= 2)
      .select(col("doc_id").as("doc_a"), col("sz").as("sa"),
        (col("pos") + 1).as("pa"), col("col.sh").as("sh"))
    val bFull = byDoc
      .select(col("doc_id"), col("sz"), posexplode(expr("array_sort(l)")))
      .filter(col("col.df") >= 2)
      .select(col("doc_id").as("doc_b"), col("sz").as("sb"),
        (col("pos") + 1).as("pb"), col("col.sh").as("sh"))
    val cand = aPrefix.join(bFull, "sh")
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(col("sb") >= ceilT(col("sa")))
      .filter(lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb"))
        >= ceilT(col("sa")))
      .select(col("doc_a"), col("doc_b")).distinct()
    val sizes = byDoc.select(col("doc_id"), col("sz"))
    val shp = postings(byDoc).filter(col("df") >= 2)
      .select(col("doc_id"), col("sh"))
    cand
      .join(shp.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(shp.select(col("doc_id").as("doc_b"), col("sh")),
        Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")),
        "doc_a")
      .withColumn("containment",
        col("inter").cast("double") / col("sa"))
      .filter(col("containment") >= t)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sa"),
        col("containment"))
  }

  /** Keep-first passage dedup (d12): each distinct `chunkWords`-word
    * chunk survives only at its first corpus-wide occurrence (minimum
    * (doc_id, chunk_idx)); later occurrences are excised and each
    * document's text reconstructed from its kept chunks in order.
    *
    * Scale shape — the chunk text crosses exactly ONE exchange, at any
    * size: ownership is elected on a fingerprint frame (doc_id,
    * chunk_idx, md5) whose fp-keyed shuffle moves 16-byte keys, never
    * chunk text; the losing occurrences collapse to per-doc removal
    * index sets (a doc-keyed shuffle of ints); and both that aggregate
    * and the text-carrying chunk aggregate are hash-partitioned on
    * doc_id, so their join needs no further exchange (the bucketed-join
    * shape, without buckets) and the excision itself is a map-side
    * array filter. As in d01, grouping by a hash is exact only
    * collision-free: each fp group carries an independent xxhash64 and
    * raises on disagreement rather than silently merging distinct
    * passages. */
  def passageDedupKeepFirst(docs: DataFrame,
      chunkWords: Int = 16): DataFrame = {
    require(chunkWords > 0, s"need chunkWords > 0; got $chunkWords")
    val ch = withWords(docs, Seq(col("doc_id")))
      .select(col("doc_id"), posexplode(chunkArray(chunkWords)))
      .toDF("doc_id", "ci", "chunk")
    val fp = ch.select(col("doc_id"), col("ci"),
      md5(encode(col("chunk"), "UTF-8")).as("fp"),
      xxhash64(col("chunk")).as("h2"))
    val owners = fp.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("ci"))).as("own"),
        min(col("h2")).as("h2_min"), max(col("h2")).as("h2_max"))
      .select(col("fp"),
        when(col("h2_min") =!= col("h2_max"),
          raise_error(lit("d12_passage_dedup_keep_first: md5 chunk " +
            "fingerprint collision — refusing to merge distinct passages")))
          .otherwise(col("own.doc_id")).as("o_doc"),
        col("own.ci").as("o_ci"))
    val remSets = fp.join(owners, Seq("fp"))
      .filter(col("doc_id") =!= col("o_doc") || col("ci") =!= col("o_ci"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("ci")).as("rem"))
    ch.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("ci"), col("chunk"))).as("chs"))
      .join(remSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("chs")).cast("long").as("n_chunks"),
        coalesce(size(col("rem")), lit(0)).cast("long").as("n_removed"),
        array_join(expr(
          "transform(filter(array_sort(chs), " +
            "x -> rem IS NULL OR NOT array_contains(rem, x.ci)), " +
            "x -> x.chunk)"), " ").as("clean_text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup, FINGERPRINT-FIRST: group by md5(text) so the shuffle
    // moves 16-byte keys instead of full documents (at 100 TB the
    // difference between shuffling hashes and shuffling the corpus).
    // Grouping by a hash is only exact if no two distinct texts collide,
    // so every group carries an independent second hash (xxhash64) plus
    // the byte length; any within-group disagreement means an md5
    // collision and the query throws rather than silently merging
    // distinct documents. Map-side partial aggregation collapses
    // duplicates before the exchange.
    "d01_dedup_exact" -> ((s, d) => {
      val hashed = Tables.documents(s, d).select(
        md5(encode(col("text"), "UTF-8")).as("fp"),
        xxhash64(col("text")).as("h2"),
        length(col("text")).as("len"),
        col("doc_id"))
      hashed.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
          min(col("h2")).as("h2_min"), max(col("h2")).as("h2_max"),
          min(col("len")).as("len_min"), max(col("len")).as("len_max"))
        .select(
          when(col("h2_min") =!= col("h2_max")
              || col("len_min") =!= col("len_max"),
            raise_error(lit("d01_dedup_exact: md5 fingerprint collision " +
              "— distinct texts share a fingerprint; refusing to merge")))
            .otherwise(col("doc_id")).as("doc_id"),
          col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // Content fingerprint (md5 → identical hex in any engine).
    "d02_fingerprint_md5" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Exact n-gram Jaccard near-dup pairs. Candidate generation uses
    // PREFIX FILTERING (AllPairs/PPJoin): under a global rarest-first
    // shingle order, two sets with Jaccard >= t must share a shingle
    // within each one's first (sz - ceil(t*sz) + 1) shingles — pigeonhole
    // on the smallest common shingle. Exact (zero recall loss), and the
    // candidate join touches only prefix shingles, which are by
    // construction the rarest — the pair blowup of the naive
    // inverted-index self-join on frequent shingles disappears. The few
    // surviving candidates are then verified with exact Jaccard.
    "d03_ngram_jaccard_pairs" -> ((s, d) =>
      nearDupPairs(Tables.documents(s, d), 0.8)),

    // MinHash + banded LSH near-dup: 64 permutations (xxhash64 seeded by
    // slot), 16 bands × 4 rows; candidates verified with exact Jaccard.
    // This is the scale path: candidate generation touches only
    // band-hash collisions.
    "d04_minhash_lsh_dedup" -> ((s, d) => {
      val byDoc = byDocIndex(Tables.documents(s, d))
      val nHashes = 64
      val bandRows = 4
      // signatures straight off the per-doc index's in-row shingle
      // list via the codegen'd MinHashSignature — one map pass per doc
      // (vs the former 64-column min-aggregate over re-exploded
      // postings), bit-identical minima (parity in WordGramHashesSpec).
      // l.sh is GetArrayStructFields — a codegen field extraction, not
      // an interpreted transform lambda
      val sig = byDoc.select(col("doc_id"),
        graft.functions.TextFunctions.minhashSignature(
          col("l.sh"), nHashes).as("sig"))
      val buckets = sigBands(sig, "doc_id", nHashes, bandRows)
      val cand = buckets.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
        .join(buckets.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
          Seq("band", "bh"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      jaccardOf(cand, byDoc, 0.8)
    }),

    // Near-dup CLUSTERING: connected components over the verified
    // near-dup pair graph (d03's output), so each duplicate group gets a
    // canonical representative (min doc_id) — the step after pair
    // detection in a real dedup pipeline (keep one doc per component).
    // Distributed min-label propagation WITH PATH HALVING: each round
    // (a) takes the min label over graph neighbours (one shuffle join +
    // groupBy-min) and (b) shortcuts lbl -> labels[lbl] (one more join on
    // the labels table). Labels are monotone non-increasing and always
    // point at a doc whose own label is <= it, so (b) is exactly
    // pointer-jumping: the distance to the component minimum at least
    // halves per round, giving O(log diameter) rounds even for
    // adversarial chains — at 100 TB a 10^6-doc path converges in ~20
    // rounds where plain propagation needs 10^6. Edges are checkpointed
    // eagerly so the shingle pipeline runs ONCE, not once per iteration;
    // label frontiers are checkpointed per round to sever lineage
    // (iterative-algorithm hygiene at scale). If the round cap is ever
    // hit with changes still pending we THROW: an unconverged labelling
    // must never pass silently as a clustering.
    "d07_neardup_components" -> ((s, d) =>
      nearDupComponents(Tables.documents(s, d), 0.8)
        .orderBy(col("doc_id"))),

    // Decontamination: the standard pre-training step that removes
    // training documents sharing any 8-gram with the evaluation set
    // (the GPT-3/PaLM-style n-gram overlap rule). Here the "eval set"
    // is the deterministic doc_id % 7 == 0 slice, standing in for a
    // benchmark suite; [[decontaminate]] is the reusable surface.
    "d08_decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      decontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
        .orderBy(col("doc_id"))
    }),

    // Contamination attribution: which eval doc leaked into which
    // training docs, by distinct shared 8-grams — the audit report
    // behind d08's drop/keep decision (same deterministic % 7 split).
    "d10_contamination_attribution" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contaminationAttribution(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
        .orderBy(col("doc_id"), col("eval_doc_id"))
    }),

    // Incremental near-dedup at ingest time: the doc_id % 5 == 0 slice
    // stands in for today's arriving batch, the rest for the standing
    // corpus; [[nearDupeAgainst]] broadcasts the batch's LSH bands and
    // verifies candidates exactly, so the output is oracle-checked
    // against the full exact cross-split Jaccard (same LSH-recall
    // argument as d04, see the surface's scaladoc).
    "d09_neardup_against" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      nearDupeAgainst(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0))
        .orderBy(col("batch_id"), col("dup_of"))
    }),

    // Boilerplate stripping: t17 detects cross-document repeated
    // 16-word chunks; this REMOVES them and reconstructs each cleaned
    // document (see [[stripBoilerplate]] for the broadcast scale shape).
    "d11_boilerplate_strip" -> ((s, d) =>
      stripBoilerplate(Tables.documents(s, d))
        .select(col("doc_id"), col("n_chunks"), col("n_removed"),
          col("clean_text"))
        .orderBy(col("doc_id"))),

    // Passage-level exact dedup, KEEP-FIRST (the "deduplicating
    // training data" excision): every 16-word chunk keeps exactly its
    // first corpus-wide occurrence (min (doc_id, chunk_idx)) and every
    // later occurrence is excised — unlike d11, which removes ALL
    // occurrences of any chunk shared by >= 2 docs, this preserves one
    // copy of repeated passages so no content is lost from the corpus.
    // See [[passageDedupKeepFirst]] for the two-exchange scale shape.
    "d12_passage_dedup_keep_first" -> ((s, d) =>
      passageDedupKeepFirst(Tables.documents(s, d))
        .orderBy(col("doc_id"))),

    // Directional containment pairs at 0.9 — the truncation/quotation
    // detector (see [[containmentPairs]] for the asymmetric prefix
    // filter and why Jaccard misses these).
    "d14_containment_pairs" -> ((s, d) =>
      containmentPairs(Tables.documents(s, d), 0.9)
        .orderBy(col("doc_a"), col("doc_b"))),

    // Canonical selection POLICY over d07's near-dup clusters: keep
    // the LONGEST member (ties by min doc_id), not the min-id one —
    // the policy a real corpus wants, since near-dup clusters usually
    // contain truncated copies of one best document. Returns one row
    // per cluster with its elected canonical and member count. Scale
    // shape: the cluster frame joins token counts on doc_id and the
    // election window partitions by cluster_rep — clusters are small
    // by construction (near-dup groups), so no partition outgrows a
    // task.
    "d13_canonical_keep_longest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy(col("cluster_rep"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      nearDupComponents(docs).join(toks, Seq("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
        .filter(col("rn") === 1)
        .select(col("cluster_rep"), col("doc_id").as("canonical_id"),
          col("n_tokens").as("canonical_tokens"), col("n_members"))
        .orderBy(col("cluster_rep"))
    }),

    // Cluster-SIZE histogram over d07's components — the one-page audit
    // of how duplication is distributed: many size-2 clusters is
    // boilerplate-ish light duplication (near-dup excision wins
    // little), a few huge clusters is mirror/scrape mass duplication
    // (keep-canonical wins a lot); n_removable is exactly the docs a
    // keep-one-per-cluster policy deletes at each size. Scale: both
    // aggregates run over frames already far smaller than the corpus
    // (|docs| cluster labels, then |distinct sizes| rows); everything
    // is integer-exact.
    "d16_cluster_size_histogram" -> ((s, d) => {
      val comp = nearDupComponents(Tables.documents(s, d))
      comp.groupBy(col("cluster_rep"))
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))
        .orderBy(col("cluster_size"))
    }),

    // Duplication SOURCE matrix: intra-cluster doc pairs attributed to
    // their (source, source) combination — t20's provenance question
    // asked of the VERIFIED near-dup graph instead of raw chunk
    // overlap: a heavy off-diagonal cell is one source mirroring
    // another (drop the copy wholesale), a heavy diagonal cell is a
    // source duplicating itself (dedup within it). Pairs are the full
    // transitive closure within each d07 component (a cluster of k
    // docs contributes C(k,2)), which is exactly the mass a
    // keep-one-per-cluster policy removes. Scale: the self-join keys
    // on cluster_rep and near-dup clusters are small by construction
    // (d13's argument), so the fan-out is bounded; the rollup is
    // |sources|² rows.
    "d17_dup_source_matrix" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // the labeled frame feeds BOTH sides of the within-cluster pair
      // join — cut it so the shingle + LSH + component pipeline runs
      // once, not twice
      val m = Materialize.LocalCheckpoint(nearDupComponents(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")))
      val a = m.select(col("cluster_rep"), col("doc_id").as("doc_a"),
        col("source").as("sa"))
      val b = m.select(col("cluster_rep"), col("doc_id").as("doc_b"),
        col("source").as("sb"))
      a.join(b, Seq("cluster_rep"))
        .filter(col("doc_a") < col("doc_b"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("n_dup_pairs"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // SimHash fingerprints + banded hamming-near candidate pairs. The
    // per-word hash is the first 60 bits of md5 (15 hex chars) — portable
    // integer arithmetic in any engine, so unlike a seeded xxhash64 the
    // whole operator is DuckDB-oracle-checkable.
    "d05_simhash_pairs" -> ((s, d) => {
      // candidates: any of 4 15-bit bands equal; verified hamming <= 8
      simhashCandidates(simhashFrame(s, d))
        .filter(col("hamming") <= 8)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MinHash BAND-TUNING sweep (the d-family twin of e08/e21/m11's
    // measured-tuning surfaces): for band configs 8×8 / 16×4 / 32×2
    // over a 64-slot signature, the candidate-pair count, the true
    // pairs found (exact 3-gram Jaccard >= 0.8), recall against the
    // exhaustive truth, and precision — the table that decides d04's
    // (bands, rows) BEFORE trusting LSH as the scale path (more bands
    // = higher recall but more candidates to verify; this measures
    // both sides of that trade on the actual corpus). Hashing is the
    // PORTABLE affine family over the 60-bit md5 3-gram fingerprint
    // (h_i(x) = (a_i·x + b_i) mod 2^31-1; band hash = base-131071
    // Horner fold mod 2^31-1) — pure BIGINT arithmetic both engines
    // compute identically, unlike d04's seeded xxhash64 production
    // signature (whose per-band collision behavior this sweep
    // predicts: recall depends only on (bands, rows), not the hash
    // family, for any well-mixing family). Scale shape: ONE signature
    // frame shared by all three configs (the sweep adds band rows,
    // not corpus passes); candidate joins exchange (band, hash, id)
    // integers only; the truth side is the exhaustive posting join —
    // the e02/e07 eval-twin contract, run per-bucket/sampled at
    // 100 TB while the candidate side is the real plan. The signature
    // is the codegen'd AffineMinHashSignature (one primitive pass for
    // all 64 minima; bit-identical to the declarative
    // array_min(transform(...)) family the oracle SQL spells out).
    "d18_minhash_band_tuning" -> ((s, d) => {
      import s.implicits._
      val nH = 64
      val cfgs = Seq(8, 16, 32)
      val g = gramSets(s, d)
      val bands = affineBands(affineSigs(g), cfgs.flatMap { b =>
        (0 until b).map(j =>
          s"named_struct('bands', $b, 'band', $j, 'bh', ${bandHash(j, nH / b)})")
      }, Seq("bands", "band", "bh"))
      val cand = bandCandidates(bands, Seq("bands"))
      val sizes = gramSizes(g)
      val truth = gramInter(g)
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")),
          "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")),
          "doc_b")
        .filter(col("inter").cast("double")
          / (col("sa") + col("sb") - col("inter")) >= 0.8)
        .select(col("doc_a"), col("doc_b"))
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      val stats = cand
        .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
        .groupBy(col("bands"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
      cfgs.toDF("bands")
        .join(stats, Seq("bands"), "left")
        .na.fill(0L, Seq("n_candidates", "n_found"))
        .crossJoin(broadcast(nTruth))
        .withColumn("rows_per_band", expr(s"CAST($nH div bands AS INT)"))
        .withColumn("recall",
          col("n_found").cast("double") / col("n_truth").cast("double"))
        .withColumn("prec",
          when(col("n_candidates") > 0L,
            col("n_found").cast("double") / col("n_candidates").cast("double"))
            .otherwise(lit(0.0)))
        .select(col("bands"), col("rows_per_band"), col("n_candidates"),
          col("n_found"), col("n_truth"), col("prec"), col("recall"))
        .orderBy(col("bands"))
    }),

    // Shingle DOCUMENT-FREQUENCY profile: how many distinct 3-gram
    // shingles occur in exactly k documents (k capped at 17+), with
    // their posting share — the sizing table behind the dedup engine's
    // two df-driven decisions: df=1 shingles are PRUNABLE (they can
    // never witness a pair — the prefix filter's first rule), and the
    // df tail says how hot the hottest shingle partitions run (the
    // spill-threshold scenario DedupResilienceSpec forces; a corpus
    // whose tail bucket carries a large posting share needs stop-
    // shingle handling before the 100 TB run, not after it OOMs).
    // Scale shape: in-row distinct grams explode to (fp, doc) pairs
    // that partial-aggregate map-side into per-fp df counts (one
    // 8-byte-keyed exchange); the df histogram is a second tiny
    // rollup (≤ 17 groups); the posting total rides a 1-row
    // broadcast.
    "d19_shingle_df_profile" -> ((s, d) => {
      val df = md5Grams(s, d, "doc_id", 3)
        .select(col("doc_id"), explode(array_distinct(col("hs")))
          .as("fp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      val tot = df.agg(sum(col("df")).as("total_postings"))
      df.withColumn("df_bucket", least(col("df"), lit(17L)))
        .groupBy(col("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("df")).as("n_postings"))
        .crossJoin(broadcast(tot))
        .withColumn("posting_share",
          col("n_postings").cast("double")
            / col("total_postings").cast("double"))
        .select(col("df_bucket"), col("n_shingles"), col("n_postings"),
          col("posting_share"))
        .orderBy(col("df_bucket"))
    }),

    // WINNOWING fingerprint profile (Schleimer/Wilkerson/Aiken, the
    // MOSS selection rule): per position, the min trigram hash over a
    // w=4 sliding window; the distinct window-minima are the document's
    // fingerprints. Guarantees every shared run of >= w+k-1 tokens
    // yields a shared fingerprint while keeping only ~2/(w+1) of the
    // gram stream — the density column verifies that bound per doc.
    // Scale shape: the whole selection runs as array expressions inside
    // one row-local projection ([[winnowFps]]) — the profile plans NO
    // exchange at all beyond the presentation sort.
    "d20_winnow_profile" -> ((s, d) =>
      winnowFps(s, d)
        .select(col("doc_id"), col("n_grams"),
          size(col("fps")).cast("long").as("n_fp"))
        .withColumn("density",
          col("n_fp").cast("double") / col("n_grams").cast("double"))
        .orderBy(col("doc_id"))),

    // WINNOWING candidate pairs: documents sharing >= 3 fingerprints,
    // scored by overlap coefficient |shared| / min(|fp_a|, |fp_b|) —
    // the copy-detection join over the d20 index. Calibrated on this
    // corpus the >= 3 floor lands on the same 25 near-dup pairs d03's
    // exact-Jaccard join finds. Scale shape: fingerprints are built
    // row-local ([[winnowFps]]) and each doc's set size rides the
    // exploded rows, so the ONLY exchanges are the fingerprint-keyed
    // self-join (8-byte keys, ~2/(w+1) of the gram stream) and the
    // pair rollup. Bucket width is each fingerprint's df (profiled by
    // d19; max df here is 7) — an adversarial corpus needs a
    // stop-fingerprint df cap before this join, exactly like d03's
    // prefix filter.
    "d21_winnow_pairs" -> ((s, d) => {
      // Materialized ONCE: without the cut, CollapseProject inlines the
      // md5 hash-stream array expression into both join sides AND into
      // every size()/explode() consumer, re-evaluating the whole
      // pipeline per exploded row (measured 60x slower at sf0.1).
      val fps = Materialize.LocalCheckpoint(winnowFps(s, d))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          explode(col("fps")).as("wmin"))
      fps.select(col("doc_id").as("doc_a"), col("n_fp").as("fp_a"),
          col("wmin"))
        .join(fps.select(col("doc_id").as("doc_b"),
          col("n_fp").as("fp_b"), col("wmin")), "wmin")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"), col("fp_a"), col("fp_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double")
            / least(col("fp_a"), col("fp_b")).cast("double")).as("overlap"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // MINHASH ESTIMATOR error profile: for the production 16-band
    // candidates, |signature-estimate − exact Jaccard| bucketed by the
    // exact value — the calibration table that says whether the
    // 64-permutation estimate can REPLACE exact verification above
    // some similarity floor (d18 asks "which banding"; this asks "how
    // wrong is the estimate itself"). Hash-collision candidates with
    // zero shared grams keep exact Jaccard 0 (left join, coalesce) so
    // false-positive error is measured, not dropped. All means ride
    // Parity.davg decimal sums (order-insensitive); the estimate,
    // exact value and bucket floor are identical IEEE expressions in
    // both engines. Scale shape: d18's machinery — one materialized
    // gram-set frame, band-keyed candidate join, fp-keyed intersection
    // join, signatures joined per candidate pair; the rollup is <= 10
    // buckets.
    "d23_minhash_error_profile" -> ((s, d) => {
      val g = gramSets(s, d)
      val sig = affineSigs(g)
      val bands = affineBands(sig, (0 until 16).map(j =>
        s"named_struct('band', $j, 'bh', ${bandHash(j, 4)})"),
        Seq("band", "bh"))
      val sizes = gramSizes(g)
      val pairs = bandCandidates(bands, Nil)
        .join(gramInter(g), Seq("doc_a", "doc_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sa")),
          "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sb")),
          "doc_b")
        .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("siga")),
          "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sigb")),
          "doc_b")
        .withColumn("matches", expr(
          "CAST(size(filter(sequence(1, 64), " +
            "i -> element_at(siga, i) = element_at(sigb, i))) AS BIGINT)"))
        .withColumn("truej", col("inter").cast("double")
          / (col("sa") + col("sb") - col("inter")).cast("double"))
        .withColumn("est",
          col("matches").cast("double") / lit(64).cast("double"))
        .withColumn("err", abs(col("est") - col("truej")))
        .withColumn("j_bucket",
          least(floor(col("truej") * lit(10)).cast("int"), lit(9)))
      pairs.groupBy(col("j_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          Parity.davg(col("truej")).as("mean_true"),
          Parity.davg(col("est")).as("mean_est"),
          Parity.davg(col("err")).as("mean_abs_err"),
          max(col("err")).as("max_abs_err"))
        .orderBy(col("j_bucket"))
    }),

    // CROSS-METHOD dedup agreement matrix: every candidate-pair method
    // (MinHash LSH, SimHash banding, winnowing) scored against the
    // exact 3-gram Jaccard >= 0.8 truth — precision and recall per
    // method, the one table a user reads to pick a near-dup method
    // for their corpus (d18 tunes minhash's bands; this compares
    // across families). Scale shape: each method's pair frame is the
    // already-bucketed candidate join it ships with; the truth join
    // carries no broadcast hint (the verified pair set grows with the
    // corpus) and AQE broadcasts it from its runtime size; each method
    // reduces to a 1-row aggregate before the 3-row union.
    "d22_method_agreement" -> ((s, d) => {
      // the truth pair set is consumed by THREE method joins plus its
      // own count — cut it once so the d03 pipeline (the most
      // expensive of the four methods) runs a single time
      val truth = Materialize.LocalCheckpoint(
        queries("d03_ngram_jaccard_pairs")(s, d)
          .select(col("doc_a"), col("doc_b")).withColumn("hit", lit(1)))
      val tc = truth.agg(count(lit(1)).as("n_truth"))
      val methods = Seq(
        "minhash_lsh" -> queries("d04_minhash_lsh_dedup"),
        "simhash_band" -> queries("d05_simhash_pairs"),
        "winnowing" -> queries("d21_winnow_pairs"))
      methods.map { case (name, fn) =>
        fn(s, d).select(col("doc_a"), col("doc_b"))
          .join(truth, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("hit"), lit(0))).cast("long").as("n_true"))
          .withColumn("method", lit(name))
      }.reduce(_.unionByName(_))
        .crossJoin(broadcast(tc))
        .select(col("method"), col("n_pairs"), col("n_true"),
          (col("n_true").cast("double") / col("n_pairs").cast("double"))
            .as("precision"),
          (col("n_true").cast("double") / col("n_truth").cast("double"))
            .as("recall"))
        .orderBy(col("method"))
    }),

    // PIPELINE FUNNEL: the composed corpus-prep stages ([[Pipeline]]
    // quality gate → exact dedup → decontamination, d08's %7 eval
    // split) measured as the doc/token survivor funnel — the one-page
    // report a data lead reads after every prep run ("which stage ate
    // the corpus"). Runs the REAL library stages, not a re-derivation,
    // so the numbers are the numbers prepare() ships. Scale shape:
    // inherited from the stages (map filter, fingerprint exchange,
    // broadcast eval grams); each stage materializes once and reduces
    // to a 1-row aggregate; the drop-rate window runs over 4 rows.
    "d24_pipeline_funnel" -> ((s, d) => {
      val docsAll = Tables.documents(s, d)
      val s0 = Materialize.LocalCheckpoint(
        docsAll.filter(col("doc_id") % 7 =!= 0))
      val ev = docsAll.filter(col("doc_id") % 7 === 0)
      val s1 = Materialize.LocalCheckpoint(Pipeline.qualityFilter(s0))
      val s2 = Materialize.LocalCheckpoint(Pipeline.dedupExact(s1))
      val s3 = Pipeline.decontaminated(s2, ev)
      def stat(df: DataFrame, idx: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
          sum(size(split(trim(col("text")), " ")).cast("long"))
            .as("n_tokens"))
          .withColumn("stage_idx", lit(idx))
          .withColumn("stage", lit(name))
      val w = Window.orderBy(col("stage_idx"))
      Seq(stat(s0, 0, "raw"), stat(s1, 1, "quality"),
        stat(s2, 2, "dedup_exact"), stat(s3, 3, "decontaminated"))
        .reduce(_.unionByName(_))
        .withColumn("prev", lag(col("n_docs"), 1).over(w))
        .withColumn("docs_dropped",
          coalesce(col("prev") - col("n_docs"), lit(0L)))
        .withColumn("drop_rate", when(col("prev").isNull, lit(0.0))
          .otherwise(col("docs_dropped").cast("double")
            / col("prev").cast("double")))
        .select(col("stage_idx"), col("stage"), col("n_docs"),
          col("n_tokens"), col("docs_dropped"), col("drop_rate"))
        .orderBy(col("stage_idx"))
    }),

    // GRADED contamination score — the report behind a threshold-based
    // decontamination policy ("drop docs with > X% benchmark overlap",
    // the Llama/GPT-report convention), where d08 answers only the
    // binary any-overlap question: for EVERY training doc, its distinct
    // 8-gram count, how many of those grams appear in the eval set, and
    // the overlap fraction — zero-hit docs included (they are the
    // denominator of any corpus-level contamination rate). Same
    // deterministic % 7 split as d08. Scale shape: eval grams distinct
    // + broadcast (8-byte hashed keys, the d08 contract); the corpus
    // side is one map pass whose per-doc tallies partial-aggregate
    // before the single exchange on doc_id; the final left join against
    // the doc list is co-partitioned on that same key. Counts are exact
    // modulo 64-bit gram-hash collisions (P < pairs/2^65 — the d08
    // bound, which scales with the eval set, small by definition).
    "d25_contamination_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contaminationScore(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0))
        .orderBy(col("doc_id"))
    }),

    // Duplicate STORAGE INFLATION per source — the dedup-ROI report:
    // how many bytes each source wastes on non-canonical exact copies
    // (canonical = min doc_id per content fingerprint, the d01 rule).
    // This is the number that decides whether running d01 on a source
    // pays for itself at 100 TB. Scale shape: rows reduce to 16-byte
    // md5 fingerprints + (id, source, n_chars) at the scan — text never
    // shuffles; the canonical-id frame groups on fp and joins back on
    // the SAME key, so the second hop reuses the first exchange's
    // partitioning; the per-source rollup partial-aggregates to
    // |sources| rows. Fingerprint identity stands in for text equality
    // under d01's collision argument (the oracle partitions by text
    // itself, so a collision would surface as a hash mismatch).
    "d26_dup_inflation" -> ((s, d) => {
      val hashed = Tables.documents(s, d).select(
        col("doc_id"), col("source"), col("n_chars"),
        md5(encode(col("text"), "UTF-8")).as("fp"))
      val canon = hashed.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("canon_id"))
      hashed.join(canon, "fp")
        .withColumn("dup", (col("doc_id") =!= col("canon_id")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("dup")).as("n_dups"),
          sum(col("n_chars")).as("bytes_total"),
          sum(col("dup") * col("n_chars")).as("bytes_wasted"))
        .withColumn("inflation", col("bytes_wasted").cast("double")
          / col("bytes_total").cast("double"))
        .select(col("source"), col("n_docs"), col("n_dups"),
          col("bytes_total"), col("bytes_wasted"), col("inflation"))
        .orderBy(col("source"))
    }),

    // SOURCE-level MinHash Jaccard matrix, audited against the exact
    // overlap: each source is summarized by a 16-hash MinHash signature
    // over its distinct trigram-shingle set (d18's portable affine
    // family over the 60-bit md5 gram ints), the pairwise signature
    // agreement estimates Jaccard, and the exact Jaccard (t20's shared
    // shingle machinery, plus set sizes) sits beside it with the
    // absolute error. This is the MERGEABILITY story of MinHash made
    // first-class: a per-SOURCE signature is just min() per hash — an
    // associative partial aggregate — so at 100 TB each source's
    // signature folds map-side inside one exchange of 16 longs per
    // source, and comparing two corpora costs 16 comparisons, not a
    // shingle join. The exact side (for the audit) is the expensive
    // path and says so: a distinct over (source, gram) keyed on the
    // 8-byte gram plus a gram-keyed equi-join, text never shuffling.
    // Pair frames are |sources|^2 summary rows — tiny by construction
    // (the sketch's entire point), so the pair product is allowlisted
    // like e01's ground truth.
    "d27_source_minhash_jaccard" -> ((s, d) => {
      val nH = 16
      // the gram frame feeds the signature AND the exact-set branch
      // (sizes + the intersection self-join) — cut it so the md5 gram
      // hashing runs once, not once per consumer
      val g = Materialize.LocalCheckpoint(md5Grams(s, d, "source", 3)
        .select(col("source"),
          expr(s"transform(array_distinct(hs), x -> x % $P31)")
            .as("xs")))
      val docMins = g
        .select(col("source"), graft.functions.TextFunctions
          .affineMinhashSignature(col("xs"), nH).as("sig"))
        .select(col("source") +: (0 until nH).map(i =>
          element_at(col("sig"), i + 1).as(s"h$i")): _*)
      val sig = docMins.groupBy(col("source"))
        .agg(min(col("h0")).as("h0"),
          (1 until nH).map(i => min(col(s"h$i")).as(s"h$i")): _*)
      // sets feeds the size rollup AND both sides of the intersection
      // self-join — cut it so the explode + distinct exchange runs once
      val sets = Materialize.LocalCheckpoint(
        g.select(col("source"), explode(col("xs")).as("x"))
          .distinct())
      val sz = sets.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val inter = sets.toDF("source_a", "x")
        .join(sets.toDF("source_b", "x"), "x")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_inter"))
      val a = sig.toDF("source_a" +: (0 until nH).map(i => s"a$i"): _*)
      val b = sig.toDF("source_b" +: (0 until nH).map(i => s"b$i"): _*)
      val matches = (0 until nH).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _)
      a.join(b, col("source_a") < col("source_b"))
        .withColumn("n_matches", matches.cast("long"))
        .select(col("source_a"), col("source_b"), col("n_matches"))
        .join(inter, Seq("source_a", "source_b"), "left")
        .join(sz.toDF("source_a", "sz_a"), "source_a")
        .join(sz.toDF("source_b", "sz_b"), "source_b")
        .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
        .withColumn("est_jaccard",
          col("n_matches").cast("double") / lit(16.0))
        .withColumn("exact_jaccard", col("n_inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
        .select(col("source_a"), col("source_b"), col("n_matches"),
          col("n_inter"), col("est_jaccard"), col("exact_jaccard"),
          abs(col("est_jaccard") - col("exact_jaccard")).as("abs_err"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // SimHash RADIUS-TUNING sweep — d05's tuning surface, completing
    // the measured-tuning family (d18 tunes MinHash bands, e08 tunes
    // nprobe, this tunes the hamming radius): for every radius
    // r ∈ 0..8, the true pair count (exhaustive hamming ≤ r), the
    // pairs the 4×15-bit banding actually catches, and the resulting
    // recall. The pigeonhole theorem says recall ≡ 1.0 through r = 3
    // (a pair differing in ≤ 3 bits cannot disagree in all 4 bands) —
    // this MEASURES where the guarantee ends and how fast recall
    // decays past it, which is what decides whether d05's r = 8
    // verification threshold needs more bands. Scale shape: one
    // shared fingerprint frame; the candidate join exchanges
    // (band, bh, id) integers; the truth side is the exhaustive
    // O(n²) hamming scan by the e02/e07 eval-twin contract (sampled
    // at 100 TB while the banded side is the real plan).
    "d28_simhash_radius_sweep" -> ((s, d) => {
      val fp = simhashFrame(s, d)
      val truth = fp.select(col("doc_id").as("doc_a"),
          col("simhash").as("sa"))
        .join(fp.select(col("doc_id").as("doc_b"),
          col("simhash").as("sb")), col("doc_a") < col("doc_b"))
        .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"))
      val caught = simhashCandidates(fp)
      def perRadius(pairs: DataFrame, out: String) = pairs
        .select(col("hamming"), explode(sequence(lit(0), lit(8))).as("r"))
        .filter(col("hamming") <= col("r"))
        .groupBy(col("r")).agg(count(lit(1)).as(out))
      val radii = s.range(0, 9).select(col("id").cast("int").as("r"))
      radii
        .join(perRadius(truth, "n_true"), Seq("r"), "left")
        .join(perRadius(caught, "n_caught"), Seq("r"), "left")
        .select(col("r"),
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          coalesce(col("n_caught"), lit(0L)).as("n_caught"))
        .withColumn("recall",
          when(col("n_true") > 0,
            col("n_caught").cast("double") / col("n_true").cast("double")))
        .orderBy(col("r"))
    }),

    // SHINGLE-WIDTH index-cost profile — the THIRD tuning axis after
    // d18's (bands, rows) and d28's radius: the gram width w decides
    // index size and selectivity before any banding happens. Per
    // w ∈ {2, 3, 5}: distinct grams (index keys), total postings,
    // grams per doc, and the hot-gram mass (df > 10% of docs — the
    // stop-shingle load that d03's rarest-first prefix ordering and
    // the spill-safe df window exist to absorb). Wider grams = more
    // distinct keys but colder ones; this prices that trade on the
    // actual corpus. Portable 60-bit md5 gram hashes (the d18/d27
    // family), so both engines count the identical key sets — no
    // collision argument needed. Scale shape: one gram-keyed
    // partial-agg per width; the hot cut compares against a 1-row
    // broadcast doc count; outputs are 3 rows.
    "d29_shingle_width_profile" -> ((s, d) => {
      def profile(w: Int): DataFrame = {
        // the gram frame feeds both the corpus census and the df
        // aggregate — cut it so the md5 gram hashing runs once per
        // width (2 longs per posting)
        val g = Materialize.LocalCheckpoint(md5Grams(s, d, "doc_id", w)
          .select(col("doc_id"),
            explode(array_distinct(col("hs"))).as("g")))
        val docs = g.agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("total_postings"))
        g.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .join(broadcast(docs), lit(true))
          .groupBy(col("n_docs"), col("total_postings"))
          .agg(count(lit(1)).as("n_distinct_grams"),
            sum(when(col("df") * 10 > col("n_docs"), 1L).otherwise(0L))
              .as("n_hot_grams"),
            sum(when(col("df") * 10 > col("n_docs"), col("df"))
              .otherwise(0L)).as("hot_postings"))
          .select(lit(w).as("w"), col("n_docs"), col("n_distinct_grams"),
            col("total_postings"),
            (col("total_postings").cast("double") /
              col("n_docs").cast("double")).as("mean_grams_per_doc"),
            col("n_hot_grams"),
            (col("hot_postings").cast("double") /
              col("total_postings").cast("double"))
              .as("hot_posting_share"))
      }
      profile(2).unionAll(profile(3)).unionAll(profile(5))
        .orderBy(col("w"))
    }),

    // THRESHOLD-SENSITIVITY table — the fourth dedup tuning axis after
    // d18 (bands), d23 (estimator error) and d29 (shingle width): how
    // many pairs and how many distinct documents a jaccard cut at each
    // candidate threshold {0.6..0.9} would implicate, from ONE exact
    // pair frame mined at the 0.6 floor. The "how aggressive can we
    // afford to be" curve a pipeline reads before fixing d04's 0.8.
    // Scale: one PPJoin pass at the floor (prefix pruning still
    // applies, just with the longer 0.6 prefix); the threshold fan-out
    // is x4 on the PAIR frame (already tiny), never the corpus.
    "d30_threshold_sensitivity" -> ((s, d) => {
      val pairs = nearDupPairs(Tables.documents(s, d), 0.6)
        .select(col("jaccard"),
          array(col("doc_a"), col("doc_b")).as("ids"))
      val fan = pairs
        .select(explode(array(Seq(0.6, 0.7, 0.8, 0.9).map(lit): _*))
          .as("t"), col("jaccard"), col("ids"))
        .filter(col("jaccard") >= col("t"))
      val np = fan.groupBy(col("t")).agg(count(lit(1)).as("n_pairs"))
      val nd = fan.select(col("t"), explode(col("ids")).as("doc_id"))
        .groupBy(col("t"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      np.join(nd, Seq("t")).orderBy(col("t"))
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

    // REPEATED-PASSAGE span mining (the report behind d12's excision):
    // every maximal run of word 8-grams that also occur in at least
    // one OTHER document, per document, with 1-based token bounds —
    // the "which passages are boilerplate/copied, and how widely"
    // audit (Lee et al.'s dedup analysis shape) that decides excision
    // thresholds before d12 commits to them. Shape: the gram frame is
    // (doc_id, pos, hash) — the codegen'd per-position gram hashes,
    // never gram text; cross-doc frequency is a g-keyed count-distinct
    // over 8-byte keys (map-side partial agg collapses in-doc
    // repeats); flagged positions rejoin on g and the island merge
    // (pos - row_number) is a doc-local window. No text ever shuffles.
    "d15_repeated_spans" -> ((s, d) => {
      val n = 8
      val pos = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(
          graft.functions.TextFunctions.wordGramHashes(col("text"), n)))
        .toDF("doc_id", "pos", "g")
      val dup = pos.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      pos.join(dup, "g")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy(col("doc_id"), col("grp"))
        .agg((min(col("pos")) + 1).cast("long").as("span_start"),
          (max(col("pos")) + n).cast("long").as("span_end"),
          count(lit(1)).as("n_grams"),
          max(col("n_docs")).as("max_doc_freq"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("n_grams"), col("max_doc_freq"))
        .orderBy(col("doc_id"), col("span_start"))
    })
  )

  /** SimHash fingerprint frame (d05/d28): per document, the 60-bit
    * simhash of its whitespace words under the portable md5-prefix
    * word hash — sign-sum per bit position, then bit reassembly. The
    * groupBy is the only exchange and it carries (doc_id, 60 ints).
    */
  private def simhashFrame(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("w"))
      .withColumn("h", graft.functions.HashFunctions.md5Hash60(col("w")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashFunctions.simhash(col("h"))
        .as("simhash"))

  /** (doc_a, doc_b, hamming) for every pair sharing one of the 4
    * 15-bit bands of its simhash — the banded candidate join under d05
    * and d28's radius sweep. The join exchanges (band, bh, id) integers
    * only. */
  private def simhashCandidates(fp: DataFrame): DataFrame = {
    val banded = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"),
          shiftright(col("simhash"), j * 15)
            .bitwiseAND(lit(0x7FFFL)).as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.band"), col("e.bh"))
    banded.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"),
        col("band"), col("bh"))
      .join(banded.select(col("doc_id").as("doc_b"),
        col("simhash").as("sim_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
  }

  /** (key, hs): each document's portable 60-bit md5 `w`-gram hashes
    * (the codegen'd Md5GramFps — bit-identical to the declarative
    * conv(md5(...)) lambda), keeping documents with at least `w` words.
    * The gram stream under d18/d19/d23/d27/d29 and [[winnowFps]]. */
  private def md5Grams(s: SparkSession, d: String, key: String,
      w: Int): DataFrame =
    Tables.documents(s, d)
      .select(col(key), graft.functions.TextFunctions
        .md5GramFps(col("text"), w).as("hs"))
      .filter(size(col("hs")) > 0)

  /** d18/d23's cut gram-set frame (doc_id, gs = distinct 3-gram
    * hashes): the signature, posting and size branches all read it, so
    * the gram hashing runs once per query. Eager build. */
  private def gramSets(s: SparkSession, d: String): DataFrame =
    Materialize.LocalCheckpoint(md5Grams(s, d, "doc_id", 3)
      .select(col("doc_id"), array_distinct(col("hs")).as("gs")))

  private def gramSizes(g: DataFrame): DataFrame =
    g.select(col("doc_id"), size(col("gs")).as("sz"))

  /** (doc_a, doc_b, inter): exact shared-gram counts of every pair with
    * at least one common gram — the gram-keyed posting self-join. */
  private def gramInter(g: DataFrame): DataFrame = {
    val posting = g.select(col("doc_id"), explode(col("gs")).as("fp"))
    posting.select(col("doc_id").as("doc_a"), col("fp"))
      .join(posting.select(col("doc_id").as("doc_b"), col("fp")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
  }

  /** (doc_id, sig): the portable 64-slot affine MinHash signature of
    * each gram set (the codegen'd AffineMinHashSignature). */
  private def affineSigs(g: DataFrame): DataFrame =
    g.select(col("doc_id"), graft.functions.TextFunctions
      .affineMinhashSignature(col("gs"), 64).as("sig"))

  /** Band hash of band `j` with `r` rows of signature column `sig`:
    * the base-131071 Horner fold mod 2^31-1. */
  private def bandHash(j: Int, r: Int): String = (0 until r).map { k =>
    s"(element_at(sig, ${j * r + k + 1}) * ${powMod(131071L, r - 1 - k)}L) % $P31"
  }.mkString("(", " + ", s") % $P31")

  /** DuckDB twin of [[bandHash]] (1-based list index). */
  private def bandHashSql(j: Int, r: Int): String = (0 until r).map { k =>
    s"(sig[${j * r + k + 1}] * ${powMod(131071L, r - 1 - k)}) % $P31"
  }.mkString("(", " + ", s") % $P31")

  /** One row per (doc, band struct) of `sig`: each struct in `structs`
    * exploded and flattened into `fields`. */
  private def affineBands(sig: DataFrame, structs: Seq[String],
      fields: Seq[String]): DataFrame =
    sig.select(col("doc_id"),
        explode(expr(s"array(${structs.mkString(", ")})")).as("e"))
      .select(col("doc_id") +: fields.map(f => col(s"e.$f").as(f)): _*)

  /** Distinct band-colliding pairs (scope..., doc_a, doc_b) of
    * [[affineBands]] rows, colliding within each `scope` value. */
  private def bandCandidates(bands: DataFrame,
      scope: Seq[String]): DataFrame = {
    val keys = scope ++ Seq("band", "bh")
    bands.select(keys.map(col) :+ col("doc_id").as("doc_a"): _*)
      .join(bands.select(keys.map(col) :+ col("doc_id").as("doc_b"): _*),
        keys)
      .filter(col("doc_a") < col("doc_b"))
      .select(scope.map(col) ++ Seq(col("doc_a"), col("doc_b")): _*)
      .distinct()
  }

  /** Winnowing fingerprint frame (d20/d21): per document, the distinct
    * window-minima of the 60-bit-md5 trigram hash stream over a w=4
    * sliding window (short docs keep position 1's truncated window so
    * every doc with >= 1 gram fingerprints). ENTIRELY row-local — the
    * hash stream, the sliding min, and the distinct all run as array
    * expressions inside one projection, so the operator adds ZERO
    * exchanges of its own (the first formulation's per-position window
    * + distinct shuffled every gram position twice; this shuffles
    * nothing). Returns (doc_id, n_grams, fps array).
    */
  private def winnowFps(s: SparkSession, d: String): DataFrame =
    md5Grams(s, d, "doc_id", 3)
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_grams"),
        expr("array_distinct(transform(" +
          "sequence(1, greatest(1, size(hs) - 3)), " +
          "i -> array_min(slice(hs, i, 4))))").as("fps"))

  /** Portable-hash constants for d18: affine family over Z_{2^31-1}
    * (products of two sub-2^31 values stay in signed-64 range — exact
    * BIGINT arithmetic in any engine). Single source of truth lives in
    * [[graft.functions.AffineMinHashSignature]] — the codegen'd one-pass
    * expression the Spark side evaluates; these aliases keep the oracle
    * SQL generation (which must SPELL OUT the same constants) in sync. */
  private val P31 = graft.functions.AffineMinHashSignature.P31
  private def affineA(i: Int): Long =
    graft.functions.AffineMinHashSignature.affineA(i)
  private def affineB(i: Int): Long =
    graft.functions.AffineMinHashSignature.affineB(i)
  private def powMod(base: Long, e: Int): Long = {
    var r = 1L; var b = base % P31; var k = e
    while (k > 0) {
      if ((k & 1) == 1) r = r * b % P31
      b = b * b % P31; k >>= 1
    }
    r
  }

  def oracleSql: Map[String, String] = {
    // d18's DuckDB twin of the portable affine MinHash: same constants,
    // same mod-2^31-1 arithmetic, same Horner band fold
    val d18SigTerms = (0 until 64).map(i =>
      s"list_min(list_transform(xs, x -> (${affineA(i)} * x + ${affineB(i)}) % $P31))")
      .mkString(", ")
    val d18BandStructs = Seq(8, 16, 32).flatMap { b =>
      (0 until b).map(j =>
        s"{'bands': $b, 'band': $j, 'bh': ${bandHashSql(j, 64 / b)}}")
    }.mkString(", ")
    // DuckDB twin of [[md5Grams]] (3-grams, doc_id): CTE `gr` (doc_id,
    // fp) of each document's distinct gram hashes
    val gramCtes =
      s"""w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS ws
                FROM documents),
         wf AS (SELECT doc_id, ws FROM w WHERE LEN(ws) >= 3),
         gr AS (SELECT DISTINCT doc_id,
                  ${md5Hash60Sql("array_to_string(ws[i:i+2], ' ')")} AS fp
                FROM wf, UNNEST(GENERATE_SERIES(1, LEN(ws) - 2)) AS t(i))"""
    // DuckDB twin of [[affineSigs]] over [[gramCtes]]: CTE `sigs`
    val sigCtes =
      s"""$gramCtes,
         xl AS (SELECT doc_id, list(fp % $P31) AS xs FROM gr
                GROUP BY doc_id),
         sigs AS (SELECT doc_id, [$d18SigTerms] AS sig FROM xl)"""
    // DuckDB twin of [[gramSizes]] and [[gramInter]]: CTEs `sizes` and
    // `ints` (doc_a, doc_b, i)
    val interCtes =
      """sizes AS (SELECT doc_id, COUNT(1) AS sz FROM gr GROUP BY doc_id),
         ints AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    COUNT(1) AS i
                  FROM gr a JOIN gr b ON a.fp = b.fp
                    AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)"""
    val d18Sql =
      s"""WITH $sigCtes,
         bnd AS (SELECT doc_id, u.bands AS bands, u.band AS band,
                   u.bh AS bh
                 FROM (SELECT doc_id, UNNEST([$d18BandStructs]) AS u
                       FROM sigs)),
         cand AS (SELECT DISTINCT a.bands, a.doc_id AS doc_a,
                    b.doc_id AS doc_b
                  FROM bnd a JOIN bnd b ON a.bands = b.bands
                    AND a.band = b.band AND a.bh = b.bh
                    AND a.doc_id < b.doc_id),
         $interCtes,
         truth AS (SELECT doc_a, doc_b FROM ints
                   JOIN sizes sa ON sa.doc_id = doc_a
                   JOIN sizes sb ON sb.doc_id = doc_b
                   WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         nt AS (SELECT COUNT(1) AS n_truth FROM truth),
         stats AS (SELECT c.bands, COUNT(1) AS n_candidates,
                     CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1
                       ELSE 0 END) AS BIGINT) AS n_found
                   FROM cand c LEFT JOIN truth t
                     ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
                   GROUP BY 1),
         spine AS (SELECT UNNEST([8, 16, 32]) AS bands)
         SELECT s.bands, CAST(64 // s.bands AS INT) AS rows_per_band,
           COALESCE(st.n_candidates, 0) AS n_candidates,
           COALESCE(st.n_found, 0) AS n_found,
           nt.n_truth,
           CASE WHEN COALESCE(st.n_candidates, 0) > 0
             THEN CAST(COALESCE(st.n_found, 0) AS DOUBLE)
               / CAST(st.n_candidates AS DOUBLE)
             ELSE 0.0 END AS prec,
           CAST(COALESCE(st.n_found, 0) AS DOUBLE)
             / CAST(nt.n_truth AS DOUBLE) AS recall
         FROM spine s LEFT JOIN stats st ON s.bands = st.bands
         CROSS JOIN nt
         ORDER BY s.bands"""
    // CTE `w` (doc_id, words): each document's whitespace words
    val wordsCte =
      """w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
              FROM documents)"""
    // distinct word 3-gram shingles `sh` (doc_id, sh) and set `sizes`
    val shingleCtes =
      s"""$wordsCte,
         sh AS (SELECT DISTINCT doc_id,
                  words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS sh
                FROM w, UNNEST(GENERATE_SERIES(1, LEN(words) - 2)) AS t(i)),
         sizes AS (SELECT doc_id, COUNT(1) AS sz FROM sh GROUP BY doc_id)"""
    // t17's 16-word chunks `ch` (doc_id, ci, chunk)
    val chunkCtes =
      s"""$wordsCte,
         ch AS (SELECT doc_id, i AS ci,
                  array_to_string(words[(i*16 + 1):(i*16 + 16)], ' ')
                    AS chunk
                FROM w, UNNEST(generate_series(0, (LEN(words) - 1) // 16))
                  AS t(i))"""
    // each document's distinct word 8-grams `g` (doc_id, g)
    val gram8Ctes =
      s"""$wordsCte,
         g AS (SELECT DISTINCT doc_id, array_to_string(words[i:i+7], ' ')
                 AS g
               FROM w, UNNEST(generate_series(1,
                 GREATEST(LEN(words) - 7, 0))) AS t(i))"""
    val pairCtes =
      s"""$shingleCtes,
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          COUNT(1) AS inter
                   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)"""
    // d07's near-dup clusters: pairs at Jaccard >= 0.8 (`qual`), closed
    // by [[componentCtes]] over every document into CTE `comp`
    val clusterCtes =
      s"""$pairCtes,
         qual AS (SELECT doc_a, doc_b FROM pairs
                  JOIN sizes sa ON sa.doc_id = doc_a
                  JOIN sizes sb ON sb.doc_id = doc_b
                  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
                        >= 0.8),
         ${componentCtes("qual", "documents")}"""
    val jaccardSql =
      s"""WITH $pairCtes
         SELECT doc_a, doc_b, inter,
                CAST(sa.sz + sb.sz - inter AS BIGINT) AS un,
                CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
         ORDER BY doc_a, doc_b"""
    Map(
      "d01_dedup_exact" ->
        """SELECT MIN(doc_id) AS doc_id, COUNT(1) AS n_copies
           FROM documents GROUP BY text ORDER BY doc_id""",
      "d02_fingerprint_md5" ->
        "SELECT doc_id, MD5(text) AS fp FROM documents ORDER BY doc_id",
      "d08_decontamination" ->
        s"""WITH $gram8Ctes,
           ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
           tr AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0)
           SELECT tr.doc_id, COUNT(DISTINCT tr.g) AS n_shared
           FROM tr JOIN ev USING (g)
           GROUP BY tr.doc_id ORDER BY doc_id""",
      "d10_contamination_attribution" ->
        s"""WITH $gram8Ctes,
           ev AS (SELECT doc_id AS eval_doc_id, g FROM g
                  WHERE doc_id % 7 = 0),
           tr AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0)
           SELECT tr.doc_id, ev.eval_doc_id, COUNT(1) AS n_shared
           FROM tr JOIN ev USING (g)
           GROUP BY 1, 2 ORDER BY doc_id, eval_doc_id""",
      // same 16-word chunking arithmetic as t17; membership by chunk
      // text == membership by md5 (the fingerprint identity contract)
      "d11_boilerplate_strip" ->
        s"""WITH $chunkCtes,
           b AS (SELECT chunk FROM ch GROUP BY chunk
                 HAVING COUNT(DISTINCT doc_id) >= 2)
           SELECT ch.doc_id, COUNT(1) AS n_chunks,
             CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_removed,
             COALESCE(string_agg(CASE WHEN b.chunk IS NULL THEN ch.chunk END,
               ' ' ORDER BY ch.ci), '') AS clean_text
           FROM ch LEFT JOIN b USING (chunk)
           GROUP BY ch.doc_id ORDER BY doc_id""",
      // keep-first: the owner of a chunk is its min (doc_id, ci)
      // occurrence — rn = 1 under that order; every rn > 1 is excised.
      // Grouping by chunk text == grouping by md5 (fingerprint identity
      // contract; the Spark side raises on collision).
      "d12_passage_dedup_keep_first" ->
        s"""WITH $chunkCtes,
           r AS (SELECT doc_id, ci, chunk,
                   ROW_NUMBER() OVER (PARTITION BY chunk
                     ORDER BY doc_id, ci) AS rn
                 FROM ch)
           SELECT doc_id, COUNT(1) AS n_chunks,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END,
               ' ' ORDER BY ci), '') AS clean_text
           FROM r GROUP BY doc_id ORDER BY doc_id""",
      "d03_ngram_jaccard_pairs" -> jaccardSql,
      // LSH output == exact output at this corpus/threshold (see scaladoc)
      "d04_minhash_lsh_dedup" -> jaccardSql,
      // DIRECTIONAL pairs (doc_a <> doc_b, not <): containment divides
      // by the contained side's size only
      "d14_containment_pairs" ->
        s"""WITH $shingleCtes,
           pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                            COUNT(1) AS inter
                     FROM sh a JOIN sh b
                       ON a.sh = b.sh AND a.doc_id <> b.doc_id
                     GROUP BY 1, 2)
           SELECT doc_a, doc_b, inter, sa.sz AS sa,
                  CAST(inter AS DOUBLE) / sa.sz AS containment
           FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
           WHERE CAST(inter AS DOUBLE) / sa.sz >= 0.9
           ORDER BY doc_a, doc_b""",
      // exact cross-split Jaccard — d09's LSH+verify equals it (recall
      // argument in nearDupeAgainst's scaladoc, verified empirically)
      "d09_neardup_against" ->
        s"""WITH $shingleCtes,
           pairs AS (SELECT b.doc_id AS batch_id, a.doc_id AS dup_of,
                            COUNT(1) AS inter
                     FROM sh a JOIN sh b ON a.sh = b.sh
                     WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
                     GROUP BY 1, 2)
           SELECT batch_id, dup_of, inter,
                  CAST(sa.sz + sb.sz - inter AS BIGINT) AS un,
                  CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
           FROM pairs
           JOIN sizes sa ON sa.doc_id = dup_of
           JOIN sizes sb ON sb.doc_id = batch_id
           WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.8
           ORDER BY batch_id, dup_of""",
      // components via transitive closure (recursive CTE) + min over the
      // reachable set — the declarative twin of label propagation
      "d07_neardup_components" ->
        s"""WITH RECURSIVE $clusterCtes
           SELECT doc_id, cluster_rep FROM comp ORDER BY doc_id""",
      // d07's component closure + token counts; canonical = longest
      // member, ties by min doc_id (rn = 1 under that order)
      "d13_canonical_keep_longest" ->
        s"""WITH RECURSIVE $clusterCtes,
           toks AS (SELECT doc_id,
                      CAST(LEN(string_split(TRIM(text), ' ')) AS BIGINT)
                        AS n_tokens
                    FROM documents),
           j AS (SELECT c.cluster_rep, c.doc_id, t.n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY c.cluster_rep
                     ORDER BY t.n_tokens DESC, c.doc_id) AS rn,
                   COUNT(1) OVER (PARTITION BY c.cluster_rep) AS n_members
                 FROM comp c JOIN toks t USING (doc_id))
           SELECT cluster_rep, doc_id AS canonical_id,
             n_tokens AS canonical_tokens,
             CAST(n_members AS BIGINT) AS n_members
           FROM j WHERE rn = 1 ORDER BY cluster_rep""",
      // d07's component closure grouped twice: label -> size -> histogram
      "d16_cluster_size_histogram" ->
        s"""WITH RECURSIVE $clusterCtes,
           cs AS (SELECT cluster_rep, COUNT(*) AS cluster_size
                  FROM comp GROUP BY 1)
           SELECT cluster_size, COUNT(*) AS n_clusters,
                  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
                  CAST((cluster_size - 1) * COUNT(*) AS BIGINT)
                    AS n_removable
           FROM cs GROUP BY cluster_size ORDER BY cluster_size""",
      // d07's component closure + source attribution of every
      // intra-cluster pair (transitive closure, a < b)
      "d17_dup_source_matrix" ->
        s"""WITH RECURSIVE $clusterCtes,
           cs AS (SELECT c.doc_id, d.source, c.cluster_rep
                  FROM comp c JOIN documents d USING (doc_id)),
           pr AS (SELECT LEAST(x.source, y.source) AS src_a,
                         GREATEST(x.source, y.source) AS src_b
                  FROM cs x JOIN cs y
                    ON x.cluster_rep = y.cluster_rep
                   AND x.doc_id < y.doc_id)
           SELECT src_a, src_b, COUNT(*) AS n_dup_pairs
           FROM pr GROUP BY 1, 2 ORDER BY 1, 2""",
      // identical 60-bit md5 word hash + bit-vote + banding arithmetic
      "d18_minhash_band_tuning" -> d18Sql,

      "d23_minhash_error_profile" -> {
        val d23Bands = (0 until 16).map(j =>
          s"{'band': $j, 'bh': ${bandHashSql(j, 4)}}").mkString(", ")
        s"""WITH $sigCtes,
           bnd AS (SELECT doc_id, u.band AS band, u.bh AS bh
                   FROM (SELECT doc_id, UNNEST([$d23Bands]) AS u
                         FROM sigs)),
           cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM bnd a JOIN bnd b ON a.band = b.band
                      AND a.bh = b.bh AND a.doc_id < b.doc_id),
           $interCtes,
           pr AS (SELECT c.doc_a, c.doc_b, COALESCE(ints.i, 0) AS inter,
                    x.sz AS sa, y.sz AS sb, p.sig AS siga, q.sig AS sigb
                  FROM cand c
                  LEFT JOIN ints ON c.doc_a = ints.doc_a
                    AND c.doc_b = ints.doc_b
                  JOIN sizes x ON c.doc_a = x.doc_id
                  JOIN sizes y ON c.doc_b = y.doc_id
                  JOIN sigs p ON c.doc_a = p.doc_id
                  JOIN sigs q ON c.doc_b = q.doc_id),
           e AS (SELECT
                   CAST(inter AS DOUBLE) / CAST(sa + sb - inter AS DOUBLE)
                     AS truej,
                   CAST(CAST(LEN(list_filter(generate_series(1, 64),
                     i -> siga[i] = sigb[i])) AS BIGINT) AS DOUBLE)
                     / CAST(64 AS DOUBLE) AS est
                 FROM pr),
           e3 AS (SELECT LEAST(CAST(FLOOR(truej * 10) AS INT), 9)
                      AS j_bucket,
                    truej, est, ABS(est - truej) AS err FROM e)
           SELECT j_bucket, COUNT(1) AS n_pairs,
             ${Parity.davgSql("truej")} AS mean_true,
             ${Parity.davgSql("est")} AS mean_est,
             ${Parity.davgSql("err")} AS mean_abs_err,
             MAX(err) AS max_abs_err
           FROM e3 GROUP BY 1 ORDER BY 1"""
      },

      "d19_shingle_df_profile" ->
        s"""WITH $gramCtes,
           df AS (SELECT fp, COUNT(1) AS df FROM gr GROUP BY fp),
           tot AS (SELECT CAST(SUM(df) AS BIGINT) AS total_postings
                   FROM df)
           SELECT LEAST(df, 17) AS df_bucket,
             COUNT(1) AS n_shingles,
             CAST(SUM(df) AS BIGINT) AS n_postings,
             CAST(CAST(SUM(df) AS BIGINT) AS DOUBLE)
               / CAST(total_postings AS DOUBLE) AS posting_share
           FROM df CROSS JOIN tot
           GROUP BY 1, total_postings ORDER BY 1""",

      "d05_simhash_pairs" -> simhashSql,

      "d20_winnow_profile" ->
        s"""$WinnowCte
           SELECT doc_id, n_grams, CAST(LEN(fps) AS BIGINT) AS n_fp,
             CAST(LEN(fps) AS DOUBLE) / CAST(n_grams AS DOUBLE)
               AS density
           FROM fl ORDER BY doc_id""",

      "d21_winnow_pairs" -> winnowPairsSql,

      // Mirrors the Pipeline stages: t02's quality rules, d01's
      // keep-min-id dedup, d08's 8-gram decontamination (%7 split).
      "d24_pipeline_funnel" ->
        """WITH s0 AS (SELECT doc_id, text,
               string_split(TRIM(text), ' ') AS words
             FROM documents WHERE doc_id % 7 <> 0),
           s1 AS (SELECT * FROM s0 WHERE LEN(words) >= 10
                  AND CAST(LEN(list_distinct(words)) AS DOUBLE)
                    / CAST(LEN(words) AS DOUBLE) >= 0.5),
           reps AS (SELECT md5(text) AS fp, MIN(doc_id) AS doc_id
                    FROM s1 GROUP BY 1),
           s2 AS (SELECT s1.* FROM s1
                  JOIN reps ON s1.doc_id = reps.doc_id),
           ev AS (SELECT DISTINCT array_to_string(words[i:i+7], ' ') AS g
                  FROM (SELECT string_split(TRIM(text), ' ') AS words
                        FROM documents WHERE doc_id % 7 = 0) e,
                    UNNEST(generate_series(1,
                      GREATEST(LEN(words) - 7, 0))) AS t(i)),
           g AS (SELECT doc_id, array_to_string(words[i:i+7], ' ') AS g
                 FROM s2, UNNEST(generate_series(1,
                   GREATEST(LEN(words) - 7, 0))) AS t(i)),
           bad AS (SELECT DISTINCT g.doc_id FROM g JOIN ev USING (g)),
           s3 AS (SELECT * FROM s2
                  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
           f AS (
             SELECT 0 AS stage_idx, 'raw' AS stage, COUNT(1) AS n_docs,
               CAST(SUM(LEN(words)) AS BIGINT) AS n_tokens FROM s0
             UNION ALL
             SELECT 1, 'quality', COUNT(1),
               CAST(SUM(LEN(words)) AS BIGINT) FROM s1
             UNION ALL
             SELECT 2, 'dedup_exact', COUNT(1),
               CAST(SUM(LEN(words)) AS BIGINT) FROM s2
             UNION ALL
             SELECT 3, 'decontaminated', COUNT(1),
               CAST(SUM(LEN(words)) AS BIGINT) FROM s3),
           l AS (SELECT *, lag(n_docs) OVER (ORDER BY stage_idx) AS prev
                 FROM f)
           SELECT stage_idx, stage, n_docs, n_tokens,
             COALESCE(prev - n_docs, 0) AS docs_dropped,
             CASE WHEN prev IS NULL THEN 0.0
                  ELSE CAST(COALESCE(prev - n_docs, 0) AS DOUBLE)
                    / CAST(prev AS DOUBLE) END AS drop_rate
           FROM l ORDER BY stage_idx""",

      // d10's distinct per-doc grams, left-joined so zero-hit docs stay
      "d25_contamination_score" ->
        s"""WITH $gram8Ctes,
           ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
           tr AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0),
           sc AS (SELECT tr.doc_id, COUNT(1) AS n_grams,
                    CAST(SUM(CASE WHEN ev.g IS NULL THEN 0 ELSE 1 END)
                      AS BIGINT) AS n_shared
                  FROM tr LEFT JOIN ev ON tr.g = ev.g GROUP BY 1)
           SELECT d.doc_id, COALESCE(n_grams, 0) AS n_grams,
             COALESCE(n_shared, 0) AS n_shared,
             CASE WHEN COALESCE(n_grams, 0) > 0
                  THEN CAST(n_shared AS DOUBLE) / CAST(n_grams AS DOUBLE)
                  ELSE 0.0 END AS contamination
           FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
           WHERE d.doc_id % 7 <> 0 ORDER BY d.doc_id""",

      // partitions by text itself — a Spark-side md5 collision would
      // surface here as a mismatch (the d01 guard argument)
      "d26_dup_inflation" ->
        """WITH c AS (SELECT source, doc_id, n_chars,
               MIN(doc_id) OVER (PARTITION BY text) AS canon_id
             FROM documents)
           SELECT source, COUNT(1) AS n_docs,
             CAST(SUM(CASE WHEN doc_id <> canon_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dups,
             CAST(SUM(n_chars) AS BIGINT) AS bytes_total,
             CAST(SUM(CASE WHEN doc_id <> canon_id THEN n_chars ELSE 0 END)
               AS BIGINT) AS bytes_wasted,
             CAST(SUM(CASE WHEN doc_id <> canon_id THEN n_chars ELSE 0 END)
                 AS DOUBLE)
               / CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) AS inflation
           FROM c GROUP BY source ORDER BY source""",

      "d27_source_minhash_jaccard" -> {
        val sigTerms = (0 until 16).map(i =>
          s"CAST(MIN((${affineA(i)} * x + ${affineB(i)}) % $P31) AS BIGINT) AS h$i")
          .mkString(", ")
        val matchTerms = (0 until 16).map(i =>
          s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH w AS (SELECT source, string_split(TRIM(text), ' ') AS ws
                       FROM documents),
           wf AS (SELECT source, ws FROM w WHERE LEN(ws) >= 3),
           gr AS (SELECT DISTINCT source,
                    ${md5Hash60Sql("array_to_string(ws[i:i+2], ' ')")} % $P31 AS x
                  FROM wf, UNNEST(GENERATE_SERIES(1, LEN(ws) - 2)) AS t(i)),
           sig AS (SELECT source, $sigTerms FROM gr GROUP BY source),
           sz AS (SELECT source, COUNT(1) AS sz FROM gr GROUP BY source),
           ints AS (SELECT a.source AS source_a, b.source AS source_b,
                      COUNT(1) AS n_inter
                    FROM gr a JOIN gr b ON a.x = b.x
                      AND a.source < b.source
                    GROUP BY 1, 2),
           p AS (SELECT a.source AS source_a, b.source AS source_b,
                   CAST($matchTerms AS BIGINT) AS n_matches
                 FROM sig a JOIN sig b ON a.source < b.source),
           j AS (SELECT p.source_a, p.source_b, p.n_matches,
                   COALESCE(ints.n_inter, 0) AS n_inter,
                   sa.sz AS sz_a, sb.sz AS sz_b
                 FROM p
                 LEFT JOIN ints ON p.source_a = ints.source_a
                   AND p.source_b = ints.source_b
                 JOIN sz sa ON p.source_a = sa.source
                 JOIN sz sb ON p.source_b = sb.source)
           SELECT source_a, source_b, n_matches, n_inter,
             CAST(n_matches AS DOUBLE) / 16.0 AS est_jaccard,
             CAST(n_inter AS DOUBLE)
               / CAST(sz_a + sz_b - n_inter AS DOUBLE) AS exact_jaccard,
             ABS(CAST(n_matches AS DOUBLE) / 16.0
               - CAST(n_inter AS DOUBLE)
                 / CAST(sz_a + sz_b - n_inter AS DOUBLE)) AS abs_err
           FROM j ORDER BY source_a, source_b"""
      },

      "d28_simhash_radius_sweep" -> {
        val fpCte = simhashSql.substring(0, simhashSql.indexOf(",\n       banded"))
        s"""$fpCte,
           truth AS (SELECT CAST(bit_count(xor(a.simhash, b.simhash))
                 AS INT) AS h
               FROM fp a JOIN fp b ON a.doc_id < b.doc_id),
           banded AS (SELECT doc_id, simhash,
                 (simhash >> (j * 15)) & 32767 AS bh, j AS band
               FROM fp, UNNEST(generate_series(0, 3)) AS t2(j)),
           caught AS (SELECT DISTINCT a.doc_id AS doc_a,
                 b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS h
               FROM banded a JOIN banded b
                 ON a.band = b.band AND a.bh = b.bh
                AND a.doc_id < b.doc_id),
           tr AS (SELECT t.r, COUNT(1) AS n_true
               FROM truth, UNNEST(generate_series(0, 8)) AS t(r)
               WHERE truth.h <= t.r GROUP BY 1),
           cr AS (SELECT t.r, COUNT(1) AS n_caught
               FROM caught, UNNEST(generate_series(0, 8)) AS t(r)
               WHERE caught.h <= t.r GROUP BY 1)
           SELECT CAST(rr.r AS INT) AS r,
             CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
             CAST(COALESCE(n_caught, 0) AS BIGINT) AS n_caught,
             CASE WHEN COALESCE(n_true, 0) > 0
               THEN CAST(COALESCE(n_caught, 0) AS DOUBLE)
                 / CAST(n_true AS DOUBLE) END AS recall
           FROM (SELECT UNNEST(generate_series(0, 8)) AS r) rr
           LEFT JOIN tr ON rr.r = tr.r
           LEFT JOIN cr ON rr.r = cr.r
           ORDER BY r"""
      },

      "d29_shingle_width_profile" -> {
        def prof(w: Int) =
          s"""SELECT $w AS w,
               CAST(n_docs AS BIGINT) AS n_docs,
               COUNT(1) AS n_distinct_grams,
               CAST(total_postings AS BIGINT) AS total_postings,
               CAST(total_postings AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 AS mean_grams_per_doc,
               CAST(SUM(CASE WHEN df * 10 > n_docs THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hot_grams,
               CAST(SUM(CASE WHEN df * 10 > n_docs THEN df ELSE 0 END)
                   AS DOUBLE)
                 / CAST(total_postings AS DOUBLE) AS hot_posting_share
             FROM (SELECT g, COUNT(1) AS df FROM g$w GROUP BY 1) f
             CROSS JOIN (SELECT COUNT(DISTINCT doc_id) AS n_docs,
                 COUNT(1) AS total_postings FROM g$w) t
             GROUP BY n_docs, total_postings"""
        def grams(w: Int) =
          s"""g$w AS (SELECT DISTINCT doc_id,
               ${md5Hash60Sql(s"array_to_string(ws[i:i+${w - 1}], ' ')")} AS g
             FROM (SELECT doc_id, string_split(TRIM(text), ' ') AS ws
                   FROM documents) dd,
               UNNEST(generate_series(1, LEN(ws) - ${w - 1})) AS t(i)
             WHERE LEN(ws) >= $w)"""
        s"""WITH ${grams(2)}, ${grams(3)}, ${grams(5)}
           SELECT * FROM (${prof(2)} UNION ALL ${prof(3)}
             UNION ALL ${prof(5)}) u ORDER BY w"""
      },

      "d30_threshold_sensitivity" ->
        s"""WITH $pairCtes,
           j AS (SELECT doc_a, doc_b,
                   CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
                     AS jaccard
                 FROM pairs
                 JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
                 WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)
                   >= 0.6),
           th AS (SELECT CAST(UNNEST([0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
                    AS t),
           f AS (SELECT t, doc_a, doc_b FROM j, th WHERE jaccard >= t),
           np AS (SELECT t, COUNT(1) AS n_pairs FROM f GROUP BY 1),
           nd AS (SELECT t, COUNT(DISTINCT doc_id) AS n_docs
                  FROM (SELECT t, doc_a AS doc_id FROM f
                        UNION ALL SELECT t, doc_b FROM f)
                  GROUP BY 1)
           SELECT np.t, np.n_pairs, nd.n_docs
           FROM np JOIN nd ON np.t = nd.t ORDER BY np.t""",

      "d22_method_agreement" -> {
        def pairs(sql: String) = s"(SELECT doc_a, doc_b FROM ($sql))"
        def row(name: String, sql: String) =
          s"""SELECT '$name' AS method, COUNT(1) AS n_pairs,
             CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_true
           FROM ${pairs(sql)} p
           LEFT JOIN truth t ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b"""
        s"""WITH truth AS ${pairs(jaccardSql)},
           tc AS (SELECT COUNT(1) AS n_truth FROM truth),
           m AS (${row("minhash_lsh", jaccardSql)}
                 UNION ALL ${row("simhash_band", simhashSql)}
                 UNION ALL ${row("winnowing", winnowPairsSql)})
           SELECT method, n_pairs, n_true,
             CAST(n_true AS DOUBLE) / CAST(n_pairs AS DOUBLE)
               AS precision,
             CAST(n_true AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
           FROM m CROSS JOIN tc ORDER BY method"""
      },

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

    // string-gram equality stands in for the Spark side's gram-hash
    // equality (d03/d08 precedent: collision-free at oracle scale)
    "d15_repeated_spans" ->
      """WITH w AS (SELECT doc_id, string_split(TRIM(text), ' ') AS words
                    FROM documents),
         g AS (SELECT doc_id, i AS pos,
                      array_to_string(words[i:i+7], ' ') AS gram
               FROM w, UNNEST(generate_series(1, LEN(words) - 7)) AS t(i)),
         dup AS (SELECT gram, COUNT(DISTINCT doc_id) AS n_docs
                 FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
         f AS (SELECT g.doc_id, g.pos, dup.n_docs
               FROM g JOIN dup USING (gram)),
         isl AS (SELECT doc_id, pos, n_docs,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY pos) AS grp
                 FROM f)
         SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
                COUNT(*) AS n_grams, MAX(n_docs) AS max_doc_freq
         FROM isl GROUP BY doc_id, grp
         ORDER BY doc_id, span_start"""
    )
  }

  // d05's oracle, shared with the d22 agreement matrix.
  private val simhashSql =
    s"""WITH w AS (SELECT doc_id, UNNEST(string_split(TRIM(text), ' ')) AS w
                  FROM documents),
       h AS (SELECT doc_id,
               ${md5Hash60Sql("w")} AS h
             FROM w),
       bits AS (SELECT doc_id, i,
                  SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM h, UNNEST(generate_series(0, 59)) AS t(i)
                GROUP BY doc_id, i),
       fp AS (SELECT doc_id,
                CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << i)
                         ELSE 0 END) AS BIGINT) AS simhash
              FROM bits GROUP BY doc_id),
       banded AS (SELECT doc_id, simhash,
                    (simhash >> (j * 15)) & 32767 AS bh, j AS band
                  FROM fp, UNNEST(generate_series(0, 3)) AS t2(j)),
       cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT)
                    AS hamming
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bh = b.bh
                 AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, hamming FROM cand
       WHERE hamming <= 8 ORDER BY doc_a, doc_b"""

  // d21's oracle, shared with the d22 agreement matrix.
  private lazy val winnowPairsSql =
    s"""$WinnowCte,
       sz AS (SELECT doc_id, COUNT(1) AS n_fp FROM fp GROUP BY 1),
       sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                COUNT(1) AS n_shared
              FROM fp a JOIN fp b
                ON a.wmin = b.wmin AND a.doc_id < b.doc_id
              GROUP BY 1, 2 HAVING COUNT(1) >= 3)
       SELECT doc_a, doc_b, n_shared,
         CAST(n_shared AS DOUBLE)
           / CAST(LEAST(x.n_fp, y.n_fp) AS DOUBLE) AS overlap
       FROM sh JOIN sz x ON doc_a = x.doc_id
       JOIN sz y ON doc_b = y.doc_id
       ORDER BY doc_a, doc_b"""

  // DuckDB twin of [[winnowFps]]: the same row-local list pipeline —
  // hash stream, sliding list_min, list_distinct — then one UNNEST.
  private val WinnowCte =
    s"""WITH d AS (SELECT doc_id, string_split(TRIM(text), ' ') AS ws
                  FROM documents
                  WHERE LEN(string_split(TRIM(text), ' ')) >= 3),
       h AS (SELECT doc_id, CAST(LEN(ws) - 2 AS BIGINT) AS n_grams,
               list_transform(generate_series(1, LEN(ws) - 2), i ->
                 ${md5Hash60Sql("array_to_string(ws[i:i+2], ' ')")}) AS hs
             FROM d),
       fl AS (SELECT doc_id, n_grams,
                list_distinct(list_transform(
                  generate_series(1, GREATEST(1, CAST(n_grams AS INT) - 3)),
                  i -> list_min(hs[i:i+3]))) AS fps
              FROM h),
       fp AS (SELECT doc_id, n_grams, UNNEST(fps) AS wmin FROM fl)"""
}
