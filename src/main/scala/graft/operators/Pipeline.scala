package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.HashFunctions

/** End-to-end training-data preparation: the operators composed the way
  * a real pipeline runs them, as one declarative plan per stage.
  *
  * [[prepare]] composes quality filter → exact dedup → decontaminate,
  * ending in the token-count frame a packing stage consumes. Cheap
  * row-local filters run FIRST so every join-bearing stage sees a
  * smaller corpus. Near-dup removal (d03 pairs → d07 components) and
  * packing (t07) are deliberately separate stages — near-dup thresholds
  * and bin sizes are corpus-specific tuning decisions, so they splice
  * in between [[dedupExact]] and [[decontaminated]] rather than hiding
  * inside the default composition. Each stage is exposed separately so
  * a user can do exactly that (the reference's processing hooks compose
  * the same way, reference `README.md:348-358`).
  *
  * Scale shape is inherited from the per-stage operators: the quality
  * filter is a pure map; exact dedup exchanges md5 fingerprints;
  * decontamination broadcasts the eval grams. The composition itself
  * adds no shuffle — stages hand off by doc_id semi/anti joins — and
  * [[prepare]] materializes the surviving corpus ONCE between stages
  * (strategy selectable via [[Materialize]]: local checkpoint by
  * default, persist/DFS-checkpoint for fault tolerance at cluster scale)
  * so the scan + dedup subtree is not re-executed by each side of the
  * downstream self-referencing joins (same single-materialization
  * pattern as [[DedupOps]]' byDocIndex).
  */
object Pipeline {

  /** Boilerplate stripping as a pipeline stage
    * ([[DedupOps.stripBoilerplate]] rewired to the corpus schema):
    * repeated chunks are removed, each document's `text` becomes its
    * cleaned form, and documents that were NOTHING but boilerplate are
    * dropped. Runs FIRST in a real pipeline (CCNet/RefinedWeb order:
    * line-level dedup before document-level) because chrome inflates
    * every downstream signal — length gates, fingerprints, shingles.
    * Cost: one fp-keyed exchange for the chunk counts + two scans of
    * the raw input (set build + rewrite). */
  def boilerplateStripped(docs: DataFrame, chunkWords: Int = 16,
      minDocs: Int = 2): DataFrame =
    DedupOps.stripBoilerplate(docs, chunkWords, minDocs)
      .filter(length(col("clean_text")) > 0)
      .withColumn("text", col("clean_text"))
      .drop("clean_text", "n_chunks", "n_removed")

  /** Keep-first passage dedup as a pipeline stage
    * ([[DedupOps.passageDedupKeepFirst]] rewired to the corpus
    * schema): every repeated chunk keeps its first corpus-wide
    * occurrence, each document's `text` becomes its excised form, and
    * documents whose every chunk was a later duplicate are dropped.
    * The alternative to [[boilerplateStripped]] when repeated content
    * should survive ONCE rather than vanish — web chrome wants the
    * strip; a syndicated article wants exactly one surviving copy.
    * Cost: the fingerprint election exchange + one text exchange (see
    * d12's scaladoc), plus the doc_id equi-join back to the corpus
    * columns. */
  def passageDeduped(docs: DataFrame, chunkWords: Int = 16): DataFrame =
    docs.join(
      DedupOps.passageDedupKeepFirst(docs, chunkWords)
        .filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text")),
      Seq("doc_id"))
      .withColumn("text", col("clean_text"))
      .drop("clean_text")

  /** Row-local quality gate: minimum token count + distinct-token ratio
    * (t02's "too_short"/"repetitive" rules). Pure map — no exchange. */
  def qualityFilter(docs: DataFrame, minTokens: Int = 10,
      minDistinctRatio: Double = 0.5): DataFrame = {
    val words = split(trim(col("text")), " ")
    docs.filter(size(words) >= minTokens &&
      size(array_distinct(words)).cast("double") / size(words)
        >= minDistinctRatio)
  }

  /** Exact dedup keep-min-id: d01's fingerprint-first shape as a
    * filter — survivors are each content group's smallest doc_id, with
    * d01's independent-hash collision guard (an md5 collision raises
    * instead of silently dropping a distinct document). */
  def dedupExact(docs: DataFrame): DataFrame = {
    val reps = docs
      .select(md5(encode(col("text"), "UTF-8")).as("fp"), col("doc_id"),
        xxhash64(col("text")).as("h2"), length(col("text")).as("len"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        min(col("h2")).as("h2_min"), max(col("h2")).as("h2_max"),
        min(col("len")).as("len_min"), max(col("len")).as("len_max"))
      .select(when(col("h2_min") =!= col("h2_max")
          || col("len_min") =!= col("len_max"),
        raise_error(lit("dedupExact: md5 fingerprint collision — " +
          "distinct texts share a fingerprint; refusing to dedup")))
        .otherwise(col("doc_id")).as("doc_id"))
    docs.join(reps, Seq("doc_id"), "left_semi")
  }

  /** Near-dup removal keep-canonical: drop every document whose
    * near-dup cluster representative ([[DedupOps.nearDupComponents]],
    * exact Jaccard >= t on 3-gram shingles) is a different document —
    * one survivor per cluster, singletons untouched. The optional stage
    * between [[dedupExact]] and [[decontaminated]]; t is corpus-specific
    * tuning, which is why [[prepare]] doesn't bake it in. */
  def dedupNear(docs: DataFrame, t: Double = 0.8): DataFrame =
    docs.join(
      DedupOps.nearDupComponents(docs, t)
        .filter(col("cluster_rep") === col("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")

  /** Decontamination as a filter: drop every document sharing an
    * n-gram with `eval` ([[DedupOps.decontaminate]] anti-joined). */
  def decontaminated(docs: DataFrame, eval: DataFrame,
      n: Int = 8): DataFrame =
    docs.join(DedupOps.decontaminate(docs, eval, n),
      Seq("doc_id"), "left_anti")

  /** Leakage-safe split assignment over ANY grouping: `reps` maps each
    * doc_id to a representative (exact-content group min id, a d07
    * near-dup cluster_rep, a URL domain hash — whatever defines "same
    * source of leakage"), and the split is a deterministic 60-bit md5
    * bucket OF THE REPRESENTATIVE, so everything sharing a
    * representative lands in the same split. `cuts` are cumulative
    * percentage upper bounds, e.g. Seq(("train", 90), ("val", 95),
    * ("test", 100)). Scale shape: reps is doc_id→rep (semi-join-sized);
    * the join is equi-keyed on doc_id; the bucket is a pure map. */
  def leakageSafeSplit(docs: DataFrame, reps: DataFrame,
      cuts: Seq[(String, Int)]): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 &&
      cuts.map(_._2) == cuts.map(_._2).sorted,
      s"cuts must be ascending cumulative percentages ending at 100: $cuts")
    val h = HashFunctions.md5Hash60Chain(col("rep"))
    val bucketed = docs.join(reps, Seq("doc_id"))
      .withColumn("bucket", pmod(h, lit(100L)).cast("int"))
    val split = cuts.init.foldRight(lit(cuts.last._1): Column) {
      case ((name, cut), rest) => when(col("bucket") < cut, name)
        .otherwise(rest)
    }
    bucketed.withColumn("split", split)
  }

  /** The composed pipeline: (optional boilerplate strip, when
    * `boilerplateChunk = Some(chunkWords)`) → quality gate → exact
    * dedup → decontaminate against `eval`. Returns the surviving
    * documents with their token counts — the frame a packing/sharding
    * stage (t07) consumes.
    *
    * The post-dedup corpus is materialized once: [[dedupExact]] and
    * [[decontaminated]] each reference their input on BOTH sides of a
    * join, so without a materialization point one action re-runs the
    * scan ~4× and the dedup shuffle twice. `materialize` picks the
    * strategy for those cut points — [[Materialize.LocalCheckpoint]]
    * (default) is fastest on local/small clusters but not fault-
    * tolerant; use [[Materialize.Persist]] or
    * [[Materialize.ReliableCheckpoint]] at cluster scale (output is
    * identical under every strategy, pinned by PipelineSpec). */
  def prepare(docs: DataFrame, eval: DataFrame,
      materialize: Materialize = Materialize.LocalCheckpoint,
      boilerplateChunk: Option[Int] = None): DataFrame = {
    val base = boilerplateChunk
      .map(cw => materialize(boilerplateStripped(docs, cw)))
      .getOrElse(docs)
    val filtered = materialize(qualityFilter(base))
    val deduped = materialize(dedupExact(filtered))
    decontaminated(deduped, eval)
      .withColumn("n_tokens", size(split(trim(col("text")), " ")))
  }
}
