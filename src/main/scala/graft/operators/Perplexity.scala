package graft.operators

import graft.Tables
import graft.functions.Fns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CCNet-style language-model perplexity filtering — the third leg of
  * the pretraining quality stack next to the heuristic ratios
  * ([[TextOps.textStats]]) and the learned discriminative filter
  * ([[Classify.nbQuality]]): train a small LM on a curated reference
  * slice, score every document by its perplexity under that LM, and
  * bucket the corpus into head / middle / tail tertiles (CCNet keeps
  * head+middle, drops tail).
  *
  * Model: bigram LM with additive (Lidstone, α = ½) smoothing over
  * whitespace tokens, a per-document BOS context, and an unseen-event
  * vocabulary slot:
  * `P(w₂|w₁) = (c(w₁,w₂) + α) / (c(w₁·) + α·(V+1))`,
  * `ppl(doc) = exp(−(1/n) Σ ln P)` rounded to 4 dp (the shared
  * sum-of-doubles contract). Both training and scoring are plain
  * aggregations — closed-form, so the whole train+score+bucket chain
  * is recomputable by the DuckDB oracle (the reason for Lidstone over
  * Kneser–Ney here; the operator seam takes any reference predicate).
  *
  * Scale shape: one explode to (context, word) pairs; the bigram and
  * context count tables are vocabulary²-bounded and stay distributed
  * (never collected or broadcast); scoring is two token-keyed joins —
  * 1:N against single-row count rows, so hot contexts fan out without
  * skewing a build side — then one doc-keyed sum. The vocabulary size
  * and tertile thresholds ride along as broadcast one-row frames. The
  * exact `percentile` tertiles are the oracle-checkable form; at
  * billions of docs pass `exactThresholds = false` for the mergeable
  * `approx_percentile` sketch (the same exact/approx twinning as
  * q_percentiles/_tol).
  */
object Perplexity {

  /** Document start-of-sequence context symbol. Whitespace-split corpus
    * tokens never contain a space, so any multi-char marker that real
    * text is unlikely to produce works; `<s>` is the LM convention.
    */
  val Bos = "<s>"

  /** The curated reference slice: same target-language gate as
    * [[Classify.defaultPositive]] (CCNet trains its LM on Wikipedia in
    * the target language; the synthetic analog is the `en` slice).
    */
  def defaultReference: Column = col("lang") === "en"

  /** Per-document bigram-LM perplexity against the reference slice:
    * (doc_id, ref BOOLEAN — in the training slice, ppl DOUBLE 4 dp,
    * bucket STRING head|middle|tail). Empty documents carry a NULL ppl
    * and land in `tail`.
    */
  def perplexityFilter(s: SparkSession, d: String,
      reference: Column = defaultReference,
      alpha: Double = 0.5,
      exactThresholds: Boolean = true): DataFrame = {
    val base = labeledDocs(s, d, reference)
    val bi = bigramsOf(base)
    // counts trained inline from the reference slice of this corpus
    val counts = bi.where(col("ref")).groupBy("w1", "w2")
      .agg(count(lit(1)).as("c2"))
    scoreAndBucket(base, bi, counts, alpha, exactThresholds)
  }

  /** (doc_id, ref, ts) — the shared tokenized view. */
  private[operators] def labeledDocs(s: SparkSession, d: String,
      reference: Column): DataFrame =
    Tables.parallelized(Tables.documents(s, d)).select(col("doc_id"),
      reference.cast("boolean").as("ref"),
      TextOps.tokens(col("text")).as("ts"))

  /** Bigram stream with BOS: pair i is (ts[i-1] | BOS, ts[i]) — the
    * index-lambda keeps empty docs at zero pairs with no slice guards.
    */
  private[operators] def bigramsOf(labeled: DataFrame): DataFrame =
    labeled.select(col("doc_id"), col("ref"),
      explode(expr(
        s"transform(ts, (w, i) -> struct(" +
          s"CASE WHEN i = 0 THEN '$Bos' ELSE ts[i - 1] END AS w1, " +
          "w AS w2))")).as("bg"))
      .select(col("doc_id"), col("ref"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Score every document against a bigram-count table and bucket by
    * tertiles. The count table is the ENTIRE model: the context totals
    * and the vocabulary size both derive from it in vocabulary²-bounded
    * aggregates, which is what makes the persisted-model serve exactly
    * equal to the inline train (counts are additive and derivations are
    * pure functions of the summed table).
    */
  private def scoreAndBucket(base: DataFrame, bi: DataFrame,
      counts: DataFrame, alpha: Double,
      exactThresholds: Boolean): DataFrame = {
    val c2 = counts.select(col("w1"), col("w2"),
      col("c2").cast("double").as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    // +1 vocabulary slot absorbs unseen words (P = α / (α·(V+1)))
    val vocab = c2.agg(countDistinct(col("w2")).cast("double").as("v"))
    val scoredPairs = bi
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (-log((coalesce(col("c2"), lit(0.0)) + alpha) /
          (coalesce(col("c1"), lit(0.0)) + lit(alpha) * (col("v") + 1.0))))
          .as("nll"))
    val perDoc = scoredPairs.groupBy("doc_id")
      .agg(r4(exp(sum(col("nll")) / count(lit(1)))).as("ppl"))
    val scored = base.select(col("doc_id"), col("ref"))
      .join(perDoc, Seq("doc_id"), "left")
    val thrExpr =
      if (exactThresholds)
        "percentile(ppl, array(0.3333333333333333D, 0.6666666666666666D))"
      else
        "approx_percentile(ppl, array(0.3333333333333333D, 0.6666666666666666D), 10000)"
    val thr = scored.agg(expr(thrExpr).as("t"))
      .select(element_at(col("t"), 1).as("t1"),
        element_at(col("t"), 2).as("t2"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("ref"), col("ppl"),
        when(col("ppl").isNull, lit("tail"))
          .when(col("ppl") <= col("t1"), lit("head"))
          .when(col("ppl") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  // ---- persisted-model lifecycle (the count-model analog of the BM25
  // index loop: build → appendBatch → promote → serve). Because the
  // model IS a count table, base ∪ batches summed equals the one-shot
  // train of the union EXACTLY — the grown serve shares the inline
  // query's full oracle, with no frozen-model approximation to accept.

  /** Train the persisted LM: bigram counts of `d`'s reference slice
    * (restricted by `docFilter` when the rest arrives via
    * [[appendBatch]]). One table, LONG counts — everything else
    * derives at serve time.
    */
  def writeModel(s: SparkSession, d: String, modelDir: String,
      reference: Column = defaultReference,
      docFilter: Option[Column] = None): Unit = {
    val docs = labeledDocs(s, d, reference)
    val kept = docFilter.fold(docs)(docs.where(_))
    bigramsOf(kept).where(col("ref"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      // tw = the tombstone fold WATERMARK (Search.statsRowOf's
      // convention): −1 on a fresh train — no delete batch folded yet
      .withColumn("tw", lit(-1L))
      .write.mode("overwrite").parquet(s"$modelDir/bigrams")
  }

  /** Grow the model with NEW documents — their reference slice's
    * bigram counts land in a `batch=<id>` side dir. Exactly-once under
    * retries: a replayed batch id overwrites its own dir.
    */
  def appendBatch(s: SparkSession, modelDir: String, newDocs: DataFrame,
      batchId: Long, reference: Column = defaultReference): Unit =
    bigramsOf(newDocs.select(col("doc_id"),
        reference.cast("boolean").as("ref"),
        TextOps.tokens(col("text")).as("ts")))
      .where(col("ref"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .withColumn("tw", lit(-1L))
      .write.mode("overwrite")
      .parquet(s"$modelDir/bigrams_batches/batch=$batchId")

  /** Logical delete (the GDPR-erasure leg): the tombstone carries the
    * erased docs' per-doc bigram counts — (doc_id, w1, w2, c2),
    * computed from their text HERE, while the erasure request still
    * holds it — and every count-reading path subtracts them until
    * [[compactDeletes]] folds the subtraction into a fresh base.
    * Counts are additive, so the adjusted model IS the
    * survivors-trained model exactly (unlike the novelty index's min,
    * which needs [[Dedup.compactNoveltyDeletes]]' corpus pass). Docs
    * outside the reference slice contribute no rows — correctly: they
    * never trained the model. Work scales with the request. Caller's
    * invariant: the docs are model-resident (requests name stored
    * documents not yet folded out).
    */
  def deleteDocs(s: SparkSession, modelDir: String, docs: DataFrame,
      batchId: Long, reference: Column = defaultReference): Unit =
    Tombstones.append(s, modelDir,
      bigramsOf(docs.select(col("doc_id"),
          reference.cast("boolean").as("ref"),
          TextOps.tokens(col("text")).as("ts")))
        .where(col("ref"))
        .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c2")),
      batchId)

  /** Base ∪ batch rows, ungrouped, with the fold watermark column. A
    * streaming-fed model may have batches and no base yet; only BOTH
    * missing is an error.
    */
  private def foldedRaw(s: SparkSession, modelDir: String): DataFrame =
    if (IndexTable.exists(s, s"$modelDir/bigrams"))
      IndexTable.union(s, modelDir, "bigrams")
    else if (IndexTable.exists(s, s"$modelDir/bigrams_batches"))
      IndexTable.batches(s, modelDir, "bigrams")
    else sys.error(
      s"no perplexity model at $modelDir (neither base nor batches)")

  /** Batches folded into summed counts, tombstones NOT applied —
    * (w1, w2, c2, tw) with the carried-forward watermark. What
    * [[promoteBatches]] persists: promotion folds APPEND batches only;
    * applying pending deletions there would strand live tombstones
    * above a base that already subtracted them.
    */
  private def foldedBase(s: SparkSession, modelDir: String): DataFrame = {
    val all = foldedRaw(s, modelDir)
    all.groupBy("w1", "w2").agg(sum(col("c2")).as("c2"))
      .crossJoin(broadcast(all.agg(max(col("tw")).as("tw"))))
  }

  /** The LIVE model table (w1, w2, c2): base ∪ batches summed, minus
    * any pending tombstoned counts. The subtraction carries the two
    * guards of [[Search]]'s statsMinusTombs — only delete batches
    * ABOVE the persisted fold watermark subtract (a serve landing in a
    * compaction's swap-to-retire window, or after a crash there, never
    * double-subtracts), and rows dedupe by (doc_id, w1, w2) first (a
    * re-sent request in a second live batch subtracts once). Rows
    * whose count reaches zero DROP — a bigram seen only in erased docs
    * leaves the vocabulary, shifting V exactly as the survivors-only
    * retrain would.
    */
  private def foldedCounts(s: SparkSession, modelDir: String): DataFrame = {
    val all = foldedRaw(s, modelDir)
    val folded = all.groupBy("w1", "w2").agg(sum(col("c2")).as("c2"))
    Tombstones.readRaw(s, modelDir) match {
      case None => folded
      case Some(tombRaw) =>
        val unfolded = tombRaw
          .crossJoin(broadcast(all.agg(max(col("tw")).as("tw"))))
          .filter(col("batch") > col("tw"))
          .dropDuplicates("doc_id", "w1", "w2")
          .groupBy("w1", "w2").agg(sum(col("c2")).as("dc"))
        folded.join(broadcast(unfolded), Seq("w1", "w2"), "left")
          .select(col("w1"), col("w2"),
            (col("c2") - coalesce(col("dc"), lit(0L))).as("c2"))
          .filter(col("c2") > 0)
    }
  }

  /** Admin-cadence delete close-out: rewrite the base table as the
    * LIVE counts (append batches fold in, tombstoned counts subtract
    * under the watermark guard) with the watermark ADVANCED past every
    * folded delete batch, then retire batch dirs and tombstones — the
    * serve returns to the minimal no-subtraction plan, and the window
    * between the swap and the retire is inert by the watermark
    * ([[IndexTable.compact]]).
    */
  def compactDeletes(s: SparkSession, modelDir: String): Unit =
    IndexTable.compact(s, modelDir, Seq("bigrams")) { at =>
      val twNew = foldedRaw(s, modelDir).agg(max(col("tw")).as("otw"))
        .crossJoin(broadcast(Tombstones.readRaw(s, modelDir).get
          .agg(max(col("batch")).cast("long").as("mb"))))
        .select(greatest(col("otw"),
          coalesce(col("mb"), col("otw"))).as("tw"))
      foldedCounts(s, modelDir)
        .crossJoin(broadcast(twNew))
        .write.mode("overwrite").parquet(at("bigrams"))
    }

  /** Admin-cadence promotion: fold committed batches into the base
    * table and retire the batch dirs ([[IndexTable.promote]]).
    */
  def promoteBatches(s: SparkSession, modelDir: String): Unit =
    IndexTable.promote(s, modelDir, Seq("bigrams"))(at =>
      foldedBase(s, modelDir).write.mode("overwrite").parquet(at("bigrams")))

  /** LM-count fsck — [[Search.indexTermStats]]'s counterpart for the
    * count model: the LIVE bigram counts (base ∪ batches summed, any
    * pending tombstoned counts subtracted) bucketed by INTEGER binary
    * length of c2 (never a float log — engine-exact at power
    * boundaries). The driver rows read the grown AND the tombstoned
    * models against pure corpus recomputes, so a double-counted
    * replay, a lost batch, count drift, or a mis-subtracted erasure
    * fails the hash compare.
    */
  def modelStats(s: SparkSession, modelDir: String): DataFrame =
    foldedCounts(s, modelDir)
      .select((length(bin(col("c2"))) - 1).cast("int").as("c_bucket"),
        col("c2"))
      .groupBy("c_bucket")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c2")).cast("long").as("sum_c"))

  /** Serve: score `d`'s documents against the persisted (possibly
    * grown) model. With the model trained on the same corpus's
    * reference slice — in any base/batch split — this equals
    * [[perplexityFilter]] exactly and shares its oracle. `docFilter`
    * restricts WHICH docs are scored and bucketed (the erasure serve:
    * deleted docs must neither score nor shift the tertiles — with the
    * model's tombstoned counts subtracted, the whole chain is the
    * survivors-only train+score+bucket exactly).
    */
  def scoreWithModel(s: SparkSession, d: String, modelDir: String,
      reference: Column = defaultReference,
      alpha: Double = 0.5,
      exactThresholds: Boolean = true,
      docFilter: Option[Column] = None): DataFrame = {
    val docs = labeledDocs(s, d, reference)
    val base = docFilter.map(docs.filter).getOrElse(docs)
    scoreAndBucket(base, bigramsOf(base), foldedCounts(s, modelDir),
      alpha, exactThresholds)
  }
}
