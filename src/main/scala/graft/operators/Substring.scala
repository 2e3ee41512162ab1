package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring (verbatim-span) deduplication — the suffix-array
  * dedup class of Lee et al., "Deduplicating Training Data Makes
  * Language Models Better" (ACL 2022), re-expressed Spark-first. The
  * gram/containment family ([[Dedup.ngramContainmentPairs]]) measures
  * gram-SET overlap; this operator finds the spans themselves: maximal
  * runs of ≥ `minLen` consecutive tokens that two documents share
  * VERBATIM, with their positions — the thing you quote, audit, and
  * cut when scrubbing training data.
  *
  * Construction (no suffix array needed — a distributed equivalent):
  *   1. every token position emits the hash of the `minLen`-token
  *      window starting there (the fixed-width-gram trick: a shared
  *      span of length S ≥ minLen appears as exactly S − minLen + 1
  *      consecutive gram matches);
  *   2. positions sharing a gram hash pair up within the gram's hash
  *      bucket (doc_a < doc_b);
  *   3. per (pair, diagonal = pos_a − pos_b), consecutive matches
  *      collapse to one maximal span by the run-grouping window
  *      (pos_a − row_number), span_len = minLen + run − 1.
  *
  * Scale shape: the match key is an 8-byte gram hash — the pair join
  * shuffles (hash, doc, pos) tuples, never text. Bucket fan-out is
  * bounded by `dfCap`: a gram occurring more than `dfCap` times
  * corpus-wide (boilerplate — exactly what Lee et al. special-case) is
  * dropped BEFORE pairing, so no bucket joins more than dfCap² rows;
  * the cap is deterministic (a pure frequency filter, mirrored verbatim
  * in the DuckDB oracle) and dormant at verify scale (max gram
  * frequency 3 at sf0.01). The doc-sized gram-array frame materializes
  * ONCE before the explode (the r14 NoveltyProbe rule: exploding a
  * computed HOF array re-pays the lambda chain per generator row, 5×),
  * and once more after it, since the pair self-join consumes the
  * exploded positions twice. Collision note: pairing on xxhash64 can in
  * principle alias two distinct grams (p ≈ positions²/2⁶⁴); the oracle
  * pairs on the gram STRING, so the gate itself polices collisions.
  */
object Substring {

  /** Maximal verbatim token spans of length ≥ `minLen` shared across
    * document pairs: (doc_a, doc_b, a_pos, b_pos, span_len), positions
    * 0-based token offsets, one row per maximal span (a pair sharing
    * two disjoint spans yields two rows).
    */
  def substringDups(s: SparkSession, d: String, minLen: Int = 8,
      dfCap: Int = 64): DataFrame = {
    val kept = keptPositions(
      Tables.parallelized(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      minLen, dfCap)
    spansOf(matchesOf(kept, kept), minLen)
  }

  /** (h, doc_id, pos) gram-position tuples for `docs` — one per token
    * position, h = xxhash64 of the `minLen`-token window starting
    * there. The doc-sized gram-array frame materializes once before
    * the explode (the r14 NoveltyProbe rule).
    */
  private[operators] def positionsOf(docs: DataFrame,
      minLen: Int): DataFrame =
    positionsFromArrays(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t")),
      minLen)

  /** [[positionsOf]] over an ALREADY-tokenized (doc_id, t) frame — the
    * seam the BPE-symbol variant shares: the window machinery is
    * identical whatever the token unit is.
    */
  private def positionsFromArrays(toksIn: DataFrame,
      minLen: Int): DataFrame = {
    // sequence(1, size-minLen+1) must not run on short docs (it
    // would descend); dropping them loses nothing — no position
    val toks = toksIn.filter(size(col("t")) >= minLen)
    // Window hash = xxhash64 over the window's PER-TOKEN xxhash64
    // values (r17, guide §1.2 step 2 — per-task work): the old form
    // joined each window's tokens into a ~100-byte U+0001-separated
    // string per position (a slice allocation + a concat allocation +
    // a hash over the copy, × every token position in the corpus);
    // this form hashes each token ONCE per document, then each window
    // is one varargs xxhash64 over `minLen` longs — fixed 8·minLen
    // bytes streamed, zero string allocation. Collision class
    // unchanged (64-bit xxhash either way, token hashes chain through
    // the seed mixing), and the oracle still pairs on the gram STRING,
    // so the gate polices collisions exactly as before. `th` is
    // referenced `minLen` times by the window lambda, which keeps
    // CollapseProject from inlining the per-token hash back under the
    // generator (the shinglesFromTokens rule).
    val hashed = toks.select(col("doc_id"),
      transform(col("t"), x => xxhash64(x)).as("th"))
    val gramArrs = Dedup.lazyCheckpoint(hashed.select(col("doc_id"),
      transform(sequence(lit(1), size(col("th")) - (minLen - 1)),
        i => xxhash64((0 until minLen).map(j =>
          element_at(col("th"), i + lit(j))): _*))
        .as("g")))
    gramArrs
      .select(col("doc_id"), posexplode(col("g")))
      .toDF("doc_id", "pos", "h")
      .select(col("h"), col("doc_id"), col("pos"))
  }

  /** Positions with over-frequent grams dropped, materialized once
    * (the pair join consumes them twice). */
  private def keptPositions(docs: DataFrame, minLen: Int,
      dfCap: Int): DataFrame =
    keptFromPositions(positionsOf(docs, minLen), dfCap)

  private def keptFromPositions(positions: DataFrame,
      dfCap: Int): DataFrame = {
    // dfCap as ONE h-clustered window count instead of a groupBy +
    // self-back-join (r17, guide §2.3/§2.4): the join form shuffled the
    // positions TWICE (once into the count aggregate, once into the
    // probe side of the back-join — two Exchanges plus two HashAggregate
    // passes); the window form pays a single h-exchange and filters in
    // place (plan diff: plans/r17/q_substring_dups_{before,after}.txt,
    // position-side Exchanges 2 → 1). Skew note: a hot boilerplate gram
    // lands in one window partition, but the old SMJ back-join sorted
    // the same h-clustered rows before dropping them — the sort cost
    // class is unchanged, the cap still drops the rows, and two
    // shuffles of every position became one.
    val w = Window.partitionBy(col("h"))
    Dedup.lazyCheckpoint(
      positions.withColumn("n", count(lit(1)).over(w))
        .filter(col("n") <= dfCap)
        .select(col("h"), col("doc_id"), col("pos")))
  }

  /** Position pairs sharing a gram, canonical orientation from the id
    * order (`left` supplies the smaller doc — pass the same frame
    * twice for all-pairs, or (all, probe) for pairs whose LARGER
    * member is in the probe side).
    */
  private def matchesOf(left: DataFrame, right: DataFrame): DataFrame =
    left.as("a").join(right.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))

  /** Diagonal run-length collapse: maximal spans from gram matches. */
  private def spansOf(m: DataFrame, minLen: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pa"))
    m.withColumn("diag", col("pa") - col("pb"))
      .withColumn("grp", col("pa") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg(min(col("pa")).cast("bigint").as("a_pos"),
        min(col("pb")).cast("bigint").as("b_pos"),
        (lit(minLen) + count(lit(1)) - 1).cast("bigint").as("span_len"))
      .select(col("doc_a"), col("doc_b"), col("a_pos"), col("b_pos"),
        col("span_len"))
  }

  /** Incremental form: spans for pairs whose LARGER doc_id is in the
    * newest fifth (the suite's standard 80/20 split — new docs take
    * the top ids, so "larger member is new" ⇔ "pair involves a new
    * doc", the [[Dedup.incrementalDedupQuery]] convention). Positions
    * and the dfCap frequency are computed ONCE over the whole corpus
    * (the probe side is a filter above the shared materialized
    * frame), and the frequency is GLOBAL — identical to what the
    * from-index path reconstructs, so both forms share one oracle.
    */
  def incrementalSpans(s: SparkSession, d: String, minLen: Int = 8,
      dfCap: Int = 64): DataFrame = {
    val docs = Tables.parallelized(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    docs.createOrReplaceTempView("graft_substr_docs")
    val splitId =
      "(select (max(doc_id) * 4) div 5 from graft_substr_docs)"
    val kept = keptPositions(docs, minLen, dfCap)
    spansOf(
      matchesOf(kept, kept.filter(expr(s"doc_id >= $splitId"))),
      minLen)
  }

  /** Persist the gram-position index the served incremental form
    * probes: `dir/positions` = (h, doc_id, pos) for `docs`,
    * `dir/freq` = (h, n) occurrence counts over those positions
    * (mergeable — the batch's counts add).
    */
  def writePositionIndex(s: SparkSession, docs: DataFrame,
      dir: String, minLen: Int = 8): Unit = {
    positionsOf(Tables.parallelized(
        docs.select(col("doc_id"), col("text"))), minLen)
      .write.mode("overwrite").parquet(s"$dir/positions")
    s.read.parquet(s"$dir/positions")
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$dir/freq")
  }

  /** Append a batch to the position index without rewriting the base:
    * positions and per-gram counts land in `*_batches/batch=N` side
    * dirs (counts are mergeable, so serve-time frequency is exact).
    *
    * Crash safety (r15 ADVICE): both tables stage under a dot-prefixed
    * tmp dir (invisible to [[IndexTable.union]]'s partition
    * discovery), then rename into place freq FIRST. A crash between
    * the renames leaves freq visible with positions absent — the
    * CONSERVATIVE direction (reconstructed frequency can only
    * over-count, so spans are dropped, never invented), and a re-run
    * with the same batchId overwrites both halves and heals it.
    */
  def appendPositionsBatch(s: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long, minLen: Int = 8): Unit = {
    val tmp = s"$indexDir/.batch_tmp_$batchId"
    positionsOf(Tables.parallelized(
        newDocs.select(col("doc_id"), col("text"))), minLen)
      .write.mode("overwrite").parquet(s"$tmp/positions")
    sealBatch(s, indexDir, tmp, batchId, extra = Nil)
  }

  /** Finish a staged batch: derive the mergeable per-gram counts from
    * the staged positions, then commit every staged table into its
    * `*_batches/batch=N` slot ([[IndexTable.commit]]) — freq FIRST
    * (the r15 ADVICE order: a crash leaves counts visible without
    * positions, the conservative direction), `extra` tables (the BPE
    * index's `streams`) LAST (a torn append can hide batch docs from
    * the served scrub's reassembly, never mis-cut them). Re-running
    * the same batchId overwrites every slot and heals any tear.
    */
  private def sealBatch(s: SparkSession, indexDir: String, tmp: String,
      batchId: Long, extra: Seq[String]): Unit = {
    s.read.parquet(s"$tmp/positions")
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$tmp/freq")
    (Seq("freq", "positions") ++ extra).foreach(t =>
      IndexTable.commit(s, s"$tmp/$t",
        s"$indexDir/${t}_batches/batch=$batchId"))
    val p = new org.apache.hadoop.fs.Path(tmp)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Fold accumulated append batches back into the base tables at
    * admin cadence (the index returns to its minimal one-dir serve
    * plan; [[IndexTable.promote]]). The BPE index carries a third
    * union-folded table (the encoded symbol streams); plain union
    * suffices — only freq needs a merge.
    */
  def promotePositionBatches(s: SparkSession, indexDir: String): Unit =
    IndexTable.promote(s, indexDir, tablesOf(s, indexDir)) { at =>
      IndexTable.union(s, indexDir, "positions")
        .write.mode("overwrite").parquet(at("positions"))
      IndexTable.union(s, indexDir, "freq")
        .groupBy(col("h")).agg(sum(col("n")).as("n"))
        .write.mode("overwrite").parquet(at("freq"))
      if (hasStreams(s, indexDir))
        IndexTable.union(s, indexDir, "streams")
          .write.mode("overwrite").parquet(at("streams"))
    }

  private def hasStreams(s: SparkSession, indexDir: String): Boolean =
    IndexTable.exists(s, s"$indexDir/streams")

  private def tablesOf(s: SparkSession, indexDir: String): Seq[String] =
    Seq("positions", "freq") ++
      (if (hasStreams(s, indexDir)) Seq("streams") else Nil)

  /** Logical delete for the position index (the GDPR-erasure leg,
    * [[Tombstones]]): the doc_ids land as an exactly-once tombstone
    * batch; every serve drops their positions AND subtracts their
    * per-gram counts from the global frequency — reconstructed from
    * the index's OWN positions, so the adjustment is index-local (no
    * corpus re-gram) and the served spans equal a from-scratch build
    * over the survivors, including the dfCap boundary: a boilerplate
    * gram that falls back under the cap once its copies are erased
    * REAPPEARS in the survivors' span set, exactly as the restricted
    * recompute demands.
    */
  def deletePositions(s: SparkSession, indexDir: String, ids: DataFrame,
      batchId: Long): Unit =
    Tombstones.append(s, indexDir, ids.select(col("doc_id")), batchId)

  /** Admin-cadence delete close-out: rewrite positions without the
    * tombstoned docs (append batches fold in), recount freq from the
    * surviving positions, retire batch dirs and tombstones — the
    * serve returns to the minimal no-anti-join plan
    * ([[IndexTable.compact]]). An erased doc's BPE symbol stream
    * leaves the lake with its positions (it IS the document,
    * re-encoded).
    */
  def compactPositionDeletes(s: SparkSession, indexDir: String): Unit =
    IndexTable.compact(s, indexDir, tablesOf(s, indexDir)) { at =>
      IndexTable.live(s, indexDir, "positions", "doc_id")
        .write.mode("overwrite").parquet(at("positions"))
      s.read.parquet(at("positions"))
        .groupBy(col("h")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(at("freq"))
      if (hasStreams(s, indexDir))
        IndexTable.live(s, indexDir, "streams", "doc_id")
          .write.mode("overwrite").parquet(at("streams"))
    }

  /** Probe a NEW batch against the persisted position index: only the
    * batch is re-grammed (per-batch gram work scales with the batch);
    * the global dfCap frequency is reconstructed as index counts +
    * batch counts (counts are mergeable), so the output is exactly
    * [[incrementalSpans]]'s — one shared oracle, whether the index is
    * one-shot, grown with append batches, or promoted back to base.
    * Batch ids sit above every index id (the ingest fixture), giving
    * the canonical larger-is-new orientation.
    */
  def incrementalSpansFromIndex(s: SparkSession, indexDir: String,
      newDocs: DataFrame, minLen: Int = 8,
      dfCap: Int = 64): DataFrame =
    probeSpansFromIndex(s, indexDir,
      positionsOf(Tables.parallelized(newDocs), minLen), minLen, dfCap)

  /** The shared probe body: a NEW batch's (h, doc_id, pos) tuples
    * against the persisted index under the merged global dfCap —
    * token-unit-agnostic (the whitespace probe grams the batch text;
    * the BPE probe encodes it under the index's frozen tokenizer
    * first).
    */
  private def probeSpansFromIndex(s: SparkSession, indexDir: String,
      rawBatchPos: DataFrame, minLen: Int, dfCap: Int): DataFrame = {
    val batchPos = Dedup.lazyCheckpoint(rawBatchPos)
    val totFreq = IndexTable.union(s, indexDir, "freq")
      .unionByName(batchPos.groupBy(col("h"))
        .agg(count(lit(1)).as("n")))
      .groupBy(col("h")).agg(sum(col("n")).as("n"))
      .filter(col("n") <= dfCap)
      .select(col("h"))
    val all = IndexTable.union(s, indexDir, "positions")
      .withColumn("is_new", lit(false))
      .unionByName(batchPos.withColumn("is_new", lit(true)))
    val kept = Dedup.lazyCheckpoint(all.join(totFreq, Seq("h"))
      .select(col("h"), col("doc_id"), col("pos"), col("is_new")))
    spansOf(
      matchesOf(
        kept.select(col("h"), col("doc_id"), col("pos")),
        kept.filter(col("is_new"))
          .select(col("h"), col("doc_id"), col("pos"))),
      minLen)
  }

  /** The same construction as chained DuckDB CTEs — pairs on the gram
    * STRING (no hash), so the gate also polices hash collisions.
    */
  def oracleSql(minLen: Int = 8, dfCap: Int = 64): String =
    spanSql(minLen, dfCap,
      """toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS t
        |  FROM documents)""".stripMargin)

  /** The span CTE chain over a caller-supplied `toks` (doc_id, t LIST)
    * CTE — whitespace tokens for [[oracleSql]], the trained BPE symbol
    * stream for [[bpeOracleSql]]; the window/pair/run construction is
    * token-unit-agnostic on both engines.
    */
  private def spanSql(minLen: Int, dfCap: Int,
      toksCtes: String): String =
    s"""WITH $toksCtes,
       |pos AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(t[i+1:i+$minLen], chr(1)) AS g
       |  FROM toks,
       |    unnest(range(0, greatest(len(t) - ${minLen - 1}, 0))) AS u(i)),
       |freq AS (SELECT g, count(*) AS n FROM pos GROUP BY g),
       |kept AS (SELECT p.doc_id, p.pos, p.g
       |         FROM pos p JOIN freq USING (g) WHERE freq.n <= $dfCap),
       |m AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.pos AS pa, b.pos AS pb
       |  FROM kept a JOIN kept b
       |    ON a.g = b.g AND a.doc_id < b.doc_id),
       |runs AS (
       |  SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
       |    pa - row_number() OVER (
       |      PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS grp
       |  FROM m)
       |SELECT doc_a, doc_b,
       |  CAST(min(pa) AS BIGINT) AS a_pos,
       |  CAST(min(pb) AS BIGINT) AS b_pos,
       |  CAST($minLen + count(*) - 1 AS BIGINT) AS span_len
       |FROM runs GROUP BY doc_a, doc_b, diag, grp""".stripMargin

  /** [[incrementalSpans]] / [[incrementalSpansFromIndex]]'s shared
    * oracle: the full construction restricted to pairs whose larger
    * member is in the newest fifth (split rule verbatim from
    * q_incremental_dedup's oracle).
    */
  def incrOracleSql(minLen: Int = 8, dfCap: Int = 64): String =
    incrSpliceSql(oracleSql(minLen, dfCap))

  /** [[incrementalBpeSpans]] / [[incrementalBpeSpansFromIndex]]'s
    * shared oracle: the full trainer-included BPE span construction
    * restricted to pairs whose larger member is in the newest fifth —
    * the same split splice as [[incrOracleSql]] ([[spanSql]]'s pair
    * CTE is token-unit-agnostic, so the anchor is shared).
    */
  def bpeIncrOracleSql(minLen: Int = 16, dfCap: Int = 64,
      nMerges: Int = 16): String =
    incrSpliceSql(bpeOracleSql(minLen, dfCap, nMerges))

  private def incrSpliceSql(base: String): String = {
    val out = base.replace(
      "ON a.g = b.g AND a.doc_id < b.doc_id),",
      """ON a.g = b.g AND a.doc_id < b.doc_id
        |  CROSS JOIN (SELECT (max(doc_id) * 4) // 5 AS split_id
        |              FROM documents) mx
        |  WHERE b.doc_id >= mx.split_id),""".stripMargin)
    // a wording edit to the span SQL must not silently no-op the
    // splice and leave the incremental queries gated against the
    // UNRESTRICTED oracle (r15 ADVICE)
    require(out != base,
      "incrSpliceSql: split-predicate splice found no anchor in span SQL")
    out
  }

  /** Tokenizer-aware exact-substring dedup (r15 VERDICT #2): training
    * -data dedup in practice runs POST-tokenizer (Lee et al. operate
    * on BPE token ids), and windows over BPE symbols see verbatim
    * overlap that whitespace windows structurally miss (a shared run
    * that ends mid-word still matches symbol-for-symbol, and sub-word
    * granularity catches long char-level runs spanning fewer than
    * `minLen` whitespace tokens). This composes the existing
    * distributed BPE trainer ([[Bpe.learn]] — the same corpus-trained
    * merge table q_bpe_merges pins) with the token-unit-agnostic
    * window machinery: positions are 0-based offsets into each
    * document's encoded SYMBOL stream.
    *
    * Defaults: `minLen` = 16 symbols (≈ 3 words — at sf0.01 the
    * corpus' 96k-symbol stream yields a few hundred maximal spans,
    * the same output class as the whitespace form's 8 tokens) under
    * the same dfCap guard. The oracle is a FULL cross-engine
    * recompute: DuckDB re-trains the merge table round by round
    * (frequency-weighted argmax + greedy fold) and re-encodes every
    * document — see [[bpeOracleSql]].
    */
  def substringDupsBpe(s: SparkSession, d: String, minLen: Int = 16,
      dfCap: Int = 64, nMerges: Int = 16): DataFrame = {
    val kept = keptFromPositions(
      positionsFromArrays(bpeSymbolStream(s, d, nMerges), minLen),
      dfCap)
    spansOf(matchesOf(kept, kept), minLen)
  }

  /** Each document's BPE symbol stream as (doc_id, t ARRAY<STRING>):
    * the corpus-trained vocabulary ([[Bpe.learn]]'s encoded word
    * table) joined token-by-token, per-word symbol arrays flattened
    * in token order. The collect_list is doc-bounded (the reassembly
    * contract), and the vocabulary side is vocabulary-sized — never
    * the corpus.
    */
  private def bpeSymbolStream(s: SparkSession, d: String,
      nMerges: Int): DataFrame =
    symbolStreams(
      Tables.parallelized(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      Bpe.learn(s, d, nMerges)._2.select(col("word"), col("syms")))

  /** Encode `docs` under an explicit (word, syms) vocabulary — the
    * seam the frozen-tokenizer index lifecycle shares with the inline
    * form ([[writeBpeIndex]] persists the vocabulary;
    * [[bpeAppendBatch]] encodes new batches under it without
    * retraining, exactly like a production tokenizer runtime).
    */
  private def symbolStreams(docs: DataFrame,
      vocab: DataFrame): DataFrame = {
    // r18 (guide §2.4 — remove shuffles outright): the join+groupBy
    // form below pays a token explode, a word-keyed join, and a
    // doc_id-keyed aggregate (two exchanges over per-token rows) just
    // to restore an order the DOCUMENT ROW already had. Inside
    // [[Bpe.broadcastableVocab]]'s type and byte bounds the vocabulary
    // folds into ONE broadcast map row, and each document encodes in
    // place: token array → per-word symbol arrays → flatten, zero exchanges,
    // order preserved by construction. Semantics match the inner join
    // exactly: words absent from the vocabulary drop (the null
    // filter), and a document whose every token drops vanishes (the
    // size guard — the groupBy form never saw a row for it). Past
    // the gate the word-keyed join stands (a 10⁷-type map in one row
    // is no longer broadcast material).
    if (Bpe.broadcastableVocab(vocab)) {
      val vm = broadcast(vocab.agg(map_from_entries(
        collect_list(struct(col("word"), col("syms")))).as("__vm")))
      docs.crossJoin(vm)
        .select(col("doc_id"),
          flatten(filter(
            transform(TextOps.tokens(col("text")),
              w => element_at(col("__vm"), w)),
            a => a.isNotNull)).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), col("t"))
    } else {
      val dw = docs
        .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
        .toDF("doc_id", "wpos", "word")
      dw.join(vocab, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("wpos"), col("syms")))),
          x => x.getField("syms"))).as("t"))
    }
  }

  /** Persist the BPE-symbol position index ([[substringDupsBpeFromIndex]]
    * / [[substringScrubBpeFromIndex]]'s serve source): `dir/vocab` =
    * the corpus-trained (word, syms) encoded vocabulary — the FROZEN
    * tokenizer, fit once on the full corpus exactly like the LSH
    * plane-set convention — `dir/streams` = each indexed document's
    * encoded symbol stream (the tokenized corpus a training pipeline
    * persists anyway — what the served scrub reassembles from),
    * `dir/positions`/`dir/freq` = the standard gram-position tuples
    * and mergeable counts over those streams; `dir/merges` = the
    * merge sequence in rank order (what the runtime OOV path
    * replays). `buildOnly` restricts which documents are INDEXED (the
    * 80/20 lifecycle fixture) and `indexDocs` replaces the indexed
    * frame outright (the streaming maintainer's reference builds);
    * the vocabulary always trains on the full corpus at `d`, so
    * batches appended later encode identically and served output
    * equals the inline recompute bit-for-bit.
    */
  def writeBpeIndex(s: SparkSession, d: String, dir: String,
      minLen: Int = 16, nMerges: Int = 16,
      buildOnly: Option[Column] = None,
      indexDocs: Option[DataFrame] = None): Unit = {
    val (mergeSeq, state) = Bpe.learn(s, d, nMerges)
    state.select(col("word"), col("syms"))
      .write.mode("overwrite").parquet(s"$dir/vocab")
    Bpe.mergesFrame(s, mergeSeq).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
    val all = Tables.parallelized(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    val docs = indexDocs
      .map(df => Tables.parallelized(
        df.select(col("doc_id"), col("text"))))
      .getOrElse(buildOnly.map(all.filter).getOrElse(all))
    encodedStreams(s, dir, docs)
      .write.mode("overwrite").parquet(s"$dir/streams")
    positionsFromArrays(s.read.parquet(s"$dir/streams"), minLen)
      .write.mode("overwrite").parquet(s"$dir/positions")
    s.read.parquet(s"$dir/positions")
      .groupBy(col("h")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$dir/freq")
  }

  /** Encode `docs` under the index's frozen tokenizer — persisted
    * vocabulary for seen words, and the FULL runtime OOV path for
    * unseen ones (redacted stream text, new sources): the persisted
    * merge sequence replays over their characters
    * ([[Bpe.encodeVocabUnder]]), yielding exactly what training would
    * have emitted had the word been in the corpus.
    */
  private def encodedStreams(s: SparkSession, indexDir: String,
      docs: DataFrame): DataFrame = {
    val vocab = s.read.parquet(s"$indexDir/vocab")
      .select(col("word"), col("syms"))
    val oov = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .join(vocab.select(col("word")), Seq("word"), "left_anti")
    // gate the merge replay on actual OOV presence: the common batch
    // (no unseen words — the registry fixtures, any in-distribution
    // feed) pays ONE word-type-sized anti-join probe instead of
    // nMerges empty fold rounds and their eager lineage checkpoints
    val full =
      if (oov.isEmpty) vocab
      else vocab.unionByName(
        Bpe.encodeVocabUnder(oov, Bpe.readMerges(s, indexDir)))
    symbolStreams(docs, full)
  }

  /** Append a batch under the index's FROZEN tokenizer — no retrain,
    * the production tokenizer-runtime shape ([[Bpe.encodeDocs]]'
    * lifecycle note; OOV words replay the persisted merges): the
    * batch encodes, grams, and lands as `streams`/`positions`/`freq`
    * side batches via the same staged rename as
    * [[appendPositionsBatch]] (freq first, streams last).
    */
  def bpeAppendBatch(s: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long, minLen: Int = 16): Unit = {
    val tmp = s"$indexDir/.batch_tmp_$batchId"
    encodedStreams(s, indexDir,
        Tables.parallelized(newDocs.select(col("doc_id"), col("text"))))
      .write.mode("overwrite").parquet(s"$tmp/streams")
    positionsFromArrays(s.read.parquet(s"$tmp/streams"), minLen)
      .write.mode("overwrite").parquet(s"$tmp/positions")
    sealBatch(s, indexDir, tmp, batchId, extra = Seq("streams"))
  }

  /** [[substringDupsBpe]] SERVED from the persisted index: the corpus
    * is neither re-encoded nor re-grammed — spans reconstruct from the
    * index's position tuples under the merged global dfCap counts, so
    * the output equals the inline form's bit-for-bit (one shared
    * [[bpeOracleSql]] oracle, whatever lifecycle state the index is
    * in).
    */
  def substringDupsBpeFromIndex(s: SparkSession, indexDir: String,
      minLen: Int = 16, dfCap: Int = 64): DataFrame =
    spansFromIndex(s, indexDir, minLen, dfCap)

  /** The curation cut on the BPE symbol stream — Lee et al. as
    * actually run post-tokenizer: every duplicated symbol-span
    * occurrence outside the smallest-doc_id copy is cut, ranges
    * union, and the surviving SYMBOL stream reassembles (symbols
    * concatenate; `</w>` markers become word boundaries, so a span
    * cut mid-word honestly merges the flanking fragments — the same
    * artifact token-id-level cutting produces in real pipelines).
    * Output (doc_id, n_cut, clean_text); n_cut counts SYMBOLS.
    */
  def substringScrubBpe(s: SparkSession, d: String, minLen: Int = 16,
      dfCap: Int = 64, nMerges: Int = 16): DataFrame = {
    val streams = Dedup.lazyCheckpoint(bpeSymbolStream(s, d, nMerges))
    val kept = keptFromPositions(
      positionsFromArrays(streams, minLen), dfCap)
    scrubFromToks(streams, spansOf(matchesOf(kept, kept), minLen),
      bpeRebuild)
  }

  /** [[substringScrubBpe]] SERVED from the persisted index: spans from
    * the position tuples, reassembly from the PERSISTED symbol streams
    * — zero re-encode, zero re-gram; the only corpus-sized work left
    * is the cut + reassembly any scrub must pay. Pending logical
    * deletes ([[deletePositions]] works on the BPE dir unchanged — the
    * tombstone is just doc_ids) drop from BOTH sides: the span source
    * handles its own anti-join + freq subtraction (see
    * [[spansFromIndex]]), and the streams anti-join here keeps erased
    * documents out of the emitted rows — a scrubbed GDPR deletion must
    * not resurface as "clean text". The frozen tokenizer is untouched:
    * erasure removes the documents' rows, never retrains the
    * vocabulary (the merge table is aggregate statistics, the LSH
    * plane-set convention) — which is exactly what the restricted
    * oracle recomputes ([[deletedBpeScrubOracleSql]]: survivors
    * encoded under the FULL-corpus-trained merges).
    */
  def substringScrubBpeFromIndex(s: SparkSession, indexDir: String,
      minLen: Int = 16, dfCap: Int = 64): DataFrame = {
    val streams = IndexTable.live(s, indexDir, "streams", "doc_id")
    scrubFromToks(streams,
      spansFromIndex(s, indexDir, minLen, dfCap), bpeRebuild)
  }

  /** Surviving BPE symbols → clean text: concatenate, turn word-final
    * `</w>` markers into spaces, drop the trailing one. Mirrored
    * verbatim in [[bpeScrubOracleSql]]'s aggregate.
    */
  private def bpeRebuild(a: Column): Column =
    rtrim(replace(concat_ws("", a), lit("</w>"), lit(" ")))

  /** Incremental ingest, post-tokenizer: spans for pairs whose LARGER
    * member is in the newest fifth, over the corpus-trained symbol
    * stream — [[incrementalSpans]]' convention with BPE symbol units
    * (positions and the global dfCap computed once over the whole
    * encoded corpus; the probe side is a filter above the shared
    * materialized frame).
    */
  def incrementalBpeSpans(s: SparkSession, d: String, minLen: Int = 16,
      dfCap: Int = 64, nMerges: Int = 16): DataFrame = {
    Tables.parallelized(
        Tables.documents(s, d).select(col("doc_id"), col("text")))
      .createOrReplaceTempView("graft_substr_bpe_docs")
    val splitId =
      "(select (max(doc_id) * 4) div 5 from graft_substr_bpe_docs)"
    val kept = keptFromPositions(
      positionsFromArrays(bpeSymbolStream(s, d, nMerges), minLen),
      dfCap)
    spansOf(
      matchesOf(kept, kept.filter(expr(s"doc_id >= $splitId"))),
      minLen)
  }

  /** [[incrementalBpeSpans]] SERVED from a persisted BPE index of the
    * OLD docs: the batch encodes under the index's frozen tokenizer
    * (vocabulary + OOV merge replay) and re-grams only itself; index
    * counts + batch counts reconstruct the identical global dfCap, so
    * the output equals the inline form's bit-for-bit — one shared
    * [[bpeIncrOracleSql]] oracle.
    */
  def incrementalBpeSpansFromIndex(s: SparkSession, indexDir: String,
      newDocs: DataFrame, minLen: Int = 16,
      dfCap: Int = 64): DataFrame =
    probeSpansFromIndex(s, indexDir,
      positionsFromArrays(
        encodedStreams(s, indexDir, Tables.parallelized(
          newDocs.select(col("doc_id"), col("text")))), minLen),
      minLen, dfCap)

  /** [[substringDupsBpe]] recomputed END-TO-END in DuckDB — trainer
    * included: `nMerges` unrolled rounds of (frequency-weighted
    * adjacent-pair argmax, tie-broken (n DESC, l, r) exactly like
    * [[Bpe.learn]]) + greedy left-to-right fold, then every document
    * re-encoded and the standard span chain run over symbol lists. No
    * pinned constants anywhere — the merge table EMERGES identically
    * in both engines (verified against q_bpe_merges' golden), so a
    * drift in either trainer fails this gate too.
    *
    * The greedy fold is replayed in SQL by the wrapped-symbol trick:
    * a word's symbols render as `\\x01sym\\x02` units, and plain
    * left-to-right non-overlapping `replace()` of
    * `\\x01l\\x02\\x01r\\x02` with `\\x01lr\\x02` is EXACTLY the
    * greedy fold (matches are symbol-aligned by the wrappers; the
    * consumed match cannot re-pair with the next unit, reproducing
    * the non-overlap rule — [aaa] folds to [aa, a] on both engines).
    * State CTEs carry the MATERIALIZED hint: each round references
    * its predecessor twice (pair argmax + fold), so inlining would
    * re-derive the tower exponentially (measured: >300 s inlined,
    * 0.1 s materialized; the hint is performance-only — results are
    * identical wherever it parses).
    */
  def bpeOracleSql(minLen: Int = 16, dfCap: Int = 64,
      nMerges: Int = 16): String = {
    val encode =
      s"""dtoks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS t
         |  FROM documents),
         |dw AS (
         |  SELECT doc_id, u.i AS wpos, t[u.i + 1] AS word
         |  FROM dtoks, unnest(range(0, len(t))) AS u(i)),
         |toks AS MATERIALIZED (
         |  SELECT doc_id, flatten(list(sy ORDER BY wpos)) AS t
         |  FROM dw JOIN v USING (word) GROUP BY doc_id)""".stripMargin
    spanSql(minLen, dfCap,
      Seq(Bpe.trainSqlCtes(nMerges), encode).mkString(",\n"))
  }

  /** The curation half of Lee et al.: CUT the duplicated spans,
    * keeping one occurrence corpus-wide. Every span occurrence in the
    * pair's LARGER doc_id is removed (within a duplicate cluster all
    * pairs exist, so only the smallest doc's copy survives —
    * deterministic, order-free); a doc's cut ranges union before
    * removal. Output one row per document: (doc_id, n_cut,
    * clean_text), clean_text = surviving tokens joined by single
    * spaces (the canonical whitespace form both engines rebuild
    * identically), '' when everything was cut, the full token join
    * when nothing was.
    *
    * Scale shape: the span frame is pair-bounded (tiny); the cut
    * positions explode to at most the duplicated token mass. The
    * corpus pays one (doc_id, pos, token) explode, one keyed
    * anti-join against the cut set, and one per-doc ordered
    * reassembly (collect_list of a DOCUMENT's tokens — bounded by
    * definition of a document). No all-pairs, no text in join keys.
    */
  def substringScrub(s: SparkSession, d: String, minLen: Int = 8,
      dfCap: Int = 64): DataFrame = {
    val docs = Tables.parallelized(
      Tables.documents(s, d).select(col("doc_id"), col("text")))
    scrubFromSpans(docs, substringDups(s, d, minLen, dfCap))
  }

  /** [[substringScrub]]'s cut + reassembly half, span source abstracted
    * so the served form ([[substringScrubFromIndex]]) can feed spans
    * reconstructed from the persisted position index: every span
    * occurrence in the pair's larger doc is cut, ranges union, the
    * surviving token stream reassembles in order.
    */
  private def scrubFromSpans(docs: DataFrame,
      spans: DataFrame): DataFrame =
    scrubFromToks(
      docs.select(col("doc_id"), TextOps.tokens(col("text")).as("t")),
      spans, a => concat_ws(" ", a))

  /** The cut + reassembly over an ALREADY-tokenized (doc_id, t) frame
    * — the token-unit-agnostic seam the BPE scrub shares: `rebuild`
    * renders the surviving ordered token array as clean text
    * (whitespace tokens re-join with single spaces; BPE symbols
    * concatenate and `</w>` markers become the word boundaries).
    */
  private def scrubFromToks(toksDf: DataFrame, spans: DataFrame,
      rebuild: Column => Column): DataFrame = {
    val cuts = spans
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("b_pos"),
          col("b_pos") + col("span_len") - 1)).as("pos"))
      .distinct()
    val tp = toksDf.select(col("doc_id"), posexplode(col("t")))
      .toDF("doc_id", "pos", "tok")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("tok"))
    val kept = tp.join(cuts, Seq("doc_id", "pos"), "left_anti")
    val agg = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      rebuild(
        transform(array_sort(collect_list(struct(col("pos"),
          col("tok")))), x => x.getField("tok"))).as("clean_text"))
    toksDf
      .select(col("doc_id"), size(col("t")).cast("long").as("n_toks"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_cut"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The curation cut SERVED from a persisted position index (r15
    * VERDICT #1 — the q_rerank production-shape convention): spans are
    * reconstructed from the index's (h, doc_id, pos) tuples and
    * mergeable per-gram counts — the corpus is NOT re-grammed; the
    * only corpus pass left is the cut + reassembly, which any scrub
    * must pay to emit clean text. The index may be base-only, grown
    * with append batches, or promoted: counts merge exactly, so all
    * three reconstruct the identical global dfCap filter and the
    * output equals [[substringScrub]] bit-for-bit — one shared oracle.
    *
    * `docs` must be the corpus the index covers (the scrub emits one
    * row per doc and positions are index-resident).
    */
  def substringScrubFromIndex(s: SparkSession, indexDir: String,
      docs: DataFrame, minLen: Int = 8, dfCap: Int = 64): DataFrame =
    scrubFromSpans(
      Tables.parallelized(docs.select(col("doc_id"), col("text"))),
      spansFromIndex(s, indexDir, minLen, dfCap))

  /** Full-corpus maximal spans reconstructed from a persisted position
    * index (base tables + any append batches): counts merge exactly,
    * so the global dfCap filter — and therefore the span set — equals
    * the inline recompute's bit-for-bit, whatever lifecycle state the
    * index is in.
    */
  private def spansFromIndex(s: SparkSession, indexDir: String,
      minLen: Int, dfCap: Int): DataFrame = {
    val pos0 = IndexTable.union(s, indexDir, "positions")
    val storedFreq = IndexTable.union(s, indexDir, "freq")
      .select(col("h"), col("n"))
    // pending logical deletes: drop the tombstoned docs' positions and
    // subtract their per-gram counts (reconstructed from the index's
    // own positions — mergeable counts, no corpus re-gram) so the
    // global dfCap filter is the survivors' exactly; a capped gram can
    // legitimately RE-ENTER once its copies are erased
    val tomb = Tombstones.read(s, indexDir).map(t =>
      broadcast(t.select(col("doc_id"))))
    val positions = tomb.map(t =>
      pos0.join(t, Seq("doc_id"), "left_anti")).getOrElse(pos0)
    val freq = tomb match {
      case None => storedFreq
      case Some(t) => storedFreq.unionByName(
        pos0.join(t, Seq("doc_id"), "left_semi")
          .groupBy(col("h")).agg((-count(lit(1))).as("n")))
    }
    val keptH = freq
      .groupBy(col("h")).agg(sum(col("n")).as("n"))
      .filter(col("n") <= dfCap)
      .select(col("h"))
    // NOT lazyCheckpointed (unlike the inline path, where `kept` caps
    // a tokenize+hash+aggregate subtree): here the subtree is a parquet
    // scan + one small join, and the self-join's double consumption
    // collapses to a ReusedExchange — cheaper than materializing
    // corpus-sized positions into the block manager
    val kept = positions.join(keptH, Seq("h"))
      .select(col("h"), col("doc_id"), col("pos"))
    spansOf(matchesOf(kept, kept), minLen)
  }

  /** [[substringScrubFromIndex]]'s oracle when the index carries
    * deletions: the full scrub recompute RESTRICTED to the survivors —
    * spliced into the toks CTE with a require-guarded anchor (the
    * incrSpliceSql rule), so freq, the dfCap boundary, the span set
    * and the reassembly are all the survivors-only construction.
    */
  def deletedScrubOracleSql(pred: String = "doc_id % 7 <> 6",
      minLen: Int = 8, dfCap: Int = 64): String = {
    val base = scrubOracleSql(minLen, dfCap)
    val out = base.replace("FROM documents)",
      s"FROM documents WHERE $pred)")
    require(out != base,
      "deletedScrubOracleSql: corpus-restriction splice found no anchor")
    out
  }

  /** [[substringScrub]] recomputed end-to-end in DuckDB — span
    * construction, cut-position union, ordered reassembly.
    */
  def scrubOracleSql(minLen: Int = 8, dfCap: Int = 64): String =
    scrubSqlFrom(oracleSql(minLen, dfCap), minLen,
      "string_agg(tok, ' ' ORDER BY pos)")

  /** [[substringScrubBpe]] / [[substringScrubBpeFromIndex]]'s shared
    * oracle: [[bpeOracleSql]]'s span chain (trainer + re-encode
    * included) with the cut/reassembly tail — the aggregate mirrors
    * [[bpeRebuild]] (concatenate symbols, `</w>` → space, trim the
    * trailing one).
    */
  def bpeScrubOracleSql(minLen: Int = 16, dfCap: Int = 64,
      nMerges: Int = 16): String =
    scrubSqlFrom(bpeOracleSql(minLen, dfCap, nMerges), minLen,
      "rtrim(replace(string_agg(tok, '' ORDER BY pos), '</w>', ' '))")

  /** [[substringScrubBpeFromIndex]]'s oracle when the index carries
    * deletions: the full recompute with the ENCODE corpus restricted
    * to the survivors while the TRAINER corpus stays whole — the
    * frozen-tokenizer erasure contract (deletion removes documents,
    * never retrains the merge table; [[writeBpeIndex]] fits the
    * vocabulary on the full corpus at `d` and holds it fixed). The
    * splice anchors on the encode chain's `dtoks` CTE specifically —
    * a restriction landing in the trainer CTEs would gate against the
    * wrong (survivors-trained) tokenizer, so the anchor includes the
    * following CTE's header and is require-guarded (the incrOracleSql
    * rule: wording drift fails loudly).
    */
  def deletedBpeScrubOracleSql(pred: String = "doc_id % 7 <> 6",
      minLen: Int = 16, dfCap: Int = 64, nMerges: Int = 16): String = {
    val base = bpeScrubOracleSql(minLen, dfCap, nMerges)
    val anchor = "  FROM documents),\ndw AS ("
    val out = base.replace(anchor,
      s"  FROM documents WHERE $pred),\ndw AS (")
    require(out != base,
      "deletedBpeScrubOracleSql: encode-restriction splice found no anchor")
    out
  }

  /** Strip `spanSqlChain`'s final SELECT and append the cut +
    * reassembly tail — the span CTE chain is token-unit-agnostic, so
    * one tail serves both the whitespace and BPE scrubs; only the
    * clean-text aggregate differs.
    */
  private def scrubSqlFrom(spanSqlChain: String, minLen: Int,
      cleanAgg: String): String = {
    val spanCtes = spanSqlChain.replaceFirst("(?s)\\nSELECT doc_a.*$", "")
    // same splice guard as incrOracleSql (r15 ADVICE): the final-SELECT
    // strip must actually strip, or the CTE chain below is malformed
    require(spanCtes != spanSqlChain,
      "scrubSqlFrom: final-SELECT strip found no anchor in the span SQL")
    s"""$spanCtes,
       |spans AS (
       |  SELECT doc_b AS doc_id, min(pb) AS b0,
       |    $minLen + count(*) - 1 AS sl
       |  FROM runs GROUP BY doc_a, doc_b, diag, grp),
       |cuts AS (
       |  SELECT DISTINCT doc_id, b0 + u.i AS p
       |  FROM spans, unnest(range(0, sl)) AS u(i)),
       |tp AS (
       |  SELECT doc_id, i AS pos, t[i+1] AS tok
       |  FROM toks, unnest(range(0, len(t))) AS u(i)),
       |keep AS (
       |  SELECT tp.doc_id, tp.pos, tp.tok
       |  FROM tp LEFT JOIN cuts c
       |    ON tp.doc_id = c.doc_id AND tp.pos = c.p
       |  WHERE c.p IS NULL),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    $cleanAgg AS clean_text
       |  FROM keep GROUP BY doc_id)
       |SELECT toks.doc_id,
       |  CAST(len(t) - coalesce(n_kept, 0) AS BIGINT) AS n_cut,
       |  coalesce(clean_text, '') AS clean_text
       |FROM toks LEFT JOIN agg ON toks.doc_id = agg.doc_id""".stripMargin
  }
}
