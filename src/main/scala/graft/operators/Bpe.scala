package graft.operators

import graft.Tables
import graft.functions.Fns._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed BPE tokenizer training (Sennrich et al. 2016) — the
  * "train the tokenizer on the corpus" stage of a pretraining pipeline,
  * run as a sequence of vocabulary-sized DataFrame jobs rather than the
  * single-machine dictionary loop of the reference implementations.
  *
  * State is the word-frequency table (distinct corpus words with
  * occurrence counts — vocabulary-sized, millions of types at 100 TB,
  * never the corpus itself) carrying a symbol-array column that starts
  * as characters (word-final character tagged `</w>` so merges cannot
  * cross word boundaries). Each merge round is:
  *   1. adjacent-pair counts weighted by word frequency — a zip of two
  *      array slices (no per-symbol explode row count beyond the pair
  *      stream) feeding one pair-keyed hash aggregate;
  *   2. argmax pair by (count DESC, left ASC, right ASC) — a
  *      deterministic total order; `limit(1).collect` moves ONE row to
  *      the driver (the same bounded-collect contract as the IVF
  *      centroid fits);
  *   3. a greedy left-to-right fold (`functions.aggregate`) replacing
  *      non-overlapping occurrences of the pair in every word's symbol
  *      array — lazily-evaluated CASE keeps the empty-accumulator slice
  *      unreachable;
  *   4. `localCheckpoint` to truncate lineage so round N's plan does
  *      not nest N folds.
  * Encoding joins corpus tokens against the once-encoded word table
  * (token-keyed, 1:N against single-row words) — documents are never
  * re-folded per merge.
  *
  * The merge table is deterministic given the corpus, so q_bpe_merges
  * carries a GOLDEN oracle pinned at the driver's verify scale
  * (re-pin after a testdata regen: `runMain graft.GoldenDump
  * q_bpe_merges`); the weighted pair-counting machinery underneath is
  * pinned cross-engine by q_bpe_pair_counts' full DuckDB oracle, and
  * the greedy fold by the planted-corpus spec (`BpeSpec` reproduces the
  * classic low/lower/newest/widest merge sequence by hand).
  */
object Bpe {

  /** Word-final marker (the standard end-of-word tag). */
  val Eow = "</w>"

  /** Broadcast ceiling for the encoded vocabulary, in word types
    * (r17, guide §3.1): every consumer joins corpus tokens against the
    * vocabulary on `word`, and with the vocabulary behind a
    * localCheckpoint its stats are unknown — the planner was measured
    * picking the CORPUS token explode as the broadcast side
    * (BuildLeft over a streamed vocab), which is exactly backwards at
    * scale. The trainer knows the true type count (its round layout
    * already depends on it), so it hints the side itself: ≤ 4M types
    * (≲ 200 MB framed with symbol arrays — a production tokenizer
    * vocabulary is ~1e5) broadcasts; above that the hint is withheld
    * and the word-keyed shuffle join stands.
    */
  private val VocabBroadcastMaxTypes = 4L * 1024 * 1024

  private def hintVocab(df: DataFrame, nTypes: Long): DataFrame =
    if (nTypes <= VocabBroadcastMaxTypes) broadcast(df) else df

  /** Word-type ceiling for the driver-local trainer fast path (r18,
    * guide §1.2 step 1: choose the algorithm by the data's size). Every
    * trainer round is a job over the WORD-FREQUENCY table — never the
    * corpus — and that table is the size a real tokenizer trainer holds
    * in one process (reference BPE trainers aggregate word counts and
    * then loop over the dictionary locally). Below this many types the
    * 16 sequential argmax rounds are pure driver-side scheduling
    * (~140 ms/round of planning over a 31-row state at sf0.1 — the r17
    * "Not yet optimized #1"), so [[learn]] collects the (word, freq)
    * table — the same bounded-collect class as [[readMerges]], which
    * already ships the whole model — and runs the IDENTICAL loop
    * in-process: same (count DESC, left ASC, right ASC) argmax compared
    * on UTF-8 bytes exactly like Spark's UTF8String ordering, same
    * greedy non-overlapping left-to-right fold. Above the ceiling the
    * distributed rounds stand unchanged (at 100 TB word types run to
    * ~10⁷ and the state no longer belongs on the driver). Gated by
    * count, not hope: the ceiling bounds driver memory at ~tens of MB.
    */
  private val LocalTrainMaxTypes = 262144L

  /** The ceiling in force on this thread: [[LocalTrainMaxTypes]] unless
    * a caller scopes another with `withValue` — `withValue(0)` forces
    * the distributed rounds, BpeSpec's local-vs-distributed parity
    * case. A code seam, not a setting.
    */
  private[graft] val localTrainMaxTypes =
    new scala.util.DynamicVariable[Long](LocalTrainMaxTypes)

  /** Whether a (word, syms) vocabulary may fold into ONE broadcast map
    * row — the gate of [[docTokenStats]] and `Substring.symbolStreams`.
    * Both bounds must hold: the type count under [[localTrainMaxTypes]]
    * and the map's estimated size, sum(length(word) + 8·size(syms))
    * bytes, under `spark.sql.autoBroadcastJoinThreshold` — a vocabulary
    * of long words can pass the count and still not belong in one
    * broadcast row. One aggregate job answers both.
    */
  private[graft] def broadcastableVocab(vocab: DataFrame): Boolean = {
    val s = vocab.sparkSession
    val maxTypes = localTrainMaxTypes.value
    maxTypes > 0 && {
      val r = vocab.agg(count(lit(1)), coalesce(
          sum(length(col("word")) + size(col("syms")) * 8), lit(0L)))
        .head()
      r.getLong(0) <= maxTypes &&
        r.getLong(1) <= s.sessionState.conf.autoBroadcastJoinThreshold
    }
  }

  /** Spark's string ordering is UTF8String.compareTo — unsigned
    * lexicographic comparison of the UTF-8 bytes. The local argmax
    * tie-break must match it bit-for-bit (Java String.compareTo orders
    * by UTF-16 code unit, which DIVERGES above the BMP).
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** [[charSyms]] in-process: one symbol per CODE POINT (Spark's
    * `length`/`substr` count code points, not UTF-16 units), word-final
    * symbol tagged [[Eow]].
    */
  private def localCharSyms(word: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](
      word.length + 1)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val w = Character.charCount(cp)
      out += word.substring(i, i + w)
      i += w
    }
    if (out.nonEmpty) out(out.length - 1) = out(out.length - 1) + Eow
    out.toArray
  }

  /** [[mergeFold]] in-process: greedy left-to-right replacement of
    * non-overlapping (l, r) occurrences — the merged symbol never
    * re-matches `l` within the same pass, exactly like the lazy-CASE
    * fold.
    */
  private def localMergeFold(syms: Array[String], l: String, r: String)
      : Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (out.nonEmpty && out(out.length - 1) == l && x == r)
        out(out.length - 1) = l + r
      else out += x
      i += 1
    }
    out.toArray
  }

  /** The trainer loop over a collected (word, freq) table: identical
    * argmax and fold semantics to the distributed rounds (BpeSpec pins
    * both paths; the golden/full oracles gate the outputs). Returns the
    * merge table and the final per-word symbol arrays.
    */
  private def localTrainLoop(words: Array[(String, Long)], nMerges: Int)
      : (Seq[(Int, String, String, Long)], Array[Array[String]]) = {
    val syms: Array[Array[String]] = words.map(w => localCharSyms(w._1))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts =
        scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < syms.length) {
        val sy = syms(wi)
        val f = words(wi)._2
        var i = 0
        while (i < sy.length - 1) {
          val k = (sy(i), sy(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
        wi += 1
      }
      if (counts.isEmpty) exhausted = true
      else {
        var bestL: String = null
        var bestR: String = null
        var bestN = Long.MinValue
        val it = counts.iterator
        while (it.hasNext) {
          val ((l, r), n) = it.next()
          val better = n > bestN || (n == bestN && {
            val cl = utf8Compare(l, bestL)
            cl < 0 || (cl == 0 && utf8Compare(r, bestR) < 0)
          })
          if (better) { bestL = l; bestR = r; bestN = n }
        }
        merges += ((rank, bestL, bestR, bestN))
        wi = 0
        while (wi < syms.length) {
          syms(wi) = localMergeFold(syms(wi), bestL, bestR)
          wi += 1
        }
        rank += 1
      }
    }
    (merges.result(), syms)
  }

  /** A locally-computed encoded vocabulary as the contract-shaped
    * frame, broadcast-hinted like [[hintVocab]] (a LocalRelation this
    * size always broadcasts).
    */
  private def localVocabFrame(s: SparkSession,
      rows: Seq[Row], withFreq: Boolean): DataFrame = {
    val fields = StructField("word", StringType, nullable = false) +:
      (if (withFreq)
        Seq(StructField("freq", LongType, nullable = false))
      else Nil) :+
      StructField("syms",
        ArrayType(StringType, containsNull = false), nullable = false)
    broadcast(s.createDataFrame(
      s.sparkContext.parallelize(rows, 1), StructType(fields)))
  }

  /** Distinct corpus words with occurrence counts — the training state
    * seed. Vocabulary-sized output; one token explode + one word-keyed
    * aggregate over the corpus.
    */
  def wordFreq(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.documents(s, d))
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbol array: the word's characters, last one tagged with
    * [[Eow]].
    */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i =>
      when(i === length(word), concat(word.substr(i, lit(1)), lit(Eow)))
        .otherwise(word.substr(i, lit(1))))

  /** Adjacent symbol pairs of `syms` as (l, r) structs — a slice zip,
    * not an explode of per-symbol rows.
    */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (a, b) => struct(a.as("l"), b.as("r")))

  /** Frequency-weighted adjacent-pair counts over a (word state) frame
    * with `syms`/`freq` columns: (l, r, n).
    */
  private def pairCounts(state: DataFrame): DataFrame =
    state.select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("n"))

  /** Greedy left-to-right merge of non-overlapping (l, r) occurrences
    * in a symbol array. CASE evaluates lazily, so the slice on an empty
    * accumulator is unreachable.
    */
  private def mergeFold(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === l && x === r,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Learned merges in application order:
    * (rank, left, right, pair_count). Also returns the final encoded
    * word table for [[encode]] reuse.
    */
  def learn(s: SparkSession, d: String, nMerges: Int = 16)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var state = wordFreq(s, d)
      .select(col("word"), col("freq"), charSyms(col("word")).as("syms"))
      .localCheckpoint()
    // driver-local fast path (r18): below the type ceiling the rounds
    // are scheduling overhead, not data — collect the checkpointed
    // (word, freq) table (one vocabulary-sized job) and run the
    // identical loop in-process. See LocalTrainMaxTypes.
    val nTypes = state.count()
    val localMax = localTrainMaxTypes.value
    if (localMax > 0 && nTypes <= localMax) {
      val wf = state.select("word", "freq").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      val (ms, syms) = localTrainLoop(wf, nMerges)
      val rows: Seq[Row] = wf.toIndexedSeq.zip(syms.toIndexedSeq).map {
        case ((w, f), sy) => Row(w, f, sy.toIndexedSeq)
      }
      return (ms, localVocabFrame(s, rows, withFreq = true))
    }
    // Size-adaptive round layout (r17, guide §2.2/§2.4): every trainer
    // round is a vocabulary-sized job, and the vocabulary is orders of
    // magnitude smaller than the corpus (31 word types in the driver
    // fixture; ~10⁵ for a production tokenizer; ~10⁶–10⁷ types even at
    // 100 TB). Inheriting the corpus stage's 32-partition layout made
    // each argmax round a 2-stage job (partial agg → exchange → final
    // agg/TakeOrdered) over mostly-empty tasks — measured 3.1 s for 16
    // rounds over 31 rows, pure scheduling. Coalescing the checkpointed
    // state to ~256k word types per partition (never above the default
    // parallelism, floor 1) turns each round into ONE exchange-free
    // single-stage job: a SinglePartition child satisfies the
    // aggregate's ClusteredDistribution outright, and at real vocab
    // sizes the 256k-rows/partition target keeps the rounds parallel.
    // The count is free — the state was just checkpoint-materialized.
    val roundPartitions = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      nTypes / 262144L)).toInt
    if (roundPartitions < state.rdd.getNumPartitions)
      state = state.coalesce(roundPartitions)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    // rounds run AQE-free: their layout was just chosen explicitly, so
    // adaptive stage wrapping is pure per-round driver cost (in-JVM
    // A/B: 2.36 s vs 2.50 s over 16 rounds — Iterate.withoutAqe's
    // scaladoc; the scope stays OFF the loops AQE measurably helps)
    Iterate.withoutAqe(s) {
      while (rank <= nMerges && !exhausted) {
        val top = pairCounts(state)
          .orderBy(col("n").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (l, r, n) =
            (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
          merges += ((rank, l, r, n))
          state = state.withColumn("syms", mergeFold(col("syms"), l, r))
          // lineage cadence, not per-round: a checkpoint is a full extra
          // job over the vocabulary, while re-running ≤3 pending narrow
          // folds inside the next round's aggregate is nearly free —
          // truncate every 4th round so plans stay bounded at HALF the
          // loop's job count (20 vs 32 for 16 merges). Local wall time is
          // unchanged (the argmax shuffle dominates at local[32]); the
          // job-count cut is for real schedulers, where each sequential
          // job pays a scheduler round-trip the loop cannot hide
          if (rank % 4 == 0) state = state.localCheckpoint()
          rank += 1
        }
      }
    }
    // the returned word table is every consumer's join build side —
    // hint it while the type count is in hand (see hintVocab)
    (merges.result(), hintVocab(state, nTypes))
  }

  /** The learned merge table as a DataFrame (driver contract shape). */
  def merges(s: SparkSession, d: String, nMerges: Int = 16): DataFrame =
    mergesFrame(s, learn(s, d, nMerges)._1)

  /** An already-learned merge sequence as the contract-shaped frame —
    * the persist seam for callers that hold [[learn]]'s result and
    * must not pay a second training run.
    */
  def mergesFrame(s: SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val rows = merges.map { case (rk, l, r, n) => Row(rk, l, r, n) }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("pair_count", LongType, nullable = false))))
  }

  /** Iteration-0 weighted pair counts (character pairs before any
    * merge) — the cross-engine-oracled half of the trainer: DuckDB
    * recomputes the same (l, r, n) set from the raw corpus.
    */
  def initialPairCounts(s: SparkSession, d: String): DataFrame =
    pairCounts(wordFreq(s, d)
      .select(col("freq"), charSyms(col("word")).as("syms")))

  // ---- frozen-model lifecycle. Unlike the count/index families, BPE
  // merges are NOT additive — and production tokenizers are trained
  // once and FROZEN (retraining changes every downstream token id), so
  // the lifecycle here is persist → apply-to-anything, with OOV words
  // (absent from the training vocabulary) encoded by replaying the
  // frozen merge sequence, exactly like a real tokenizer runtime.

  /** Persist the learned merge table. */
  def writeModel(s: SparkSession, d: String, modelDir: String,
      nMerges: Int = 16): Unit =
    merges(s, d, nMerges).coalesce(1)
      .write.mode("overwrite").parquet(s"$modelDir/merges")

  /** The persisted merges, in application order — bounded collect
    * (the merge table is the model; real vocabularies are ≤ ~100k
    * rows).
    */
  def readMerges(s: SparkSession, modelDir: String)
      : Seq[(String, String)] =
    s.read.parquet(s"$modelDir/merges").orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  /** Encode ANY document frame under a frozen merge sequence: distinct
    * words (vocabulary-sized — unseen words included, the OOV path)
    * start as characters and replay every merge in rank order as
    * narrow folds (no argmax jobs — lineage checkpointed on the same
    * cadence as [[learn]]); documents then join token→word against the
    * encoded vocabulary. Returns (doc_id, word, n_syms) per token
    * occurrence.
    */
  def encodeDocs(docs: DataFrame, merges: Seq[(String, String)])
      : DataFrame = {
    val tokens = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
    tokens.join(
      encodeVocabUnder(tokens, merges)
        .select(col("word"), size(col("syms")).as("n_syms")),
      Seq("word"))
  }

  /** Encode a frame's distinct `word`s under a FROZEN merge sequence —
    * the OOV half of the tokenizer runtime, exposed for index
    * maintainers that persist the encoded vocabulary but must handle
    * words the training corpus never saw (redacted stream text, new
    * sources): characters + the merges replayed in rank order as
    * narrow folds, lineage checkpointed on [[learn]]'s cadence.
    * Returns (word, syms) — by construction exactly what [[learn]]
    * would have emitted had the word been in the training corpus.
    */
  def encodeVocabUnder(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    var vocab = words.select(col("word")).distinct()
      .select(col("word"), charSyms(col("word")).as("syms"))
      .localCheckpoint()
    val nTypes = vocab.count()
    // same driver-local fast path as [[learn]] (r18): the replay is a
    // pure per-word fold over the vocabulary — below the type ceiling,
    // collect the distinct words and replay the frozen merges
    // in-process instead of scheduling nMerges fold rounds
    val s0 = vocab.sparkSession
    val localMax = localTrainMaxTypes.value
    if (localMax > 0 && nTypes <= localMax) {
      val rows: Seq[Row] = vocab.select("word").collect()
        .toIndexedSeq.map { r =>
          val w = r.getString(0)
          var sy = localCharSyms(w)
          merges.foreach { case (l, mr) => sy = localMergeFold(sy, l, mr) }
          Row(w, sy.toIndexedSeq)
        }
      return localVocabFrame(s0, rows, withFreq = false)
    }
    // same size-adaptive layout as [[learn]]'s rounds: the replay folds
    // are vocabulary-sized, so run them over vocabulary-sized partitions
    val p = math.max(1L, math.min(
      vocab.sparkSession.sparkContext.defaultParallelism.toLong,
      nTypes / 262144L)).toInt
    if (p < vocab.rdd.getNumPartitions) vocab = vocab.coalesce(p)
    // same AQE-free rounds as [[learn]] — the replay's checkpoints are
    // the only jobs in this loop and their layout is already chosen
    Iterate.withoutAqe(vocab.sparkSession) {
      merges.zipWithIndex.foreach { case ((l, r), i) =>
        vocab = vocab.withColumn("syms", mergeFold(col("syms"), l, r))
        if ((i + 1) % 4 == 0) vocab = vocab.localCheckpoint()
      }
    }
    hintVocab(vocab, nTypes)
  }

  /** [[encodeStats]] recomputed from a PERSISTED frozen model — with
    * apply corpus == train corpus this equals the inline row exactly
    * (same merges, same greedy fold), so it shares the golden.
    */
  def encodeStatsFromModel(s: SparkSession, d: String,
      modelDir: String): DataFrame = {
    val docs = Tables.parallelized(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    val tokens = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
    statsAgg(docTokenStats(docs,
      encodeVocabUnder(tokens, readMerges(s, modelDir))))
  }

  /** Per-document token statistics under an encoded vocabulary, with
    * ZERO token explode and ZERO join inside [[broadcastableVocab]] (r18,
    * guide §2.3 — aggregate before you shuffle): the vocabulary folds
    * into one broadcast (word → n_syms) map row and every document
    * row computes its own (n_words, n_chars, n_syms) triple in place;
    * the grouped aggregate then moves doc-count rows, not token-count
    * rows. Inner-join semantics are matched exactly: words absent
    * from the vocabulary drop (the null filter), and a document whose
    * every token drops contributes no row (the size guard — the join
    * form never saw it). Past that gate the exploded token join
    * stands unchanged.
    */
  private def docTokenStats(docsIn: DataFrame, vocab: DataFrame)
      : DataFrame = {
    // keys = every caller column except the text payload (doc_id for
    // the corpus stats; lang/source for the fertility report)
    val docs = docsIn
    val keys = docs.columns.filter(_ != "text").toSeq
    if (broadcastableVocab(vocab)) {
      val vm = broadcast(vocab.agg(map_from_entries(collect_list(
        struct(col("word"), size(col("syms")).as("ns")))).as("__vm")))
      docs.crossJoin(vm)
        .withColumn("__kept",
          filter(TextOps.tokens(col("text")),
            w => element_at(col("__vm"), w).isNotNull))
        .filter(size(col("__kept")) > 0)
        .select(keys.map(col) :+
          size(col("__kept")).cast("long").as("n_words") :+
          aggregate(col("__kept"), lit(0L),
            (a, w) => a + length(w)).as("n_chars") :+
          aggregate(col("__kept"), lit(0L), (a, w) =>
            a + element_at(col("__vm"), w).cast("long")).as("n_syms")
          : _*)
    } else {
      docs
        .select(keys.map(col) :+
          explode(TextOps.tokens(col("text"))).as("word"): _*)
        .join(vocab.select(col("word"), size(col("syms")).as("ns")),
          Seq("word"))
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word"))).cast("long").as("n_chars"),
          sum(col("ns")).cast("long").as("n_syms"))
    }
  }

  /** The corpus-level one-row reduction over [[docTokenStats]]'
    * per-document triples (shared by [[encodeStats]] and
    * [[encodeStatsFromModel]]).
    */
  private def statsAgg(perDoc: DataFrame): DataFrame =
    perDoc
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_words")).cast("long").as("n_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("n_syms")).cast("long").as("n_syms"))
      .select(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_syms"),
        r4(col("n_chars").cast("double") / col("n_syms")).as("compression"))

  /** The whole trainer replayed as chained DuckDB CTEs — `nMerges`
    * unrolled rounds of (frequency-weighted adjacent-pair argmax,
    * tie-broken (n DESC, l, r) exactly like [[learn]]) + the greedy
    * left-to-right fold via the wrapped-symbol trick (see
    * [[graft.operators.Substring.bpeOracleSql]]'s scaladoc for why
    * plain `replace()` IS the greedy fold, and why the state CTEs
    * carry MATERIALIZED). Returns the chain `wf, s0, …, s$nMerges, v`
    * where `v` = (word, sy LIST) is the frozen encoded vocabulary —
    * the shared head of every trainer-included oracle (the substring
    * BPE family, the fertility report).
    */
  def trainSqlCtes(nMerges: Int): String = {
    def symList(w: String) =
      s"string_split(substr($w, 2, len($w) - 2), chr(2) || chr(1))"
    val head =
      """wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '),
        |      x -> x <> '')) AS word
        |    FROM documents) GROUP BY word),
        |s0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    array_to_string(list_transform(range(1, len(word) + 1),
        |      i -> chr(1) || substr(word, i, 1) ||
        |        CASE WHEN i = len(word) THEN '</w>' ELSE '' END ||
        |        chr(2)), '') AS wrapped
        |  FROM wf)""".stripMargin
    val rounds = (1 to nMerges).map { k =>
      s"""pc$k AS (
         |  SELECT p.l AS l, p.r AS r, sum(freq) AS n FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(sy)),
         |      i -> {'l': sy[i], 'r': sy[i+1]})) AS p
         |    FROM (SELECT freq, ${symList("wrapped")} AS sy
         |          FROM s${k - 1}))
         |  GROUP BY p.l, p.r),
         |b$k AS (SELECT l, r FROM pc$k ORDER BY n DESC, l, r LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(wrapped,
         |      chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
         |      chr(1) || b.l || b.r || chr(2)) AS wrapped
         |  FROM s${k - 1}, b$k b)""".stripMargin
    }.mkString(",\n")
    val v =
      s"""v AS (SELECT word, ${symList("wrapped")} AS sy
         |       FROM s$nMerges)""".stripMargin
    Seq(head, rounds, v).filter(_.nonEmpty).mkString(",\n")
  }

  /** Tokenizer fertility report per (lang, source) — the
    * tokens-per-word / chars-per-token table a pretraining team reads
    * before fixing domain mixture weights (a tokenizer that fragments
    * one language inflates its token budget): n_words, n_chars,
    * n_syms, syms_per_word, chars_per_sym under the corpus-trained
    * merge table. One token explode + one vocabulary-sized join + one
    * group-sized aggregate; documents are never re-folded.
    */
  def fertility(s: SparkSession, d: String, nMerges: Int = 16)
      : DataFrame =
    fertilityAgg(docTokenStats(groupDocs(s, d), learn(s, d, nMerges)._2))

  /** [[fertility]] from the PERSISTED frozen model ([[writeModel]]'s
    * merge table): the rank-order replay reproduces the training
    * encode exactly, so with apply corpus == train corpus the report
    * equals the inline one and shares its full trainer-included
    * oracle — no goldens anywhere in the family row.
    */
  def fertilityFromModel(s: SparkSession, d: String,
      modelDir: String): DataFrame = {
    val docs = groupDocs(s, d)
    val tokens = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
    fertilityAgg(docTokenStats(docs,
      encodeVocabUnder(tokens, readMerges(s, modelDir))))
  }

  private def groupDocs(s: SparkSession, d: String): DataFrame =
    Tables.parallelized(Tables.documents(s, d))
      .select(col("lang"), col("source"), col("text"))

  private def fertilityAgg(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy(col("lang"), col("source"))
      .agg(
        sum(col("n_words")).cast("long").as("n_words"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(col("n_syms")).cast("long").as("n_syms"))
      .select(col("lang"), col("source"), col("n_words"),
        col("n_chars"), col("n_syms"),
        r4(col("n_syms").cast("double") / col("n_words"))
          .as("syms_per_word"),
        r4(col("n_chars").cast("double") / col("n_syms"))
          .as("chars_per_sym"))

  /** [[fertility]] recomputed end-to-end in DuckDB — trainer included
    * ([[trainSqlCtes]]), no pinned constants: a drift in either
    * trainer or either greedy fold fails this gate too.
    */
  def fertilityOracleSql(nMerges: Int = 16): String =
    s"""WITH ${trainSqlCtes(nMerges)},
       |dw AS (
       |  SELECT lang, source,
       |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS word
       |  FROM documents),
       |j AS (
       |  SELECT lang, source, len(word) AS nc, len(sy) AS ns
       |  FROM dw JOIN v USING (word))
       |SELECT lang, source,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(nc) AS BIGINT) AS n_chars,
       |  CAST(sum(ns) AS BIGINT) AS n_syms,
       |  round(sum(ns) * 1.0 / count(*) + 1e-9, 4) AS syms_per_word,
       |  round(sum(nc) * 1.0 / sum(ns) + 1e-9, 4) AS chars_per_sym
       |FROM j GROUP BY lang, source""".stripMargin

  /** Corpus-level encode statistics after `nMerges` learned merges:
    * one row (n_docs, n_tokens, n_chars, n_syms, compression 4 dp).
    * `n_chars` is raw token characters (marker excluded) — the
    * concatenation invariant ties it to the symbol table
    * cross-engine; `n_syms`/`compression` are merge-dependent and
    * golden-pinned.
    */
  def encodeStats(s: SparkSession, d: String, nMerges: Int = 16)
      : DataFrame =
    statsAgg(docTokenStats(
      Tables.parallelized(Tables.documents(s, d))
        .select(col("doc_id"), col("text")),
      learn(s, d, nMerges)._2))
}
