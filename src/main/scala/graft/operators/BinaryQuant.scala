package graft.operators

import graft.Tables
import graft.functions.Fns._
import graft.functions.FusedCosineSimilarity.fusedCosine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary (1-bit sign) quantization — the COLD shortlist tier of the
  * embedding stack, below the int8 codes ([[ScalarQuant]]): one bit
  * per dimension packed into 64-bit words, a 32× shrink vs the raw
  * floats (dim=64 → a single BIGINT per vector) that turns the
  * shortlist scan into XOR + popcount over machine words. The
  * production pattern (bit vectors + Hamming shortlist + exact
  * re-rank) is what vector stores ship as "binary quantization"; at
  * 100 TB the bit table for a 10^10 × 768-dim corpus is ~1 TB — small
  * enough to keep hot while the raw floats stay cold.
  *
  * Quantizer (closed-form, so DuckDB recomputes every bit):
  * `bit_i = 1 if x_i >= 0 else 0`, packed little-endian into
  * `words[j] |= 1L << b` for dimension `j*64 + b`. No per-vector
  * state, no frozen geometry — like the int8 tier, a grown index is
  * EXACTLY a one-shot build.
  *
  * Serve shape: the shortlist pass scans ONLY the packed words
  * (bit-table bytes = dim/8 per vector), scoring
  * `hamming = Σ_j popcount(q_j XOR c_j)` with codegen'd built-ins
  * (`zip_with` + `bit_count`); the bounded TopK aggregator
  * partial-aggregates map-side (≤ refine rows per query per partition
  * in the exchange), and the exact re-rank broadcasts the tiny
  * shortlist against the raw-vector store — the [[ScalarQuant.serve]]
  * pattern one tier colder. Hamming over sign bits is a coarser proxy
  * than int8 dot products (65 distinct values at dim=64), so the
  * refine width is wider (default 288 vs int8's 50 — measured: the
  * worst true-top-10 member sits at Hamming rank 167 of 499 on the
  * sf0.01 verify corpus and 243 of 499 at sf0.001; 64 sign bits on a
  * 500-vector corpus is a blunt sieve — the tier's selectivity is a
  * dim/ln(N) story and its value shows at production dim and corpus
  * sizes, where refine/N shrinks by orders of magnitude). The registry
  * pins recall 1.0 at BOTH verify scales by answering q_ann_brute's
  * full oracle after the re-rank (ties inside the shortlist boundary
  * are broken by vec_id, deterministically).
  */
object BinaryQuant {

  /** Closed-form sign packing of an ARRAY<FLOAT> column:
    * `words ARRAY<BIGINT>`, word j carrying dimensions
    * [j*64, j*64+63] little-endian. Built-in higher-order functions
    * only — one codegen'd pass, no UDF.
    */
  def packed(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    // floor at one word: an empty/corrupt vector packs as [0L] rather
    // than hitting sequence(0, -1) — which Spark generates DESCENDING
    // as [0, -1], two phantom words that would null the Hamming
    // zip_with against real vectors and crash the typed serve path
    val nWords = greatest(
      (size(col(vecCol)) + lit(63)) / lit(64), lit(1))
    val words = transform(sequence(lit(0), nWords.cast("int") - 1), j =>
      aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) => {
        val idx = j * 64 + b // 0-based dimension
        val bit = call_function("shiftleft", lit(1L), b)
        when(idx < size(col(vecCol)) &&
          element_at(col(vecCol), (idx + 1).cast("int"))
            .cast("double") >= 0.0d,
          acc.bitwiseOR(bit)).otherwise(acc)
      }))
    emb.withColumn("words", words).drop(vecCol)
  }

  /** Hamming distance between two packed-word arrays — XOR + popcount
    * per word, summed. Codegen'd built-ins end-to-end.
    */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      bit_count(x.bitwiseXOR(y)).cast("long")), lit(0L), _ + _)

  /** Persist the bit tier for `d`'s embeddings: `indexDir/words` rows
    * (vec_id, words). `assignOnly` restricts which vectors are indexed
    * at build time (the rest arrive via [[bqAppendBatch]]); no
    * geometry to freeze, so grown == one-shot exactly.
    */
  def bqWriteIndex(s: SparkSession, d: String, indexDir: String,
      assignOnly: Option[Column] = None): Unit = {
    val emb = Tables.embeddings(s, d)
    packed(assignOnly.map(emb.filter).getOrElse(emb)
      .select("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$indexDir/words")
  }

  /** Per-arrival growth: pack `newEmb` into a batch dir; work scales
    * with the batch, never the corpus. Exactly-once under retries: the
    * batch dir is overwritten whole, keyed by `batchId`.
    */
  def bqAppendBatch(s: SparkSession, indexDir: String, newEmb: DataFrame,
      batchId: Long): Unit =
    packed(newEmb.select("vec_id", "embedding"))
      .write.mode("overwrite")
      .parquet(s"$indexDir/words_batches/batch=$batchId")

  /** Admin-cadence promotion: fold committed batch dirs back into the
    * base words table and retire them — the serve plan returns to one
    * scan ([[IndexTable.promote]]).
    */
  def promoteBatches(s: SparkSession, indexDir: String): Unit =
    IndexTable.promote(s, indexDir, Seq("words"))(at =>
      readWords(s, indexDir).write.mode("overwrite").parquet(at("words")))

  /** Logical delete (the GDPR-erasure path — [[ScalarQuant.sqDeleteIds]]
    * one tier colder): tombstoned vec_ids are anti-joined out of every
    * serve until [[compactDeletes]] folds them into a fresh base.
    */
  def bqDeleteIds(s: SparkSession, indexDir: String, ids: DataFrame,
      batchId: Long): Unit =
    Tombstones.append(s, indexDir, ids.select(col("vec_id")), batchId)

  /** Admin-cadence delete close-out: rewrite the base words table
    * without tombstoned rows (committed batches fold in — [[readWords]]
    * defines the live row set), retire batch dirs and tombstones
    * ([[IndexTable.compact]]).
    */
  def compactDeletes(s: SparkSession, indexDir: String): Unit =
    IndexTable.compact(s, indexDir, Seq("words"))(at =>
      readWords(s, indexDir).write.mode("overwrite").parquet(at("words")))

  /** The live words: base ∪ committed append batches − tombstoned
    * vec_ids ([[IndexTable.live]]). */
  private def readWords(s: SparkSession, indexDir: String): DataFrame =
    IndexTable.live(s, indexDir, "words", "vec_id")

  /** Bit audit: the persisted packed words exploded back to
    * (vec_id, dim, bit) rows — 1-based dim, unpacked with `getbit`.
    * The driver oracle recomputes every sign bit from the raw floats
    * in DuckDB, pinning the packing formula AND the BIGINT parquet
    * round-trip cross-engine (the [[ScalarQuant.codesAudit]] shape one
    * tier colder).
    */
  def bitsAudit(s: SparkSession, indexDir: String,
      dim: Int = 64): DataFrame =
    s.read.parquet(s"$indexDir/words")
      .select(col("vec_id"), posexplode(col("words")).as(Seq("wp", "word")))
      .select(col("vec_id"), col("wp"), col("word"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .filter(col("wp") * 64 + col("b") < dim) // trailing pad bits
      .select(col("vec_id"),
        (col("wp") * 64 + col("b") + 1).cast("int").as("dim"),
        getbit(col("word"), col("b")).cast("int").as("bit"))

  /** Inline pack + serve: Hamming shortlist over the bit tier, exact
    * re-rank. Same probe convention and output schema as
    * [[Similarity.bruteForceTopK]] — and the same oracle, which
    * equality-pins shortlist recall 1.0 at the registry's refine
    * width.
    */
  def bqTopK(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10, refine: Int = 288): DataFrame = {
    val emb = Tables.embeddings(s, d)
    serve(s, packed(emb.select("vec_id", "embedding")),
      emb.filter(col("vec_id") < nQueries), k, refine, emb)
  }

  /** Serve from the persisted bit table ([[bqWriteIndex]]);
    * `refineFrom` is the raw-vector store the shortlist fetch goes
    * back to.
    */
  def bqTopKFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, refineFrom: => DataFrame, k: Int = 10,
      refine: Int = 288): DataFrame =
    serve(s, readWords(s, indexDir), queries, k, refine, refineFrom)

  private def serve(s: SparkSession, words: DataFrame, queries: DataFrame,
      k: Int, refine: Int, refineFrom: => DataFrame): DataFrame = {
    import s.implicits._
    val qs = packed(queries
      .select(col("vec_id").as("query_id"), col("embedding")))
      .withColumnRenamed("words", "qw")
    // shortlist pass: bit-table-only scan, XOR+popcount kernel, bounded
    // map-side top-k per query (score = -hamming so the shared TopK
    // aggregator's score-DESC/id-ASC order yields hamming-ASC/id-ASC)
    val ham = words
      .join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        -hamming(col("qw"), col("words")).cast("double").as("score"))
    val shortlist = ham.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new Sampling.TopKByScoreAgg[Long](math.max(refine, k))
        .toColumn.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), explode(col("topk")).as("cand"))
      .select(col("query_id"), col("cand._1").as("vec_id"))
      .join(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q")), "query_id") // tiny × tiny
    // exact re-rank with the shortlist's vec_id set pushed into the
    // raw-store scan — the shared pruned fetch (see
    // [[ScalarQuant.rerankFetch]]'s scale note)
    ScalarQuant.rerankFetch(s, shortlist, refineFrom, k)
  }
}
