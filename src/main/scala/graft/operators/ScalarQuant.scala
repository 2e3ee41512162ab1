package graft.operators

import graft.Tables
import graft.functions.Fns._
import graft.functions.FusedCosineSimilarity.fusedCosine
import graft.functions.FusedInt8Cosine.fusedInt8Cosine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Int8 scalar quantization — the WARM storage tier of the embedding
  * stack, between the raw float vectors (4 bytes/dim, exact) and the
  * IVF-PQ codes (sub-byte/dim, lossy ADC): one signed byte per
  * dimension plus one per-vector scale, a ~3.9× shrink at dim=64 that
  * keeps enough precision for the quantized shortlist to recover the
  * EXACT brute-force ranking after re-rank (q_ann_int8 answers
  * q_ann_brute's full cross-engine oracle — unlike the PQ tier, whose
  * k-means codebooks force pinned goldens).
  *
  * Quantizer (closed-form, so DuckDB recomputes it bit-for-bit):
  * per-vector `scale = max|x_i| / 127` (1.0 for a zero vector), and
  * `code_i = clamp(floor(x_i / scale + 0.5), -127, 127)` — explicit
  * floor(+0.5) half-up rounding rather than engine `round()`, whose
  * tie semantics differ across engines. Codes are ARRAY<TINYINT>:
  * 1 byte/element in Tungsten rows, INT(8)-annotated dictionary-coded
  * pages in parquet.
  *
  * Serve shape (the scale story): the shortlist pass scans ONLY the
  * codes table — a quarter of the raw bytes — scoring with the fused
  * int8 codegen kernel ([[graft.functions.FusedInt8Cosine]]; the
  * uniform per-vector scale cancels out of cosine, so ranking never
  * reads the scale column and parquet prunes it). The bounded TopK
  * aggregator partial-aggregates map-side (≤ refine rows per query per
  * partition in the exchange, never the corpus), and the exact re-rank
  * broadcasts the tiny shortlist against the raw-vector store — one
  * fetch scan, no corpus shuffle, exactly the PQ refine pattern
  * ([[Similarity]] rankAndRefinePq).
  */
object ScalarQuant {

  /** Closed-form int8 quantization of an ARRAY<FLOAT> column:
    * (scale DOUBLE, codes ARRAY<TINYINT>). Built-in higher-order
    * functions only — one codegen'd pass for the max-abs, one for the
    * codes.
    */
  def quantized(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val maxabs = aggregate(col(vecCol), lit(0.0d),
      (acc, x) => greatest(acc, abs(x.cast("double"))))
    val scale = when(col("maxabs") === 0.0d, lit(1.0d))
      .otherwise(col("maxabs") / lit(127.0d))
    emb.withColumn("maxabs", maxabs)
      .withColumn("scale", scale)
      .withColumn("codes", transform(col(vecCol),
        x => greatest(lit(-127L), least(lit(127L),
          floor(x.cast("double") / col("scale") + lit(0.5d))))
          .cast("tinyint")))
      .drop("maxabs", vecCol)
  }

  /** Persist the quantized tier for `d`'s embeddings table:
    * `indexDir/codes` rows (vec_id, scale, codes). `assignOnly`
    * restricts which vectors are INDEXED (the rest arrive later via
    * [[sqAppendBatch]]); unlike the IVF tiers there is no geometry to
    * freeze — the quantizer is per-vector closed-form — so a grown
    * index is EXACTLY a one-shot build, not an approximation of one.
    */
  def sqWriteIndex(s: SparkSession, d: String, indexDir: String,
      assignOnly: Option[Column] = None): Unit = {
    val emb = Tables.embeddings(s, d)
    quantized(assignOnly.map(emb.filter).getOrElse(emb)
      .select("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** Per-arrival growth: quantize `newEmb` into a batch dir; work
    * scales with the batch, never the corpus. Exactly-once under
    * retries: the batch dir is overwritten whole, keyed by `batchId`.
    */
  def sqAppendBatch(s: SparkSession, indexDir: String, newEmb: DataFrame,
      batchId: Long): Unit =
    quantized(newEmb.select("vec_id", "embedding"))
      .write.mode("overwrite")
      .parquet(s"$indexDir/codes_batches/batch=$batchId")

  /** Admin-cadence promotion: fold committed batch dirs back into the
    * base codes table and retire them — the serve plan returns to one
    * scan, no union ([[IndexTable.promote]]).
    */
  def promoteBatches(s: SparkSession, indexDir: String): Unit =
    IndexTable.promote(s, indexDir, Seq("codes"))(at =>
      readCodes(s, indexDir).write.mode("overwrite").parquet(at("codes")))

  /** Logical delete (the GDPR-erasure path): the vec_ids land in a
    * tombstone batch; every serve anti-joins them out until
    * [[compactDeletes]] folds the deletions into a fresh base. Work
    * scales with the request, never the index. Caller's invariant:
    * ids are index-resident (erasure requests name stored vectors).
    */
  def sqDeleteIds(s: SparkSession, indexDir: String, ids: DataFrame,
      batchId: Long): Unit =
    Tombstones.append(s, indexDir, ids.select(col("vec_id")), batchId)

  /** Admin-cadence close-out of the delete path: rewrite the base
    * codes table without the tombstoned rows (committed append batches
    * fold in too — [[readCodes]] is the single definition of the live
    * row set), then retire batch dirs and tombstones — the serve
    * returns to the minimal one-scan, no-anti-join plan
    * ([[IndexTable.compact]]).
    */
  def compactDeletes(s: SparkSession, indexDir: String): Unit =
    IndexTable.compact(s, indexDir, Seq("codes"))(at =>
      readCodes(s, indexDir).write.mode("overwrite").parquet(at("codes")))

  /** The live codes: base ∪ committed append batches − tombstoned
    * vec_ids ([[IndexTable.live]]). */
  private def readCodes(s: SparkSession, indexDir: String): DataFrame =
    IndexTable.live(s, indexDir, "codes", "vec_id")

  /** Decode audit: the persisted codes exploded back to
    * (vec_id, dim, code) rows — 1-based dim to match SQL lambda
    * indexing. The driver oracle recomputes every code from the raw
    * embeddings in DuckDB, pinning the quantizer formula AND the
    * tinyint parquet round-trip cross-engine.
    */
  def codesAudit(s: SparkSession, indexDir: String): DataFrame =
    s.read.parquet(s"$indexDir/codes")
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
        col("col").cast("int").as("code"))

  /** Inline quantize + serve: brute-force over int8 codes, exact
    * re-rank. Same probe convention as [[Similarity.bruteForceTopK]]
    * (queries = vec_id < nQueries, self excluded), same output schema
    * — and the same oracle, which equality-pins shortlist recall 1.0.
    */
  def sqTopK(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10, refine: Int = 50): DataFrame = {
    val emb = Tables.embeddings(s, d)
    serve(s, quantized(emb.select("vec_id", "embedding")),
      emb.filter(col("vec_id") < nQueries), k, refine, emb)
  }

  /** Serve from the persisted codes table ([[sqWriteIndex]]);
    * `refineFrom` is the raw-vector store (the lake's embeddings
    * table — the cold tier the shortlist fetch goes back to).
    */
  def sqTopKFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, refineFrom: => DataFrame, k: Int = 10,
      refine: Int = 50): DataFrame =
    serve(s, readCodes(s, indexDir), queries, k, refine, refineFrom)

  private def serve(s: SparkSession, codes: DataFrame, queries: DataFrame,
      k: Int, refine: Int, refineFrom: => DataFrame): DataFrame = {
    import s.implicits._
    val qs = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // shortlist pass: codes-only scan (scale column pruned), fused
    // int8 kernel, bounded map-side top-k per query
    val adc = codes
      .join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fusedInt8Cosine(col("codes"), col("q")).as("sim"))
    val shortlist = adc.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new Sampling.TopKByScoreAgg[Long](math.max(refine, k))
        .toColumn.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), explode(col("topk")).as("cand"))
      .select(col("query_id"), col("cand._1").as("vec_id"))
      .join(qs, "query_id") // tiny × tiny: re-attach the query vector
    rerankFetch(s, shortlist, refineFrom, k)
  }

  /** The exact re-rank every quantized tier shares (int8, bit, and
    * the PQ refine shape): fetch the shortlisted raw vectors and
    * re-score with full-precision cosine. The shortlist is bounded
    * (≤ refine·|queries| rows — the frame the plan broadcasts anyway),
    * so it materializes ONCE here and serves double duty:
    *  - its vec_id set pushes INTO the raw-store scan as an In filter
    *    (`PushedFilters: In(vec_id, …)`), so with the store
    *    vec_id-clustered (the [[graft.sources.Layout]] sort/Z-order
    *    machinery) parquet row-group stats skip everything outside the
    *    shortlist — the fetch reads ~(shortlist/corpus) of the cold
    *    tier instead of scanning 100 TB to re-rank k·queries rows
    *    (COMPARE.md probe);
    *  - the broadcast side rebuilds from the same collected rows, so
    *    the shortlist subtree runs exactly once, not once per consumer.
    * The collect is the documented bounded class (q_coreset's);
    * row values are identical to the scan-everything plan — only
    * bytes-read changes, so every serve keeps its oracle.
    */
  private[operators] def rerankFetch(s: SparkSession,
      shortlist: DataFrame, refineFrom: DataFrame, k: Int): DataFrame = {
    val rows = shortlist.collect()
    val vecIdx = shortlist.schema.fieldIndex("vec_id")
    val ids = rows.map(_.getLong(vecIdx)).distinct.toSeq
    val local = broadcast(s.createDataFrame(
      java.util.Arrays.asList(rows: _*), shortlist.schema))
    val fetched = refineFrom.select(col("vec_id"), col("embedding"))
      .filter(
        if (ids.isEmpty) lit(false) else col("vec_id").isin(ids: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    fetched.join(local, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        fusedCosine(col("q"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), r4(col("sim")).as("sim"),
        col("rk"))
  }
}
