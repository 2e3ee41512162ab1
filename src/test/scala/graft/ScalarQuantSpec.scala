package graft

import graft.operators.{ScalarQuant, Similarity}
import graft.functions.FusedCosineSimilarity.fusedCosine
import graft.functions.FusedInt8Cosine.fusedInt8Cosine
import org.apache.spark.sql.functions._

/** The int8 scalar-quantized embedding tier: hand-computed quantizer
  * values (incl. the half-up rounding and zero-vector edge), exact
  * brute-force parity after re-rank, inline ≡ served parity through a
  * persisted codes table, and the scale-cancellation identity behind
  * the fused int8 kernel.
  */
class ScalarQuantSpec extends SparkSuite {
  import spark.implicits._

  private def plantEmb(rows: Seq[(Long, Array[Float], Int)]): String = {
    val dir = tmpDir("sq_emb")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("quantizer matches hand-computed codes, incl. edges") {
    val d = plantEmb(Seq(
      (0L, Array(1.0f, -0.5f, 0.0f, 0.254f), 0),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0)))
    val got = ScalarQuant.quantized(
      Tables.embeddings(spark, d).select("vec_id", "embedding"))
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Byte](2)))
    // scale = 1.0/127; codes: floor(x*127/maxabs + .5):
    //   1.0 -> 127; -0.5 -> floor(-63.0) = -63; 0 -> 0;
    //   0.254 -> floor(32.258 + .5) = 32
    assert(got(0)._1 === 0L)
    assert(math.abs(got(0)._2 - 1.0 / 127) < 1e-15)
    assert(got(0)._3 === Seq[Byte](127, -63, 0, 32))
    // zero vector: scale falls back to 1.0, codes all zero
    assert(got(1)._2 === 1.0)
    assert(got(1)._3 === Seq[Byte](0, 0, 0, 0))
  }

  test("fused int8 cosine equals the float cosine of the raw codes " +
      "(per-vector scale cancels)") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 20L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1), 0))
    val d = plantEmb(rows)
    val q = ScalarQuant.quantized(
      Tables.embeddings(spark, d).select("vec_id", "embedding"))
      .withColumn("codes_f", transform(col("codes"),
        c => c.cast("float")))
    val probe = rows.head._2
    val deltas = q.select(
      fusedInt8Cosine(col("codes"), typedLit(probe)).as("a"),
      fusedCosine(col("codes_f"), typedLit(probe)).as("b"))
      .collect().map(r => math.abs(r.getDouble(0) - r.getDouble(1)))
    assert(deltas.forall(_ === 0.0)) // same double accumulation
  }

  test("fused int8 cosine null contract: length mismatch and zero norm") {
    // Seq[Byte], not Array[Byte]: the latter encodes as BINARY
    val rows = Seq(
      (1L, Seq[Byte](1, 2, 3), Seq(1.0f, 2.0f)), // length mismatch
      (2L, Seq[Byte](0, 0), Seq(1.0f, 2.0f)), // zero-norm codes
      (3L, Seq[Byte](1, 2), Seq(0.0f, 0.0f)), // zero-norm query
      (4L, Seq[Byte](3, 4), Seq(3.0f, 4.0f))) // plain
    val got = rows.toDF("id", "c", "q")
      .select(col("id"), fusedInt8Cosine(col("c"), col("q")).as("sim"))
      .orderBy("id").collect()
    assert(got(0).isNullAt(1) && got(1).isNullAt(1) && got(2).isNullAt(1))
    assert(math.abs(got(3).getDouble(1) - 1.0) < 1e-12)
  }

  test("sqTopK recovers the exact brute-force ranking (sf0.001)") {
    val d = "/root/testdata/sf0.001"
    val brute = Similarity.bruteForceTopK(spark, d).collect().toSeq
    val sq = ScalarQuant.sqTopK(spark, d).collect().toSeq
    assert(sq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
      r.getInt(3))).sortBy(r => (r._1, r._4)) ===
      brute.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).sortBy(r => (r._1, r._4)))
  }

  test("served codes table reproduces the inline ranking and codes " +
      "audit round-trips the quantizer") {
    val d = "/root/testdata/sf0.001"
    val idx = tmpDir("sq_idx")
    ScalarQuant.sqWriteIndex(spark, d, idx)
    val emb = Tables.embeddings(spark, d)
    val inline = ScalarQuant.sqTopK(spark, d).collect().toSeq
    val served = ScalarQuant.sqTopKFromIndex(spark, idx,
      emb.filter(col("vec_id") < 5), emb).collect().toSeq
    assert(served.map(_.toSeq).sortBy(_.toString) ===
      inline.map(_.toSeq).sortBy(_.toString))
    // every persisted code equals an in-memory requantization
    val fresh = ScalarQuant.quantized(emb.select("vec_id", "embedding"))
      .select(col("vec_id"), posexplode(col("codes")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("dim"),
        col("col").cast("int").as("code"))
    val audit = ScalarQuant.codesAudit(spark, idx)
    assert(audit.exceptAll(fresh).isEmpty && fresh.exceptAll(audit).isEmpty)
  }

  test("fused_int8_cosine is SQL-callable") {
    graft.functions.FusedInt8Cosine.register(spark)
    val r = spark.sql(
      "SELECT fused_int8_cosine(" +
        "array(cast(3 as tinyint), cast(4 as tinyint)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS s")
      .collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("delete lifecycle: tombstoned vectors vanish from the serve " +
      "(exactly the survivors' from-scratch ranking) and compaction " +
      "folds them into a fresh base") {
    val d = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, d)
    // ground truth: a from-scratch index over the survivors only
    val ref = tmpDir("sq_del_ref")
    ScalarQuant.sqWriteIndex(spark, d, ref,
      assignOnly = Some(col("vec_id") % 7 =!= 6))
    def rows(dir: String) = ScalarQuant.sqTopKFromIndex(spark, dir,
      emb.filter(col("vec_id") < 5), emb).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    val want = rows(ref)
    // non-vacuous: some deleted id ranks in the FULL index's top-k,
    // so the restriction must actually change the answer
    assert(ScalarQuant.sqTopK(spark, d).collect()
      .exists(_.getLong(1) % 7 == 6))
    // lifecycle-real: 80% base + committed batch + tombstones at once
    val idx = tmpDir("sq_del")
    ScalarQuant.sqWriteIndex(spark, d, idx,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    ScalarQuant.sqAppendBatch(spark, idx,
      emb.filter(col("vec_id") % 5 === 4), batchId = 1L)
    ScalarQuant.sqDeleteIds(spark, idx,
      emb.filter(col("vec_id") % 7 === 6).select("vec_id"), batchId = 1L)
    assert(rows(idx) === want)
    ScalarQuant.compactDeletes(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/codes_batches")))
    assert(rows(idx) === want)
    ScalarQuant.compactDeletes(spark, idx) // idempotent no-op
    assert(rows(idx) === want)
    assert(spark.read.parquet(s"$idx/codes").count()
      === emb.filter(col("vec_id") % 7 =!= 6).count())
  }

  test("append + promote lifecycle serves the one-shot ranking at " +
      "every stage, and promotion is re-run idempotent") {
    val d = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, d)
    val oneShot = ScalarQuant.sqTopK(spark, d).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    val idx = tmpDir("sq_lifecycle")
    ScalarQuant.sqWriteIndex(spark, d, idx,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    ScalarQuant.sqAppendBatch(spark, idx,
      emb.filter(col("vec_id") % 5 === 4), batchId = 1L)
    def served() = ScalarQuant.sqTopKFromIndex(spark, idx,
      emb.filter(col("vec_id") < 5), emb).collect()
      .map(_.toSeq).toSeq.sortBy(_.toString)
    assert(served() === oneShot) // grown
    ScalarQuant.promoteBatches(spark, idx)
    assert(served() === oneShot) // promoted: one-scan plan, same rows
    // batch dirs retired; a re-run is a no-op, not a double-count
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$idx/codes_batches")))
    ScalarQuant.promoteBatches(spark, idx)
    assert(served() === oneShot)
    assert(spark.read.parquet(s"$idx/codes").count() === emb.count())
  }
}
