package graft

import graft.operators.Similarity
import graft.functions.FusedCosineSimilarity.fusedCosine
import graft.functions.PqOps.{pqEncode, pqScore}
import org.apache.spark.sql.functions._

/** IVF-PQ contracts: ADC scoring is bit-identical to fused cosine of
  * the composed reconstruction, the fits are deterministic, the
  * persisted index round-trips bit-for-bit, codegen survives the
  * production ksub=256 geometry, and recall holds against brute force.
  */
class PqSpec extends SparkSuite {
  import spark.implicits._

  private lazy val dir001 = sf("sf0.001")
  private lazy val dir01 = sf("sf0.01")

  test("PqScore == fused cosine of the reconstruction, bit-for-bit") {
    val emb = Tables.embeddings(spark, dir001)
    val codebooks = Similarity.fitPqCodebooks(emb, m = 8, ksub = 16)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val scored = emb.select(col("vec_id"),
        pqEncode(col("embedding"), codebooks).as("codes"),
        pqScore(typedLit(q), pqEncode(col("embedding"), codebooks),
          codebooks).as("adc"))
      .collect()
    assert(scored.length === 500)
    // reference: FusedCosineSimilarity's exact arithmetic (sequential
    // double accumulation in element order) over the reconstruction
    scored.foreach { r =>
      val codes = r.getAs[Array[Byte]](1)
      val recon = codes.zipWithIndex.flatMap { case (b, j) =>
        codebooks(j)(b & 0xFF)
      }
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < 64) {
        val xi = q(i).toDouble
        val yi = recon(i).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      val want = dot / (math.sqrt(na) * math.sqrt(nb))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(want),
        s"vec ${r.getLong(0)}: adc ${r.getDouble(2)} != $want")
    }
  }

  test("PqEncode: codes in range, deterministic, null on dim mismatch") {
    val emb = Tables.embeddings(spark, dir001)
    val codebooks = Similarity.fitPqCodebooks(emb, m = 8, ksub = 16)
    val codes = emb.select(pqEncode(col("embedding"), codebooks)
      .as("codes")).collect().map(_.getAs[Array[Byte]](0))
    assert(codes.length === 500)
    codes.foreach { c =>
      assert(c.length === 8)
      c.foreach(b => assert((b & 0xFF) < 16))
    }
    val again = emb.select(pqEncode(col("embedding"), codebooks)
      .as("codes")).collect().map(_.getAs[Array[Byte]](0))
    assert(codes.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
    // wrong input dimension → null, not garbage
    val bad = Seq(Seq(1f, 2f, 3f)).toDF("embedding")
      .select(pqEncode(col("embedding"), codebooks).as("codes"))
      .collect()
    assert(bad.head.isNullAt(0))
  }

  test("inline vs persisted-index serve: bit-identical, both ranking modes") {
    val idx = tmpDir("pq_idx")
    Similarity.ivfPqWriteIndex(spark, dir001, idx)
    val queries = Tables.embeddings(spark, dir001)
      .filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4))
    // pure ADC
    assert(canon(Similarity.ivfPqTopK(spark, dir001, refine = 0)) ===
      canon(Similarity.ivfPqTopKFromIndex(spark, idx, queries)))
    // refined (two-tier): raw store = the embeddings table
    assert(canon(Similarity.ivfPqTopK(spark, dir001, refine = 50)) ===
      canon(Similarity.ivfPqTopKFromIndex(spark, idx, queries,
        refine = 50,
        refineFrom = Some(Tables.embeddings(spark, dir001)))))
  }

  test("ivfPqAppendBatch under the frozen model: grown codes serve " +
    "bit-identical to the one-shot build, idempotent, compactable") {
    // fit-once-on-history for BOTH models (coarse centroids and PQ
    // codebooks): encode 80% at build, batch-encode the held-out 20% —
    // cell and code are pure functions of (embedding, frozen model),
    // so the grown codes table must serve the one-shot ranking
    val full = tmpDir("pq_full")
    val grown = tmpDir("pq_grown")
    Similarity.ivfPqWriteIndex(spark, dir001, full)
    Similarity.ivfPqWriteIndex(spark, dir001, grown,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    val heldOut = Tables.embeddings(spark, dir001)
      .filter(col("vec_id") % 5 === 4)
    Similarity.ivfPqAppendBatch(spark, grown,
      heldOut.filter(col("vec_id") % 2 === 0), batchId = 1L)
    Similarity.ivfPqAppendBatch(spark, grown,
      heldOut.filter(col("vec_id") % 2 =!= 0), batchId = 2L)
    val queries = Tables.embeddings(spark, dir001)
      .filter(col("vec_id") < 5)
    def serve(dir: String): Seq[(Long, Long, Double, Int)] =
      Similarity.ivfPqTopKFromIndex(spark, dir, queries, refine = 50,
          refineFrom = Some(Tables.embeddings(spark, dir001)))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4)).toSeq
    val oneShot = serve(full)
    assert(serve(grown) === oneShot)
    // retried batch replaces its own partitions (exactly-once)
    Similarity.ivfPqAppendBatch(spark, grown,
      heldOut.filter(col("vec_id") % 2 =!= 0), batchId = 2L)
    assert(serve(grown) === oneShot)
    // compaction folds the batch dirs; the served ranking is unchanged
    Similarity.compactIvfAppends(spark, grown, upToBatch = 2L,
      table = "codes_batches")
    val dirs = new java.io.File(s"$grown/codes_batches").listFiles()
      .toSeq.map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(dirs === Seq("batch=2"))
    assert(serve(grown) === oneShot)
  }

  test("refitIvfPqIndex: re-fit + re-encode from the raw store " +
    "reproduces the one-shot model bit-for-bit and retires batches") {
    val full = tmpDir("pq_refit_full")
    val grown = tmpDir("pq_refit_grown")
    Similarity.ivfPqWriteIndex(spark, dir001, full)
    Similarity.ivfPqWriteIndex(spark, dir001, grown,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    Similarity.ivfPqAppendBatch(spark, grown,
      Tables.embeddings(spark, dir001).filter(col("vec_id") % 5 === 4),
      batchId = 1L)
    Similarity.refitIvfPqIndex(spark, grown,
      Tables.embeddings(spark, dir001))
    // batches retired; deterministic fits over the full raw store
    // rebuild the one-shot model, so codes AND serve agree exactly
    assert(!new java.io.File(s"$grown/codes_batches").exists())
    def table(dir: String, t: String): Set[String] =
      spark.read.parquet(s"$dir/$t").collect().map(_.toString).toSet
    assert(table(grown, "centroids") === table(full, "centroids"))
    assert(table(grown, "codebooks") === table(full, "codebooks"))
    def codes(dir: String): Set[String] =
      spark.read.parquet(s"$dir/codes")
        .select(col("vec_id"), col("cell"), base64(col("codes")))
        .collect().map(_.toString).toSet
    assert(codes(grown) === codes(full))
    val queries = Tables.embeddings(spark, dir001)
      .filter(col("vec_id") < 5)
    def serve(dir: String): Seq[String] =
      Similarity.ivfPqTopKFromIndex(spark, dir, queries, refine = 50,
          refineFrom = Some(Tables.embeddings(spark, dir001)))
        .collect().map(_.toString).sorted.toSeq
    assert(serve(grown) === serve(full))
  }

  test("PQ codegen survives the production ksub=256 geometry") {
    import org.apache.spark.sql.execution.debug._
    val codebooks: Array[Array[Array[Float]]] =
      Array.tabulate(8, 256, 8) { (j, c, t) =>
        ((j * 131 + c * 31 + t * 7) % 17 - 8) / 8f
      }
    val df = spark.range(200).select(
        transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(col("id"), i), lit(1000)).cast("double") / 500.0)
            - 1.0).cast("float")).as("v"))
      .select(col("v"), pqEncode(col("v"), codebooks).as("codes"))
      .select(pqScore(col("v"), col("codes"), codebooks).as("sim"))
    val stats = codegenStringSeq(df.queryExecution.executedPlan)
    assert(stats.nonEmpty)
    stats.foreach { case (_, _, s) =>
      assert(s.maxMethodCodeSize < 16000,
        s"generated method ${s.maxMethodCodeSize} bytes — too close to " +
          "the 65535 whole-stage fallback threshold")
    }
    val rows = df.collect()
    assert(rows.length === 200)
    // self-reconstruction of a quantized vector correlates positively
    rows.foreach(r => assert(r.getDouble(0) > 0.0))
  }

  test("sharded 1-shard degeneracy: bit-identical to the unsharded tier") {
    // same sample, same fits, same probes, same scores — the sharded
    // pipeline with nShards=1 IS ivfPqTopK, both ranking modes
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4))
    assert(canon(Similarity.ivfPqTopKSharded(spark, dir001,
        nShards = 1, refine = 0)) ===
      canon(Similarity.ivfPqTopK(spark, dir001, refine = 0)))
    assert(canon(Similarity.ivfPqTopKSharded(spark, dir001,
        nShards = 1, refine = 50)) ===
      canon(Similarity.ivfPqTopK(spark, dir001, refine = 50)))
  }

  test("sharded inline vs persisted-index serve: bit-identical") {
    val idx = tmpDir("pq_sharded_idx")
    Similarity.ivfPqWriteIndexSharded(spark, dir001, idx, nShards = 2)
    val queries = Tables.embeddings(spark, dir001)
      .filter(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4))
    // pure ADC
    assert(canon(Similarity.ivfPqTopKSharded(spark, dir001,
        nShards = 2, refine = 0)) ===
      canon(Similarity.ivfPqTopKShardedFromIndex(spark, idx, queries)))
    // refined two-tier against the raw store
    assert(canon(Similarity.ivfPqTopKSharded(spark, dir001,
        nShards = 2, refine = 50)) ===
      canon(Similarity.ivfPqTopKShardedFromIndex(spark, idx, queries,
        refine = 50,
        refineFrom = Some(Tables.embeddings(spark, dir001)))))
  }

  test("sf0.1 serve-path golden: the persisted two-tier ranking pins " +
    "at a SECOND scale (5k vectors, 20-cell geometry)") {
    // every other golden pins at sf0.01 only — a scale-dependent serve
    // drift (probe planning, partition pruning, geometry derivation)
    // would pass that gate; this pins the PQ serve tier at sf0.1
    val dirSf01 = sf("sf0.1")
    val idx = tmpDir("pq_idx_sf01")
    Similarity.ivfPqWriteIndex(spark, dirSf01, idx)
    val got = Similarity.ivfPqTopKFromIndex(spark, idx,
        Tables.embeddings(spark, dirSf01).filter(col("vec_id") < 5),
        refine = 100,
        refineFrom = Some(Tables.embeddings(spark, dirSf01)))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).sortBy(t => (t._1, t._4))
    val want = Seq(
      (0,1204,0.4065,1),(0,291,0.3919,2),(0,1020,0.376,3),
      (0,510,0.3445,4),(0,1511,0.3288,5),(0,1978,0.3192,6),
      (0,1407,0.3191,7),(0,142,0.3113,8),(0,794,0.3108,9),
      (0,1841,0.3099,10),(1,1175,0.3703,1),(1,1580,0.3668,2),
      (1,260,0.3467,3),(1,1843,0.3399,4),(1,173,0.3109,5),
      (1,986,0.3064,6),(1,134,0.3064,7),(1,810,0.3064,8),
      (1,1711,0.3028,9),(1,1594,0.2969,10),(2,1303,0.394,1),
      (2,1053,0.356,2),(2,1912,0.3519,3),(2,798,0.35,4),
      (2,990,0.3337,5),(2,123,0.3172,6),(2,1196,0.3168,7),
      (2,315,0.3117,8),(2,1405,0.3116,9),(2,461,0.3015,10),
      (3,263,0.398,1),(3,1701,0.388,2),(3,720,0.3656,3),
      (3,859,0.3628,4),(3,1542,0.3242,5),(3,1567,0.3113,6),
      (3,1617,0.3028,7),(3,965,0.3024,8),(3,1062,0.3012,9),
      (3,777,0.2984,10),(4,524,0.4191,1),(4,1166,0.3787,2),
      (4,995,0.3589,3),(4,1653,0.3373,4),(4,825,0.3367,5),
      (4,1645,0.3266,6),(4,913,0.3195,7),(4,1423,0.3161,8),
      (4,174,0.3114,9),(4,381,0.3065,10))
      .map(t => (t._1.toLong, t._2.toLong, t._3, t._4))
    assert(got.toSeq === want)
  }

  test("recall vs brute force: refined two-tier holds the family floor") {
    val brute = Similarity.bruteForceTopK(spark, dir01, nQueries = 5,
      k = 10).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.ivfPqTopK(spark, dir01, refine = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.ivfPqTopK(spark, dir01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adcRecall = (brute & adc).size.toDouble / brute.size
    val refinedRecall = (brute & refined).size.toDouble / brute.size
    info(f"sf0.01 recall@10 over 5 queries: adc=$adcRecall%.2f " +
      f"refined(100)=$refinedRecall%.2f")
    // ADC ranks from 16-byte codes alone — information-bounded on the
    // near-isotropic test embeddings; the two-tier refine must recover
    // the uncompressed family floor (r16 geometry sweep: 0.90, the
    // plain-IVF probe ceiling, at the m=16/ksub=16/refine=100 defaults)
    AccuracyLedger.assertAtLeast("ann_ivfpq_refined_recall_at_10",
      refinedRecall, 0.75)
    assert(refinedRecall >= adcRecall,
      "exact re-rank must not lose recall vs its own shortlist")
    // the sharded compressed tier at the registry geometry
    // (nShards=2, refine=150) must hold the same family floor
    val sharded = Similarity.ivfPqTopKSharded(spark, dir01,
        nShards = 2, refine = 150)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val shardedRecall = (brute & sharded).size.toDouble / brute.size
    info(f"sf0.01 sharded refined(150) recall@10: $shardedRecall%.2f")
    AccuracyLedger.assertAtLeast("ann_ivfpq_sharded_refined_recall_at_10",
      shardedRecall, 0.75)
  }
}
