package graft.operators

import graft.Tables
import graft.functions.Fns._
import graft.functions.FusedCosineSimilarity.fusedCosine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (`embedding:
  * Array[Float]`). Brute-force cosine top-k as the exact baseline, and
  * an LSH-bucketed (random-hyperplane) variant as the 100 TB scale path.
  *
  * Dot products use `zip_with` + `aggregate` column expressions —
  * sequential double accumulation, codegen'd, no UDFs. float×float is
  * exactly representable in double, so both the Spark expression and any
  * double-based oracle produce bit-identical sums for the same element
  * order.
  */
object Similarity {

  /** Sequential-order dot product of two float arrays, in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Composed built-in cosine — three array passes; kept as the
    * reference implementation the fused expression is tested against.
    * `try_divide` (not `/`) so a zero-norm vector yields null in every
    * SQL mode — under ANSI (Spark 4's default) a plain Divide would
    * throw DIVIDE_BY_ZERO on all-zero or empty embeddings, which is not
    * a useful semantics for a similarity score.
    */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), norm(a) * norm(b))

  /** Per-label embedding stats — count and mean L2 norm. */
  def labelStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        r4(avg(norm(col("embedding")))).as("avg_norm"))

  /** Embedding-space corpus hygiene: vectors whose L2 distance to the
    * corpus centroid clears the interpolated `p` quantile — the cheap
    * "corrupt or out-of-distribution embedding" scrub a vector lake
    * runs before indexing (a zeroed, clipped, or wrong-scale vector
    * lands in the far tail of the distance distribution, whatever its
    * direction — which is why this complements, not duplicates, the
    * cosine-based dedup/ANN family).
    *
    * Construction is JOB-FREE and the corpus never shuffles: the
    * centroid is ONE 64-value rounded aggregate row broadcast back
    * onto a narrow per-row distance pass (per-dim means round at 4 dp
    * — the cross-engine contract for order-sensitive float avgs, the
    * q_embedding_gram precedent), and the threshold is a second
    * one-row broadcast: the exact interpolated percentile of the
    * ROUNDED distances (swap `approx_percentile` at billion-row scale
    * exactly as the q_percentiles twins document). The per-row
    * distance folds left over dims — the same sequential-double order
    * the SQL oracle replays, so given identical rounded means the
    * distances are bit-identical before their own 4-dp round.
    */
  def embeddingOutliers(s: SparkSession, d: String, dim: Int = 64,
      p: Double = 0.99): DataFrame = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val meanRow = emb.agg(
      r4(avg(element_at(col("embedding"), 1).cast("double"))).as("m0"),
      (1 until dim).map(j =>
        r4(avg(element_at(col("embedding"), j + 1).cast("double")))
          .as(s"m$j")): _*)
    val dist = sqrt((0 until dim).map { j =>
      val diff = element_at(col("embedding"), j + 1).cast("double") -
        col(s"m$j")
      diff * diff
    }.reduce(_ + _))
    val dists = emb.crossJoin(broadcast(meanRow))
      .select(col("vec_id"), r4(dist).as("dist"))
    val thrRow = dists.agg(r4(percentile(col("dist"), lit(p))).as("thr"))
    dists.crossJoin(broadcast(thrRow))
      .filter(col("dist") > col("thr"))
      .select(col("vec_id"), col("dist"), col("thr"))
  }

  /** Brute-force cosine top-k: the query set is small (it is broadcast);
    * the corpus streams through once, each task keeps its own top-k via
    * the ranking window after a broadcast nested-loop join. Exact
    * baseline for recall measurement of the ANN variant.
    */
  def bruteForceTopK(s: SparkSession, d: String,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val sim = fusedCosine(col("q"), col("embedding"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), sim.as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), r4(col("sim")).as("sim"),
        col("rk"))
  }

  /** Filtered vector search, exact tier: each query retrieves its
    * top-k among corpus vectors carrying the SAME `label` — the
    * per-query metadata predicate every production vector store has
    * to answer ("search within my tenant/collection/language"), in
    * its pre-filtering form: the predicate is part of the join
    * condition, so non-qualifying pairs are never scored, never
    * ranked, and can never displace a qualifying vector (the
    * correctness trap of post-filtering a fixed-size candidate list).
    * Exactness makes this the recall oracle for [[filteredIvfTopK]].
    * Scale shape is [[bruteForceTopK]]'s: the query set broadcasts,
    * the corpus streams through once and its embeddings never enter
    * an exchange.
    */
  def filteredBruteTopK(s: SparkSession, d: String,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    emb.join(broadcast(queries), col("label") === col("q_label") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fusedCosine(col("q"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), r4(col("sim")).as("sim"),
        col("rk"))
  }

  /** Filtered vector search, index tier: [[ivfTopK]]'s geometry with
    * the metadata predicate COMPILED INTO the partition key — corpus
    * vectors are assigned to `(label, cell)` composites and the
    * scoring join keys on both, so a query only ever scans its own
    * label's slice of each probed cell. This is the IVF answer to the
    * filtered-ANN dilemma: post-filtering a top-k candidate list
    * starves under selective predicates (all k survivors can fail the
    * filter), while pre-filter-then-brute-force re-scans the whole
    * qualifying set; the composite key keeps the probe list geometric
    * (nProbe cells) AND makes selectivity SHRINK the scan, since each
    * (label, cell) partition holds only qualifying rows. At 100 TB
    * the assigned table is written once partitioned by the composite;
    * the per-query work is nProbe partition lookups regardless of how
    * many labels exist. Same candidate-uniqueness argument as
    * [[ivfTopK]]: Voronoi assignment × distinct probe cells ⇒ each
    * qualifying pair scored at most once, no dedup needed.
    */
  def filteredIvfTopK(s: SparkSession, d: String, nCells: Int = 0,
      nQueries: Int = 5, k: Int = 10, nProbe: Int = 0,
      sampleSize: Int = 2048): DataFrame = {
    import graft.functions.NearestCentroids.nearestCells
    val emb = Tables.embeddings(s, d)
    val cells = if (nCells > 0) nCells else cellsFor(emb.count())
    val probes = if (nProbe > 0) nProbe else filteredProbesFor(cells)
    val centroidMatrix: Array[Array[Float]] =
      fitCentroids(emb, cells, sampleSize)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      col("label"),
      element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
        .as("cell"))
    val queryProbes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label"),
        col("embedding").as("q"))
      .select(col("query_id"), col("label"), col("q"),
        explode(nearestCells(col("q"), centroidMatrix, probes))
          .as("cell"))
    scoreCandidates(assigned, queryProbes, Seq("label", "cell"), k)
  }

  /** Late-interaction (maxsim) retrieval: queries and documents are
    * SETS of vectors — ColBERT's scoring model, the multi-vector tier
    * between single-vector ANN and full cross-attention re-ranking.
    * `score(Q, D) = Σ_{q∈Q} max_{d∈D} cos(q, d)`: every query vector
    * finds its best match inside each candidate document
    * independently, so a document matching ALL the query's aspects
    * beats one matching a single aspect strongly — the behavior
    * single-vector pooling averages away. Vector sets are derived
    * deterministically from the embeddings table (`vec_id div
    * vecsPerDoc`), the same derived-view trick as q_semdedup, so the
    * oracle can rebuild them exactly.
    *
    * Scale shape: the query vectors broadcast (nQueryDocs ×
    * vecsPerDoc rows); the corpus streams through ONE broadcast join
    * scoring each (query vector, corpus vector) pair exactly once,
    * embeddings never enter an exchange. The maxsim reduction is two
    * narrow partial-aggregate shuffles — max per (query vector,
    * doc), then a decimal sum per (query, doc) — followed by the
    * top-k window on (query, score) rows only. Per-pair maxes are
    * bit-exact doubles (sequential fused dot), and the per-query sum
    * of ≤vecsPerDoc maxes accumulates in DECIMAL over 4-dp-rounded
    * terms, so ranking and score are engine- and order-independent.
    * At 100 TB the corpus side is IVF/LSH-prunable per query vector
    * (probe the cells of each q, union candidates) — the scoring and
    * reduction here are unchanged by that substitution.
    */
  def maxSimTopK(s: SparkSession, d: String, vecsPerDoc: Int = 4,
      nQueryDocs: Int = 3, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val vecs = emb.select(expr(s"vec_id div $vecsPerDoc").as("doc"),
      col("vec_id"), col("embedding"))
    val queries = vecs.filter(col("doc") < nQueryDocs)
      .select(col("doc").as("query_id"), col("vec_id").as("q_vec"),
        col("embedding").as("q"))
    val perQvec = vecs
      .join(broadcast(queries), col("doc") =!= col("query_id"))
      .select(col("query_id"), col("q_vec"), col("doc"),
        fusedCosine(col("q"), col("embedding")).as("sim"))
      .groupBy(col("query_id"), col("q_vec"), col("doc"))
      .agg(max(col("sim")).as("mx"))
    val scored = perQvec.groupBy(col("query_id"), col("doc"))
      .agg(sum(r4(col("mx")).cast("decimal(18,6)")).as("sdec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sdec").desc, col("doc"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc").as("doc_id"),
        col("sdec").cast("double").as("score"), col("rk"))
  }

  /** The scale path [[maxSimTopK]]'s scaladoc promises: IVF candidate
    * pruning per QUERY VECTOR with the maxsim reduction unchanged.
    * Corpus vectors are cell-assigned once; each query vector probes
    * its own nearest cells, and only (query vector, corpus vector)
    * pairs meeting in a probed cell are scored — the scoring join
    * drops from |corpus|×|Q| to the probed fraction, and everything
    * downstream (per-(q_vec, doc) max, decimal score sum, top-k
    * window) is byte-identical code. Approximation surface: a doc
    * vector outside every probed cell of some q contributes no max
    * term for that q (treated as 0 via the sum over present terms),
    * so scores are LOWER bounds — with exhaustive probing
    * (nProbe = cells) the candidate set is total and the result
    * equals [[maxSimTopK]] row-for-row (spec-pinned); recall at the
    * default probe width is ratcheted in the accuracy ledger.
    */
  def maxSimTopKPruned(s: SparkSession, d: String, vecsPerDoc: Int = 4,
      nQueryDocs: Int = 3, k: Int = 10, nCells: Int = 0,
      nProbe: Int = 0, sampleSize: Int = 2048): DataFrame = {
    import graft.functions.NearestCentroids.nearestCells
    val emb = Tables.embeddings(s, d)
    val cells = if (nCells > 0) nCells else cellsFor(emb.count())
    val probes = if (nProbe > 0) nProbe else filteredProbesFor(cells)
    val centroidMatrix: Array[Array[Float]] =
      fitCentroids(emb, cells, sampleSize)
    val vecs = emb.select(expr(s"vec_id div $vecsPerDoc").as("doc"),
      col("vec_id"), col("embedding"),
      element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
        .as("cell"))
    val queryProbes = vecs.filter(col("doc") < nQueryDocs)
      .select(col("doc").as("query_id"), col("vec_id").as("q_vec"),
        col("embedding").as("q"))
      .select(col("query_id"), col("q_vec"), col("q"),
        explode(nearestCells(col("q"), centroidMatrix, probes))
          .as("cell"))
    val perQvec = vecs
      .join(broadcast(queryProbes), Seq("cell"))
      .filter(col("doc") =!= col("query_id"))
      .groupBy(col("query_id"), col("q_vec"), col("doc"))
      .agg(max(fusedCosine(col("q"), col("embedding"))).as("mx"))
    val scored = perQvec.groupBy(col("query_id"), col("doc"))
      .agg(sum(r4(col("mx")).cast("decimal(18,6)")).as("sdec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sdec").desc, col("doc"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("doc").as("doc_id"),
        col("sdec").cast("double").as("score"), col("rk"))
  }

  /** Hard-negative mining for contrastive retrieval training: per
    * probe vector, the top-k most-SIMILAR vectors of a DIFFERENT
    * label (label standing in for the positive-pair relation) — high
    * cosine + wrong class is exactly the "hard" negative a dual
    * encoder needs, vs the uninformative random negatives uniform
    * sampling yields. Exhaustive driver-scale form (the q_ann_brute
    * baseline class: probes broadcast, corpus streams once, per-probe
    * windows); at corpus scale the candidates come from the IVF serve
    * shortlist ([[ivfTopKFromIndex]]) with the same label anti-filter
    * applied to shortlist rows — standard ANCE-style practice.
    */
  def hardNegatives(s: SparkSession, d: String, nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    emb.join(broadcast(queries), col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"),
        fusedCosine(col("q"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), r4(col("sim")).as("sim"),
        col("rk"))
  }

  /** Margin-based bitext mining (the LASER/CCMatrix parallel-pair
    * pattern): between two corpus sides (here the label halves of the
    * embeddings table standing in for two languages), emit pairs that
    * are MUTUAL top-1 cosine neighbors with a ratio-margin score —
    * `cos(x,y) / mean(topK cos of x, topK cos of y)` — above
    * `minMargin`. The margin denominator is what separates a genuine
    * translation pair from a hub vector that is everyone's neighbor.
    *
    * This is the exhaustive driver-scale form (one broadcast
    * nested-loop pass, the q_ann_brute baseline class, which is what
    * makes the full DuckDB oracle possible); at corpus scale the
    * candidate pairs come from the IVF/LSH serve shortlist
    * ([[ivfTopKFromIndex]]) and the same windows run over shortlist
    * rows — margins over approximate kNN are the standard practice.
    */
  def bitextMine(s: SparkSession, d: String, k: Int = 4,
      minMargin: Double = 1.0): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val a = emb.filter(col("label") < 5)
      .select(col("vec_id").as("a_id"), col("embedding").as("av"))
    val b = emb.filter(col("label") >= 5)
      .select(col("vec_id").as("b_id"), col("embedding").as("bv"))
    // materialized once: both per-side reductions below consume the
    // scored cross — without the cut each re-runs the a×b cosine pass
    val pairs = Dedup.lazyCheckpoint(a.join(broadcast(b))
      .select(col("a_id"), col("b_id"),
        fusedCosine(col("av"), col("bv")).as("sim")))
    // Per-side top-k via the bounded TopK aggregator instead of two
    // FULL-frame ranking windows (r17, guide §2.3 "aggregate before
    // you shuffle"): the window form exchanged and sorted every scored
    // pair TWICE (once per side) and then materialized the doubly
    // ranked frame — the suite's largest leftover checkpoint (107 MB)
    // — only to keep ≤k rows per id. The aggregator partial-aggregates
    // map-side, so each exchange carries k rows per id per partition,
    // never the cross; its (score DESC, id ASC) tie order is the same
    // contract the windows used, and rank 1 = element 0. knn mean =
    // sum/size over the k best — the same sum/count arithmetic avg()
    // performs, fenced by the same r4 rounding.
    def sideTop(keyCol: String, otherCol: String, bestName: String,
        simName: String, knnName: String): DataFrame =
      pairs.select(col(keyCol), col(otherCol), col("sim"))
        .as[(Long, Long, Double)]
        .groupByKey(_._1)
        .agg(new Sampling.TopKByScoreAgg[Long](k).toColumn.name("topk"))
        .toDF(keyCol, "topk")
        .select(col(keyCol),
          col("topk").getItem(0).getField("_1").as(bestName),
          col("topk").getItem(0).getField("_2").as(simName),
          (aggregate(col("topk"), lit(0.0d),
            (acc, x) => acc + x.getField("_2")) / size(col("topk")))
            .as(knnName))
    val ta = sideTop("a_id", "b_id", "best_b", "sim_a", "knn_a")
    val tb = sideTop("b_id", "a_id", "best_a", "sim_b", "knn_b")
    // mutual top-1: a's best is b AND b's best is a — a k·|side|-row
    // join on the reduced frames, never on the cross
    ta.join(broadcast(tb),
        col("best_b") === col("b_id") && col("best_a") === col("a_id"))
      .select(col("a_id"), col("b_id"), r4(col("sim_a")).as("sim"),
        r4(col("sim_a") / ((col("knn_a") + col("knn_b")) / 2.0))
          .as("margin"))
      .filter(col("margin") > minMargin)
  }

  /** Binary nDCG@k per query: how close `approx`'s ranking sits to
    * the `truth` membership set. Gain 1 for every approx row whose
    * (query_id, vec_id) appears anywhere in truth, discounted by
    * log2(rank+1); normalized by the ideal DCG of k straight hits and
    * rounded to 6 dp (membership is an exact id join and the IDCG
    * constant is injected identically into the SQL oracle, so the
    * metric is engine-exact). `approx` needs (query_id, vec_id, rk);
    * `truth` needs (query_id, vec_id).
    */
  def ndcgAt(approx: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val idcg = idcgAt(k)
    // truncate to the metric's own cutoff: an approx frame ranked
    // deeper than k must not sum gains past the normalizer (that
    // would let ndcg exceed 1 on a perfect deeper ranking)
    approx.filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), col("rk"))
      .join(truth.select(col("query_id"), col("vec_id"),
        lit(true).as("hit")), Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"),
        round(sum(when(col("hit"),
          lit(1.0) / log2(col("rk") + lit(1)))
          .otherwise(lit(0.0))) / idcg, 6).as("ndcg"))
  }

  /** Ideal DCG of `k` straight hits — the normalizer, shared verbatim
    * with the SQL oracle so both engines divide by the same double. */
  def idcgAt(k: Int): Double =
    (1 to k).map(p => 1.0 / (math.log(p + 1.0) / math.log(2.0))).sum

  /** Retrieval-quality evaluation as a first-class driver row: the IVF
    * tier's served ranking scored against the exhaustive brute-force
    * ground truth. The accuracy ledger ratchets recall offline; this
    * puts rank-aware quality (position-discounted, not just set
    * overlap) under the driver gate, where an IVF geometry or probe
    * regression shows up as a metric drop instead of hiding in a
    * golden mismatch two rows away. Cost: the two rankings the suite
    * already computes plus a k·nQueries-row join — corpus work is
    * whatever the tiers themselves cost.
    */
  def retrievalNdcg(s: SparkSession, d: String, k: Int = 10): DataFrame =
    ndcgAt(ivfTopK(s, d, k = k), bruteForceTopK(s, d, k = k), k)

  /** Matryoshka truncation-recall report: per (truncation dim, probe),
    * how much of the full-dimension top-k survives when cosine is
    * computed over only the first m dimensions — the evaluation a team
    * runs before adopting MRL-style truncated embeddings as a cheaper
    * serving tier (prefix truncation cuts ANN scan bytes by dim/m with
    * no re-embedding). The last dims entry must be the full dimension;
    * its rows are the recall-1.0 sanity anchor.
    *
    * Determinism contract: rankings use the round-then-rank convention
    * (`round(sim + 1e-12, 6)`, ties by vec_id) — truncated-prefix
    * cosines are coarser than full-dim ones, so ranking raw doubles
    * would let a cross-engine ulp flip an order the driver's hash
    * compare sees. Scale shape: one corpus × probes × |dims| pass
    * (probes broadcast; |dims| is a constant fan-out on the scored
    * pairs, not a re-scan), bounded per-group ranking state.
    */
  def truncationRecall(s: SparkSession, d: String,
      dims: Seq[Int] = Seq(8, 16, 32, 64), nQueries: Int = 5,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val fullDim = dims.max
    val simK = round(fusedCosine(
      slice(col("q"), lit(1), col("trunc_dim")),
      slice(col("embedding"), lit(1), col("trunc_dim"))) + lit(1e-12), 6)
    val w = Window.partitionBy(col("trunc_dim"), col("query_id"))
      .orderBy(col("simk").desc, col("vec_id"))
    // k·probes·|dims| rows feeding two consumers (the full-dim side of
    // the overlap join and the left side) — lazily materialized once so
    // the corpus×probes×|dims| scoring pass doesn't re-run per consumer
    // (the Dedup.minhashPairs convention)
    val top = Dedup.lazyCheckpoint(emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        explode(typedLit(dims)).as("trunc_dim"), col("q"), col("embedding"))
      .withColumn("simk", simK)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("trunc_dim").cast("int").as("trunc_dim"),
        col("query_id"), col("vec_id")))
    val full = top.filter(col("trunc_dim") === fullDim)
      .select(col("query_id").as("fq"), col("vec_id").as("fv"))
    top.join(broadcast(full), col("query_id") === col("fq") &&
        col("vec_id") === col("fv"), "left")
      .groupBy(col("trunc_dim"), col("query_id"))
      .agg(count(col("fv")).as("n_hits"),
        r4(count(col("fv")).cast("double") / lit(k)).as("recall"))
  }

  /** MMR-diversified rerank (maximal marginal relevance): from each
    * probe's exact cosine top-`kCand` shortlist, greedily select `k`
    * results maximizing `λ·relevance − (1−λ)·max-similarity-to-already-
    * selected` — the diversification stage a retrieval cascade runs so
    * near-duplicate hits don't crowd the result page. Deterministic
    * contract: the objective rounds at 6 dp (+1e-12, the
    * [[Hybrid]] fuse convention) BEFORE each argmax, ties by vec_id —
    * so the full greedy trajectory (ids, pick order, scores) is
    * oracle-recomputable as unrolled SQL rounds (the q_coreset
    * pattern, per-query).
    *
    * Scale shape: the distributed work is the exact shortlist pass
    * (one broadcast-probe corpus scan, bounded per-query ranking); the
    * greedy is sequential only WITHIN a query, so it runs per-query
    * inside executors ([[mmrGreedy]]'s flatMapGroups — kCand-bounded
    * state per group, flat driver memory at any query count).
    */
  def mmrTopK(s: SparkSession, d: String, nQueries: Int = 5,
      kCand: Int = 12, k: Int = 5, lambda: Double = 0.7): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id"))
    val cand = emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("embedding"),
        fusedCosine(col("q"), col("embedding")).as("rel"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= kCand)
      .select(col("query_id"), col("vec_id"), col("embedding"),
        col("rel"))
    mmrGreedy(s, cand, k, lambda)
  }

  /** [[mmrTopK]] SERVED from the persisted int8 codes tier: the
    * shortlist IDS come off the index ([[ScalarQuant.sqTopKFromIndex]]
    * — whose exact re-rank recovers the brute ranking row-for-row, the
    * q_ann_int8 contract), then relevance and the candidate vectors
    * re-attach from the raw store by id (a k·queries-row fetch join —
    * the rel recompute keeps the unrounded doubles the greedy
    * objective needs; the index's served `sim` column is 4-dp display
    * rounding). Candidate sets and relevances are bit-identical to the
    * inline form's, so the served trajectory shares the full
    * unrolled-rounds oracle.
    */
  def mmrTopKFromIndex(s: SparkSession, indexDir: String, d: String,
      nQueries: Int = 5, kCand: Int = 12, k: Int = 5,
      lambda: Double = 0.7): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val shortlist = ScalarQuant.sqTopKFromIndex(s, indexDir,
        emb.filter(col("vec_id") < nQueries), emb, k = kCand)
      .select(col("query_id"), col("vec_id"))
    val cand = shortlist
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"), col("embedding"),
        fusedCosine(col("q"), col("embedding")).as("rel"))
    mmrGreedy(s, cand, k, lambda)
  }

  /** The inherently-sequential greedy over a
    * (query_id, vec_id, embedding, rel) candidate frame — shared by
    * the inline and served MMR forms. Per-query independent, so it
    * runs INSIDE executors: `groupByKey(query_id).flatMapGroups` holds
    * one query's kCand-bounded candidate set at a time and replays the
    * identical 6-dp-rounded fold — no `collect()`, no driver loop, and
    * the operator scales along its natural axis (a production rerank
    * batch of 10⁵ queries is 10⁵ tiny groups across the cluster, flat
    * driver memory — the r16 design note closed). The exchange this
    * adds is the narrow candidate frame keyed by query_id; at the
    * registry shape that is kCand·nQueries = 60 rows.
    */
  private def mmrGreedy(s: SparkSession, cand: DataFrame, k: Int,
      lambda: Double): DataFrame = {
    import s.implicits._
    cand
      .select(col("query_id"), col("vec_id"), col("embedding"),
        col("rel"))
      .as[(Long, Long, Array[Float], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // deterministic start state: candidates in vec_id order — the
        // same sort the driver-side fold ran, partition-layout-free
        val remaining = scala.collection.mutable.Buffer(
          it.toArray.sortBy(_._2): _*)
        var selEmb = Vector.empty[Array[Float]]
        (0 until math.min(k, remaining.size)).map { t =>
          val scored = remaining.map { c =>
            val pen =
              if (selEmb.isEmpty) 0.0d
              else selEmb.map(e => mmrCos(c._3, e)).max
            (c, mmrR6(lambda * c._4 - (1 - lambda) * pen))
          }
          val best = scored.minBy { case (c, sc) => (-sc, c._2) }
          selEmb :+= best._1._3
          remaining -= best._1
          (qid, best._1._2, t, best._2)
        }.iterator
      }
      .toDF("query_id", "vec_id", "rnd", "score")
      .select(col("query_id"), col("vec_id"), col("rnd").cast("int")
        .as("rnd"), col("score"))
  }

  /** Sequential double accumulation in index order — the same fold
    * FusedCosineSimilarity and the oracle's list_reduce run.
    */
  private def mmrCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0d; var na = 0.0d; var nb = 0.0d; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** HALF_UP at 6 dp — the BigDecimal path Spark's round() itself
    * uses.
    */
  private def mmrR6(x: Double): Double = BigDecimal(x + 1e-12)
    .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Brute-force top-k via the bounded TopK aggregator instead of a
    * ranking window: the window form shuffles and sorts every
    * (query, candidate) pair; this form partial-aggregates per
    * partition so the exchange carries at most k rows per query per
    * map partition. Same results (tie semantics match) — asserted in
    * tests; the scale path for corpus-sized candidate sets.
    */
  def bruteForceTopKAgg(s: SparkSession, d: String,
      nQueries: Int = 5, k: Int = 10): DataFrame = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val pairs = emb
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fusedCosine(col("q"), col("embedding")).as("sim"))
    import pairs.sparkSession.implicits._
    pairs.as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new graft.operators.Sampling.TopKByScoreAgg[Long](k)
        .toColumn.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col._1").as("vec_id"),
        r4(col("col._2")).as("sim"), (col("pos") + 1).cast("int").as("rk"))
  }

  /** Deterministic pseudo-uniform plane weight in [-1, 1): splitmix64
    * of (plane, dim) — fixed across runs, no RNG state.
    */
  private def planeWeight(p: Int, i: Int): Double = {
    var z = p.toLong * 0x9e3779b97f4a7c15L + i.toLong + 1
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toDouble / Long.MaxValue.toDouble
  }

  /** Random-hyperplane LSH bucket id: sign bits of dot products against
    * `nPlanes` deterministic hyperplanes. Each plane is a literal weight
    * array, so the projection is one zip_with+aggregate per plane — a
    * compact codegen'd loop, not a dim×planes expression tree.
    * `planeOffset` selects an independent plane set, so callers can
    * build banded multi-set LSH (band b = offset b*nPlanes).
    */
  def lshBucket(v: Column, dim: Int, nPlanes: Int,
      planeOffset: Int = 0): Column = {
    val bits = (0 until nPlanes).map { p =>
      val weights = array((0 until dim).map(i =>
        lit(planeWeight(planeOffset + p, i))): _*)
      val proj = aggregate(
        zip_with(v, weights, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, t) => acc + t)
      when(proj >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_.bitwiseOR(_))
  }

  /** Planes needed so the EXPECTED bucket occupancy `n / 2^planes` stays
    * at or below `targetOccupancy` — the knob that keeps within-bucket
    * candidate generation ~linear in corpus size instead of quadratic
    * (n²/2^planes pairs per plane set). Fixed plane counts are the
    * classic LSH scale trap: 4 planes = 16 buckets is fine at 10⁴
    * vectors and catastrophic at 10¹⁰.
    *
    * The 256 default target bounds verify work at ~128·bands cosine
    * evaluations per vector. The r6 growth probe (tools/
    * growth_probe.json) demonstrated why this must be small: at the
    * earlier 4096 target the derivation stayed at the 4-plane floor
    * for every corpus under 65k vectors, so candidates measured
    * n²/16 — 39M candidate pairs at just 25k vectors. `maxPlanes` 32
    * bounds bucket-key compute (one dot product per plane per band);
    * past it occupancy grows linearly again — at 10¹⁰+ vectors raise
    * bands (independent plane sets) or shard the corpus, don't chase
    * planes: per-band recall decays geometrically in planes and
    * banding can only recover ~8 bands' worth.
    */
  def planesFor(n: Long, targetOccupancy: Long = 256,
      maxPlanes: Int = 32): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) /
        math.log(2.0)).toInt
    math.min(maxPlanes, math.max(4, needed))
  }

  /** Bands (independent plane sets) to pair with `planes` planes per
    * band — derived JOINTLY with [[planesFor]] so small corpora are not
    * over-banded: a fixed band count is the mirror image of the fixed
    * plane count trap. With few planes, buckets are coarse and a single
    * band already catches near-dup pairs with high probability, so extra
    * bands only multiply bucketing/explode/join work; as planesFor climbs
    * toward its cap, per-band collision probability decays geometrically
    * and bands must grow to hold recall.
    *
    * Sizing math: a near-dup pair comfortably above a 0.95-cosine
    * threshold (cos ≈ 0.98–0.99) agrees with one random hyperplane
    * w.p. ≈ 1 − θ/π ≈ 0.95, hence with a whole band of p planes w.p.
    * 0.95^p; b bands miss it w.p. (1 − 0.95^p)^b. Solving for ≥0.95
    * collision: b = ln(0.05)/ln(1 − 0.95^p) — 2 bands at the 4-plane
    * floor, 3 at 8, 4 at 12, hitting the 8-band cap around 24 planes
    * (and staying there through the 32-plane cap).
    * Pairs exactly AT the threshold see less (the sharp-threshold
    * property every LSH family has); the measured recall is pinned per
    * round in `tools/accuracy_ledger.json`.
    */
  def bandsFor(planes: Int, maxBands: Int = 8): Int = {
    val perBand = math.pow(0.95, planes)
    val needed = math.ceil(math.log(0.05) / math.log1p(-perBand)).toInt
    math.min(maxBands, math.max(1, needed))
  }

  /** IVF cell count so the EXPECTED cell occupancy `n / nCells` stays
    * near `targetOccupancy` — the same derivation discipline as
    * [[planesFor]]: a fixed cell count is the IVF scale trap (16 cells
    * probed 10-deep scores ~62% of the corpus at ANY size — the index
    * prunes nothing as n grows). With cells ∝ n and probes a bounded
    * fraction of cells ([[probesFor]]), the probed FRACTION falls as the
    * corpus grows while per-query scored rows stay
    * ~targetOccupancy·probes.
    *
    * `maxCells` bounds the k-means fit (k approaching its 2048-row
    * sample size stops being a fit) and the per-row assignment cost
    * (cells × dim multiplies per vector). Since r9 the centroid set
    * ships as a codegen REFERENCE OBJECT ([[graft.functions.NearestCentroids]])
    * rather than literal arrays, so cell count no longer pressures plan
    * size or the JVM method limit — the r8 ceiling (codegen fallback
    * past ~98 literal centroids) is gone, and the 256-cell regime is
    * measured in tools/ivf_tune.json. At corpus sizes past
    * maxCells·targetOccupancy (~65k at the defaults) a real deployment
    * shards the corpus (per-shard IVF indexes probed in parallel,
    * exactly how IVF libraries scale out) — the per-cell occupancy math
    * is unchanged, only the index gets partitioned.
    */
  def cellsFor(n: Long, targetOccupancy: Long = 256,
      minCells: Int = 16, maxCells: Int = 256): Int = {
    val needed = math.ceil(n.toDouble / targetOccupancy).toInt
    math.min(maxCells, math.max(minCells, needed))
  }

  /** Probes per query: a recall-targeted FRACTION of the cell count
    * (default 1/8), floored at `minProbe` so tiny indexes — where one
    * cell is a big corpus slice and cell boundaries cut off true
    * neighbors — keep recall (16 cells × 10 probes measured 0.90
    * recall@10 at sf0.01, vs 0.80 at 8 probes; tools/ivf_tune.json).
    * As cellsFor scales cells with n, the fraction probed falls from
    * the floor-dominated 62% at n≈500 to the 12.5% target at n≥20k —
    * scored rows per query stay ~occupancy·probes while the rest of the
    * corpus is pruned by the index. On ISOTROPIC vectors recall tracks the probed
    * fraction (there is no cluster structure to exploit — true for any
    * IVF); clustered corpora hold recall at the falling fraction, which
    * is the measured contrast in tools/ivf_tune.json.
    */
  def probesFor(cells: Int, fraction: Double = 0.125,
      minProbe: Int = 10): Int =
    math.min(cells, math.max(minProbe, math.ceil(cells * fraction).toInt))

  /** Selectivity-aware probe width for the FILTERED index tier: a
    * label predicate leaves each probed (label, cell) partition only
    * ~1/L of the cell's occupancy, so the unfiltered probe count
    * inspects proportionally fewer candidates and recall decays —
    * the classic filtered-ANN failure. Widening the probe list
    * restores the candidate budget at near-zero cost, because each
    * extra probed partition is itself filter-shrunk (measured at
    * sf0.01: 2× probes lifted filtered recall@10 0.72 → 1.00 with
    * runtime unchanged; `tools/accuracy_ledger.json`). The factor is
    * a fixed 2 rather than a function of observed selectivity so the
    * plan stays static — an adaptive width would need a per-query
    * label-frequency lookup before planning.
    */
  def filteredProbesFor(cells: Int): Int =
    math.min(cells, 2 * probesFor(cells))

  /** All bucket-perturbation masks with at most `radius` bits set, for
    * multiprobe LSH. Enumerated as bit combinations — O(nPlanes^radius)
    * — never by filtering all 2^nPlanes masks, which stops being
    * enumerable exactly when planesFor starts returning big counts.
    */
  def probeMasks(nPlanes: Int, radius: Int): Seq[Long] =
    (0 to radius).flatMap(r =>
      (0 until nPlanes).combinations(r)
        .map(_.foldLeft(0L)((acc, b) => acc | (1L << b))).toSeq)

  /** Spherical k-means over a driver-side sample: Lloyd iterations with
    * cosine assignment (vectors and centroids L2-normalized, mean +
    * renormalize update). Deterministic — init is the hash-order head of
    * the sample, no RNG. An empty cell keeps its previous centroid.
    * Driver cost is O(iters × sample × k × dim) — bounded, the model-fit
    * shape (like TextOps.langId's profile fit), NOT a per-row collect.
    */
  def kmeansCentroids(sample: Array[Array[Double]], k: Int,
      iters: Int = 10): Array[Array[Double]] = {
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    var cents = pts.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](pts.head.length))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestSim = Double.MinValue
        var c = 0
        while (c < k) {
          var dot = 0.0; var i = 0
          while (i < p.length) { dot += p(i) * cents(c)(i); i += 1 }
          if (dot > bestSim) { bestSim = dot; best = c }
          c += 1
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map(c =>
        if (counts(c) == 0) cents(c) else normalize(sums(c))).toArray
    }
    cents
  }

  /** IVF (inverted-file) ANN top-k: the second index family. Centroids
    * are spherical k-means over a deterministic bounded sample (bottom
    * `sampleSize` by id hash — at 100 TB the sample stays bounded and
    * the fit stays a driver-side model fit); the corpus partitions into
    * Voronoi cells by cosine argmax against the centroid matrix, which
    * ships inside the plan as a codegen reference object
    * ([[graft.functions.NearestCentroids]] — a narrow pass, no literal
    * blow-up at high cell counts), and
    * each query probes its `nProbe` nearest cells through one broadcast
    * join with inline scoring; the corpus is neither shuffled nor
    * re-scanned (see the no-dedup note below).
    *
    * Geometry derives from the corpus by default (`nCells <= 0` →
    * [[cellsFor]], `nProbe <= 0` → [[probesFor]]): cells scale with n at
    * ~256 expected vectors per cell and probes are a bounded fraction of
    * cells, so the probed fraction FALLS as the corpus grows (62% at
    * n≈500, 12.5% from n≈20k) instead of a fixed 16-cell index probing
    * ~62% of the corpus at any size. Tuning (tools/ivf_tune.json,
    * recall@10 over 5 queries vs brute force): random-corpus-vector
    * centroids at 16 cells/8 probes gave 0.70; the k-means fit lifts
    * that to 0.80, and
    * the derived 16/10 floor geometry reaches 0.90 at sf0.01. On
    * isotropic vectors recall necessarily tracks the probed fraction;
    * the clustered-corpus sweep in tools/ivf_tune.json shows the index
    * holding recall at the falling fraction when structure exists.
    */
  /** Deterministic centroid fit over an embeddings frame: bottom-
    * `sampleSize` rows by id hash (TakeOrderedAndProject — one corpus
    * pass, no separate count() job to derive a stride), then k-means
    * refinement on the driver. The (h, vec_id) sort keys give a total
    * order, so the fit is reproducible for a given corpus + geometry —
    * which is what lets a persisted index ([[ivfWriteIndex]]) and an
    * inline fit agree bit-for-bit.
    */
  def fitCentroids(emb: DataFrame, cells: Int,
      sampleSize: Int = 2048): Array[Array[Float]] = {
    val sample: Array[Array[Double]] = emb
      .select(col("embedding"), xxhash64(col("vec_id")).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    kmeansCentroids(sample, cells).map(_.map(_.toFloat))
  }

  def ivfTopK(s: SparkSession, d: String, nCells: Int = 0,
      nQueries: Int = 5, k: Int = 10, nProbe: Int = 0,
      sampleSize: Int = 2048,
      literalCentroids: Boolean = false): DataFrame = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    import graft.functions.NearestCentroids.nearestCells
    val emb = Tables.embeddings(s, d)
    // corpus-derived geometry; count() on the raw scan is a parquet-
    // footer read (same pattern as annTopK's planesFor derivation)
    val cells = if (nCells > 0) nCells else cellsFor(emb.count())
    val probes = if (nProbe > 0) nProbe else probesFor(cells)
    val centroidMatrix: Array[Array[Float]] =
      fitCentroids(emb, cells, sampleSize)
    // Centroid assignment/probing via the NearestCentroids expression:
    // the matrix rides as a codegen reference object, so plan size and
    // generated-method size are O(1) in cell count — the literal-array
    // form (kept below as the reference path DedupSimilaritySpec
    // checks this one against) blew past the JVM
    // 64 KB method limit at ~98 cells and dropped the stage to
    // interpreted eval. Both forms are bit-identical (pinned in
    // DedupSimilaritySpec, tie cases included).
    val centroids: Seq[(Int, Seq[Float])] =
      centroidMatrix.map(_.toSeq).zipWithIndex.map(_.swap).toSeq
    def centroidLit(c: Seq[Float]) =
      array(c.map(x => lit(x)): _*).cast("array<float>")
    def cellOf(v: Column) =
      if (literalCentroids)
        array_max(array(centroids.map { case (i, c) =>
          struct(fusedCosine(v, centroidLit(c)).as("sim"),
            lit(i).as("cell"))
        }: _*)).getField("cell")
      else element_at(nearestCells(v, centroidMatrix, 1), 1)
    // top-`probes` cells per query, exploded by the caller
    def probeCells(v: Column) =
      if (literalCentroids) {
        val sims = array(centroids.map { case (i, c) =>
          struct(fusedCosine(v, centroidLit(c)).as("sim"),
            lit(i).as("cell"))
        }: _*)
        slice(reverse(array_sort(sims)), 1, probes).getField("cell")
      } else nearestCells(v, centroidMatrix, probes)
    // No candidate dedup is needed — or correct to pay for: Voronoi
    // assignment puts each corpus vector in EXACTLY ONE cell and a
    // query's probe list holds nProbe DISTINCT cells, so a (query,
    // candidate) pair can match at most once. The corpus therefore
    // streams through ONE broadcast join, keeps its embedding out of
    // any exchange (broadcast joins don't shuffle the stream side),
    // and is scored exactly once per matching pair; the only exchange
    // in the plan is the narrow (query_id, vec_id, sim) top-k window
    // input. (A distinct here — r2 carried one that even shuffled the
    // query embedding — is pure waste.)
    val assigned = emb.select(col("vec_id"), col("embedding"),
      cellOf(col("embedding")).as("cell"))
    val queryVecs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val queryProbes = queryVecs.select(col("query_id"), col("q"),
      explode(probeCells(col("q"))).as("cell"))
    ivfScore(assigned, queryProbes, k)
  }

  /** The candidate scoring join shared by the inline and
    * persisted-index ANN paths: broadcast the (query, probed `key`)
    * rows against the (vec_id, embedding, `key`) corpus partition,
    * score each matching pair once, keep per-query top-k. `key` is
    * "cell" for IVF, "bucket" for LSH.
    */
  private def scoreCandidates(assigned: DataFrame,
      queryProbes: DataFrame, keys: Seq[String], k: Int): DataFrame = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    assigned.join(broadcast(queryProbes), keys)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        fusedCosine(col("q"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id"), r4(col("sim")).as("sim"),
        col("rk"))
  }

  private def ivfScore(assigned: DataFrame, queryProbes: DataFrame,
      k: Int): DataFrame =
    scoreCandidates(assigned, queryProbes, Seq("cell"), k)

  /** Fit and persist the IVF index for the embeddings at `d`: a
    * `centroids` table (cell, centroid) and an `assignments` table
    * (vec_id, embedding, cell) under `indexDir` — the lake artifacts a
    * production deployment builds ONCE per corpus snapshot and serves
    * every query from ([[ivfTopKFromIndex]]), instead of refitting
    * k-means per query. At 100 TB the assignments write is one corpus
    * pass (the same narrow `NearestCentroids` projection the inline
    * path plans), PARTITIONED by `cell`: the serve join's broadcast
    * probe side triggers dynamic partition pruning, so each query
    * batch reads only its probed cells' files (non-empty
    * PartitionFilters verified on the serve plan).
    */
  def ivfWriteIndex(s: SparkSession, d: String, indexDir: String,
      nCells: Int = 0, sampleSize: Int = 2048,
      assignOnly: Option[Column] = None): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cells = if (nCells > 0) nCells else cellsFor(emb.count())
    val centroidMatrix = fitCentroids(emb, cells, sampleSize)
    centroidMatrix.toIndexedSeq.map(_.toSeq).zipWithIndex
      .map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    // assignOnly restricts which vectors are INDEXED (the rest arrive
    // later via ivfAppendBatch) — the centroid fit stays on the full
    // corpus, the production pattern: geometry is fit once on a
    // historical snapshot and held fixed while data accretes
    assignOnly.map(emb.filter).getOrElse(emb)
      .select(col("vec_id"), col("embedding"),
        element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
          .as("cell"))
      // cluster rows into their partition before the partitioned
      // write: each (partition) dir gets ONE file per writer instead of
      // one per scan task - a multi-file corpus would otherwise fan out
      // to tasks x partitions tiny files, the small-files wall at scale
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/assignments")
  }

  /** Read the bounded centroids table onto the driver — the same
    * model-sized collect as the inline fit (≤ maxCells rows).
    */
  private def readCentroids(s: SparkSession,
      indexDir: String): Array[Array[Float]] =
    s.read.parquet(s"$indexDir/centroids")
      .select(col("cell"), col("centroid"))
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Float](1).toArray)

  /** Append a batch of new vectors to a persisted IVF index WITHOUT
    * refitting: assign each vector to its nearest EXISTING centroid
    * (the frozen geometry [[ivfWriteIndex]] fit) and write the batch
    * as `assignments_batches/batch=<id>/cell=<c>/` partition dirs.
    * This is how the 100 TB lake actually grows — per-batch work
    * scales with the batch, never the corpus, and nightly refits of a
    * corpus-sized index don't exist.
    *
    * Exactly-once under retries, the near-dup maintainer's pattern
    * (`Streams.nearDupMaintainer`): dynamic partition overwrite keyed
    * by the batch partition means a re-run of batch `id` replaces its
    * own directories instead of duplicating rows. [[ivfTopKFromIndex]]
    * unions the batch dirs into the serve scan (cell pruning intact —
    * `cell` is a partition column in both layouts);
    * [[compactIvfAppends]] folds committed batches back into one to
    * bound the small-files growth.
    *
    * With geometry frozen, append-then-serve is BIT-IDENTICAL to
    * having indexed everything up front (assignment is a pure
    * function of (embedding, centroids)) — pinned by
    * `q_ann_ivf_appended_served` sharing `q_ann_ivf`'s golden and by
    * the parity spec. Drift monitoring (cells filling unevenly as the
    * distribution shifts → time to refit) reads the same bounded
    * per-cell counts the serve plan prunes on.
    */
  def ivfAppendBatch(s: SparkSession, indexDir: String,
      newVectors: DataFrame, batchId: Long): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    val centroidMatrix = readCentroids(s, indexDir)
    newVectors
      .select(lit(batchId).as("batch"), col("vec_id"), col("embedding"),
        element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
          .as("cell"))
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "cell")
      .parquet(s"$indexDir/assignments_batches")
  }

  /** The LIVE row set of a persisted index ([[IndexTable.live]]): the
    * base table plus any append-batch dirs (`cell`/`bucket` is a
    * partition column in both layouts, so partition pruning covers
    * both sides of the union), minus any tombstoned vec_ids. One
    * definition serves every vector family — IVF assignments, IVF-PQ
    * codes, LSH buckets — because all three freeze their geometry
    * (centroids / codebooks / planes), so deletion never needs a
    * refit: a vector's absence from the candidate set IS its erasure.
    */
  private def readAssignments(s: SparkSession, indexDir: String,
      table: String = "assignments"): DataFrame =
    IndexTable.live(s, indexDir, table, "vec_id")

  /** Logical delete for the frozen-geometry vector tiers (IVF
    * assignments, IVF-PQ codes, LSH buckets): the vec_ids land in a
    * tombstone batch; every serve path anti-joins them out (via
    * [[readAssignments]]) until [[compactAnnDeletes]] folds the
    * deletions into a fresh base. Work scales with the request, never
    * the index, and the model tables (centroids / codebooks / planes)
    * are untouched — erasure needs no refit. Caller's invariant: the
    * ids are index-resident (erasure requests name stored vectors).
    */
  def annDeleteIds(s: SparkSession, indexDir: String, ids: DataFrame,
      batchId: Long): Unit =
    Tombstones.append(s, indexDir, ids.select(col("vec_id")), batchId)

  /** Admin-cadence close-out of the vector-tier delete path: rewrite
    * the base table without the tombstoned rows (committed append
    * batches fold in — [[readAssignments]] is the single definition of
    * the live set), retire batch dirs and tombstones, and the serve
    * returns to the minimal one-scan partition-pruned plan
    * ([[IndexTable.compact]]; the anti-join-only adjustment makes its
    * swap-to-retire window safe by construction). `table`/`partitionCol`
    * select the family: assignments/cell (IVF), codes/cell (IVF-PQ),
    * buckets/bucket (LSH).
    */
  def compactAnnDeletes(s: SparkSession, indexDir: String,
      table: String = "assignments",
      partitionCol: String = "cell"): Unit =
    IndexTable.compact(s, indexDir, Seq(table))(at =>
      readAssignments(s, indexDir, table)
        .repartition(col(partitionCol)) // one file per dir, as the build
        .write.mode("overwrite").partitionBy(partitionCol)
        .parquet(at(table)))

  /** Drift monitor for the frozen-geometry lake: per-cell occupancy
    * over the same base+batches union the serve path scans. With
    * geometry fit once and held fixed while batches accrete
    * ([[ivfAppendBatch]]), a distribution shift shows up here first —
    * mass concentrating into few cells degrades probe recall and
    * skews serve-side work, and a rising max share is the "time to
    * refit" signal. The scan reads only (cell, vec_id) — the
    * embedding column never leaves the parquet footer — and the
    * output is bounded by the cell count, so the monitor is safe to
    * run at any cadence against a 100 TB index.
    */
  def ivfCellStats(s: SparkSession, indexDir: String,
      table: String = "assignments"): DataFrame = {
    val counts = readAssignments(s, indexDir, table)
      .select(col("cell"), col("vec_id"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    // the share window runs over the aggregated frame (≤ cells rows),
    // not the corpus — a single bounded exchange
    counts.withColumn("share",
      r4(col("n_vectors") /
        sum(col("n_vectors")).over(Window.partitionBy())))
  }

  /** Fold every `batch=<id> <= upToBatch` append directory into ONE
    * `batch=<upToBatch>` directory (cell partitioning preserved) —
    * [[IndexTable.compactRange]] for the ANN lake: at daily append
    * cadence the batch dirs are the small-files wall, and the base
    * `assignments` table stays untouched (no corpus rewrite).
    */
  def compactIvfAppends(s: SparkSession, indexDir: String,
      upToBatch: Long,
      table: String = "assignments_batches",
      partitionCol: String = "cell"): Unit =
    IndexTable.compactRange(s, indexDir, table, upToBatch,
      Some(partitionCol))

  /** Admin-cadence promotion for the ANN lake: fold every committed
    * [[ivfAppendBatch]] (`table = "assignments"`) or
    * [[ivfPqAppendBatch]] (`table = "codes"`) batch dir back into the
    * BASE table and retire the side dirs, returning the index to the
    * minimal serve plan (one partition-pruned scan, no union node).
    * The frozen model (centroids, codebooks) is untouched — promotion
    * moves rows, never geometry, so the served ranking is
    * bit-identical before and after (`q_ann_ivf_promoted_served` and
    * `q_ann_ivfpq_promoted_served` share their one-shot twins' goldens
    * through the driver gate). This is the rare corpus-sized rewrite;
    * [[ivfAppendBatch]] + [[compactIvfAppends]] remain the
    * per-arrival path. Staged publish: [[IndexTable.promote]].
    */
  def promoteBatches(s: SparkSession, indexDir: String,
      table: String = "assignments",
      partitionCol: String = "cell"): Unit =
    IndexTable.promote(s, indexDir, Seq(table))(at =>
      IndexTable.union(s, indexDir, table)
        .repartition(col(partitionCol)) // one file per dir, as the build
        .write.mode("overwrite").partitionBy(partitionCol)
        .parquet(at(table)))

  /** Concentration ratio of a persisted IVF index: max cell share ×
    * centroid count — 1.0 is perfectly balanced, `cells` is everything
    * in one cell. Scale-free, so one threshold serves any geometry.
    * Reads [[ivfCellStats]] (bounded, embedding column never leaves
    * the parquet footer) plus the model-sized centroids table — safe
    * at any cadence against a 100 TB index.
    */
  def ivfConcentration(s: SparkSession, indexDir: String): Double = {
    val cells = s.read.parquet(s"$indexDir/centroids").count()
    val maxShare = ivfCellStats(s, indexDir)
      .agg(max(col("share"))).collect()(0).getDouble(0)
    maxShare * cells
  }

  /** Refit the frozen IVF geometry in place: fit fresh centroids over
    * the CURRENT corpus (base + append batches — the same
    * deterministic [[fitCentroids]] sample-and-Lloyd the original
    * build ran, so refitting an index whose accreted content equals a
    * corpus reproduces that corpus's one-shot geometry bit-for-bit,
    * which is what lets `q_ann_ivf_refit_served` share `q_ann_ivf`'s
    * golden), re-assign every vector, and swap the new (assignments,
    * centroids) pair in through [[IndexTable.refit]]. Batch dirs are
    * retired by the swap — a refit subsumes promotion.
    */
  def refitIvfIndex(s: SparkSession, indexDir: String, nCells: Int = 0,
      sampleSize: Int = 2048): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    import s.implicits._
    IndexTable.refit(s, indexDir, Seq("assignments", "centroids")) { at =>
      val all = readAssignments(s, indexDir)
        .select(col("vec_id"), col("embedding"))
      val cells = if (nCells > 0) nCells else cellsFor(all.count())
      val centroidMatrix = fitCentroids(all, cells, sampleSize)
      centroidMatrix.toIndexedSeq.map(_.toSeq).zipWithIndex
        .map { case (c, i) => (i, c) }
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(at("centroids"))
      all
        .select(col("vec_id"), col("embedding"),
          element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
            .as("cell"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(at("assignments"))
    }
  }

  /** The drift-triggered refit policy closing the IVF lifecycle:
    * append batches accrete under frozen geometry ([[ivfAppendBatch]]),
    * [[ivfCellStats]] watches occupancy, and when the concentration
    * ratio crosses `maxConcentration` — mass piling into few cells,
    * i.e. probe recall decaying and serve work skewing — the index
    * refits on its current content and swaps atomically. Returns
    * whether a refit ran. The default threshold is deliberately loose
    * (4× a balanced cell's mass): k-means cells are never uniform, and
    * a refit is the rare corpus-sized rewrite a 100 TB lake schedules,
    * not a twitchy reaction to one hot batch.
    */
  def refitIvfIfDrifted(s: SparkSession, indexDir: String,
      maxConcentration: Double = 4.0, nCells: Int = 0,
      sampleSize: Int = 2048): Boolean = {
    val drifted = ivfConcentration(s, indexDir) >= maxConcentration
    if (drifted) refitIvfIndex(s, indexDir, nCells, sampleSize)
    drifted
  }

  /** [[refitIvfIndex]] for the COMPRESSED tier. The codes table holds
    * m-byte codes, not vectors, so a refit must re-encode from the
    * raw store (`refitFrom`, the cold tier the `refine` re-rank
    * already reads): fresh coarse centroids AND PQ codebooks are fit
    * on it with the same deterministic sample-and-Lloyd as the
    * original build — so refitting a grown index whose accreted
    * content equals `refitFrom` reproduces the one-shot build's
    * model and codes bit-for-bit (spec-pinned, and
    * `q_ann_ivfpq_refit_served` shares `q_ann_ivfpq`'s golden) —
    * then every vector re-encodes in one narrow corpus pass and the
    * (codes, centroids, codebooks) triple swaps in through
    * [[IndexTable.refit]]; batch dirs retire with the swap. This is
    * THE planned rewrite of the 100 TB hot tier:
    * per-batch appends freeze the model ([[ivfPqAppendBatch]]),
    * [[ivfCellStats]] (table = "codes") watches drift, and the
    * re-encode is the one index-sized job, scheduled, never nightly.
    */
  def refitIvfPqIndex(s: SparkSession, indexDir: String,
      refitFrom: DataFrame, nCells: Int = 0, m: Int = 16,
      ksub: Int = 16, sampleSize: Int = 2048): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    import graft.functions.PqOps.pqEncode
    import s.implicits._
    val tables = Seq("codes", "centroids", "codebooks")
    IndexTable.refit(s, indexDir, tables) { at =>
      val all = refitFrom.select(col("vec_id"), col("embedding"))
      val cells = if (nCells > 0) nCells else cellsFor(all.count())
      val centroidMatrix = fitCentroids(all, cells, sampleSize)
      val codebooks = fitPqCodebooks(all, m, ksub, sampleSize)
      centroidMatrix.toIndexedSeq.map(_.toSeq).zipWithIndex
        .map { case (c, i) => (i, c) }
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(at("centroids"))
      codebooks.toIndexedSeq.zipWithIndex.flatMap { case (cb, j) =>
        cb.toIndexedSeq.zipWithIndex.map { case (c, code) =>
          (j, code, c.toSeq)
        }
      }.toDF("sub", "code", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(at("codebooks"))
      all
        .select(col("vec_id"),
          element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
            .as("cell"),
          pqEncode(col("embedding"), codebooks).as("codes"))
        .repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(at("codes"))
    }
  }

  /** Serve IVF top-k from a persisted index ([[ivfWriteIndex]]):
    * reads the bounded centroids table onto the driver (≤ maxCells
    * rows — the same model-sized collect as the inline fit), plans the
    * query probes against it, and joins the persisted assignments —
    * no k-means, no corpus-wide assignment pass. Results are
    * bit-identical to the inline [[ivfTopK]] at the same geometry
    * (deterministic fit; pinned in DedupSimilaritySpec).
    */
  def ivfTopKFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 0): DataFrame = {
    import graft.functions.NearestCentroids.nearestCells
    val centroidMatrix: Array[Array[Float]] = readCentroids(s, indexDir)
    val probes =
      if (nProbe > 0) nProbe else probesFor(centroidMatrix.length)
    val assigned = readAssignments(s, indexDir)
    val queryProbes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .select(col("query_id"), col("q"),
        explode(nearestCells(col("q"), centroidMatrix, probes))
          .as("cell"))
    ivfScore(assigned, queryProbes, k)
  }

  /** Bounded per-shard sample aggregator: keeps the `k` rows with the
    * smallest (h, vec_id) per group in O(k) state, partial-aggregating
    * map-side — the exchange behind [[ivfTopKSharded]]'s centroid-fit
    * sample carries ≤ k rows per shard per partition instead of the
    * corpus. Input: (shard, h, vec_id, embedding); output: embeddings
    * in (h, vec_id) order. Deterministic: the kept set and its order
    * are pure functions of the values, so merges commute and retries
    * agree. The trim is amortized (sort only at 2k) to avoid a per-row
    * O(k log k) sort.
    */
  private class BottomKSampleAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Int, Long, Long, Seq[Float]),
        Seq[(Long, Long, Seq[Float])],
        Seq[Seq[Float]]] {
    private def trim(v: Seq[(Long, Long, Seq[Float])]) =
      v.sortBy(t => (t._1, t._2)).take(k)
    override def zero: Seq[(Long, Long, Seq[Float])] = Vector.empty
    override def reduce(b: Seq[(Long, Long, Seq[Float])],
        a: (Int, Long, Long, Seq[Float])): Seq[(Long, Long, Seq[Float])] = {
      val appended = b :+ ((a._2, a._3, a._4))
      if (appended.length >= 2 * k) trim(appended) else appended
    }
    override def merge(b1: Seq[(Long, Long, Seq[Float])],
        b2: Seq[(Long, Long, Seq[Float])]): Seq[(Long, Long, Seq[Float])] =
      trim(b1 ++ b2)
    override def finish(r: Seq[(Long, Long, Seq[Float])]): Seq[Seq[Float]] =
      trim(r).map(_._3)
    override def bufferEncoder
        : org.apache.spark.sql.Encoder[Seq[(Long, Long, Seq[Float])]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[(Long, Long, Seq[Float])]]()
    override def outputEncoder
        : org.apache.spark.sql.Encoder[Seq[Seq[Float]]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Seq[Seq[Float]]]()
  }

  /** Shard count for a corpus past one IVF index's comfortable
    * capacity ([[cellsFor]]'s maxCells × targetOccupancy ≈ 65k at the
    * defaults): one shard below it, then linear growth — each shard
    * stays at the measured 256-cell/256-occupancy regime no matter how
    * large the corpus gets. `maxShards` only bounds the assignment
    * dispatch width (generated CASE branches); raise it with the
    * cluster, not the corpus.
    */
  def shardsFor(n: Long, shardCapacity: Long = 65536,
      maxShards: Int = 32): Int =
    math.min(maxShards,
      math.max(1, math.ceil(n.toDouble / shardCapacity).toInt))

  /** Sharded IVF ANN top-k — the documented scale path past one
    * index's ~65k-vector capacity, now implemented: the corpus hash-
    * partitions into [[shardsFor]] shards, each shard gets its OWN
    * spherical-k-means centroid set (so per-shard cell geometry stays
    * in the measured [[cellsFor]] regime), queries probe every shard's
    * nearest cells, and one global window re-ranks the union. This is
    * exactly how IVF libraries scale out: partition the index, fan the
    * query out, merge top-k.
    *
    * Scale anatomy (the reason this beats growing one index):
    *  - ONE corpus pass: shard id and cell id are both narrow
    *    projections (hash + [[graft.functions.NearestCentroids]]
    *    dispatched per shard through a bounded CASE); the corpus
    *    streams through a single broadcast probe join keyed
    *    (shard, cell), is never shuffled, and is scored at most once
    *    per (query, candidate) pair — a vector lives in exactly one
    *    (shard, cell) and a query's probe list is distinct per shard.
    *  - The centroid FIT stays bounded: one stratified sample job
    *    (per-shard bottom-`sampleSize` by id hash through the bounded
    *    [[BottomKSampleAgg]] — map-side partial aggregation, the
    *    exchange carries ≤ sampleSize rows per shard per partition)
    *    collects ≤ shards×sampleSize rows; each shard's k-means runs
    *    on its own slice. No per-shard corpus scans, no corpus-wide
    *    sort.
    *  - Per-shard sizes are taken as n/shards by construction (uniform
    *    hash sharding) rather than measured with an extra count pass.
    *
    * With `nShards = 1` the pipeline degenerates to [[ivfTopK]]'s
    * geometry, sample, and fit — asserted bit-identical in
    * `DedupSimilaritySpec`.
    */
  /** Per-shard deterministic centroid fit: one-pass stratified sample
    * via the bounded [[BottomKSampleAgg]] (NOT a row_number window:
    * that would shuffle the whole corpus — embeddings included — into
    * ≤`shards` sorted partitions just to drop all but k rows each; the
    * typed aggregate partial-aggregates map-side so the exchange
    * carries ≤ sampleSize rows per shard per partition), then k-means
    * per shard slice on the driver. Ordering is (h, vec_id) — same
    * keys as [[fitCentroids]]'s sort, so the 1-shard form stays
    * bit-identical; k-means init is order-sensitive (take(k)), which
    * is why the aggregator's finish sorts.
    */
  def fitShardedCentroids(emb: DataFrame, shards: Int, cells: Int,
      sampleSize: Int = 2048): IndexedSeq[Array[Array[Float]]] =
    shardedSamples(emb, shards, sampleSize).map { slice =>
      // a shard no vector hashed to has NO centroids: consumers skip
      // empty slices explicitly ([[dispatchCells]], [[shardedQueryProbes]])
      // rather than relying on a sentinel matrix whose safety hinged on
      // NearestCentroids null-propagating a dimension mismatch
      if (slice.isEmpty) Array.empty[Array[Float]]
      else kmeansCentroids(slice, math.min(cells, slice.length))
        .map(_.map(_.toFloat))
    }

  /** The one-pass stratified sample behind every sharded model fit:
    * per-shard bottom-`sampleSize` by (id-hash, id) through the
    * bounded [[BottomKSampleAgg]], returned as per-shard double
    * matrices in (h, vec_id) order — the same keys as
    * [[fitCentroids]]'s sort, so 1-shard fits stay bit-identical to
    * their unsharded twins.
    */
  private def shardedSamples(emb: DataFrame, shards: Int,
      sampleSize: Int): IndexedSeq[Array[Array[Double]]] = {
    val s = emb.sparkSession
    import s.implicits._
    val shardOf = pmod(xxhash64(col("vec_id")), lit(shards)).cast("int")
    val sampled: Map[Int, Seq[Seq[Float]]] = emb
      .select(shardOf.as("shard"), xxhash64(col("vec_id")).as("h"),
        col("vec_id"), col("embedding"))
      .as[(Int, Long, Long, Seq[Float])]
      .groupByKey(_._1)
      .agg(new BottomKSampleAgg(sampleSize).toColumn.name("sample"))
      .collect().toMap
    (0 until shards).map { sh =>
      sampled.getOrElse(sh, Seq.empty)
        .map(_.map(_.toDouble).toArray).toArray
    }
  }

  /** One-pass sharded model fit for the IVF-PQ tier: the SAME
    * stratified sample as [[fitShardedCentroids]] (one collect) feeds
    * BOTH per-shard spherical coarse centroids and per-shard Euclidean
    * PQ codebooks — a 100 TB corpus is scanned once for the whole
    * model. With 1 shard both fits are bit-identical to
    * [[fitCentroids]] / [[fitPqCodebooks]] (same sample, same order,
    * same k-means), which is what pins the sharded tier's 1-shard
    * degeneracy in PqSpec. Empty shards get empty models; consumers
    * skip them.
    */
  def fitShardedPq(emb: DataFrame, shards: Int, cells: Int, m: Int,
      ksub: Int, sampleSize: Int = 2048)
      : (IndexedSeq[Array[Array[Float]]],
         IndexedSeq[Array[Array[Array[Float]]]]) = {
    val slices = shardedSamples(emb, shards, sampleSize)
    val centroids = slices.map { slice =>
      if (slice.isEmpty) Array.empty[Array[Float]]
      else kmeansCentroids(slice, math.min(cells, slice.length))
        .map(_.map(_.toFloat))
    }
    val codebooks = slices.map { slice =>
      if (slice.isEmpty) Array.empty[Array[Array[Float]]]
      else {
        val dim = slice.head.length
        require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
        val dsub = dim / m
        Array.tabulate(m) { j =>
          val sub = slice.map(v => v.slice(j * dsub, (j + 1) * dsub))
          kmeansEuclidean(sub, math.min(ksub, sub.length))
            .map(_.map(_.toFloat))
        }
      }
    }
    (centroids, codebooks)
  }

  /** Bounded CASE over shard id — one [[graft.functions.NearestCentroids]]
    * branch per NON-EMPTY shard. Empty shards get no branch: no corpus
    * row carries their shard id (that is what made them empty), so the
    * CASE's null fallthrough is unreachable for assignment dispatch.
    */
  private def dispatchCells(v: Column, shardC: Column,
      centroidsByShard: IndexedSeq[Array[Array[Float]]],
      nProbe: Int): Column = {
    import graft.functions.NearestCentroids.nearestCells
    val live = centroidsByShard.indices.filter(centroidsByShard(_).nonEmpty)
    require(live.nonEmpty, "no shard has any centroids — empty corpus")
    live.tail.foldLeft(
      when(shardC === live.head,
        nearestCells(v, centroidsByShard(live.head), nProbe))) {
      (acc, sh) =>
        acc.when(shardC === sh, nearestCells(v, centroidsByShard(sh),
          nProbe))
    }
  }

  def ivfTopKSharded(s: SparkSession, d: String, nShards: Int = 0,
      nQueries: Int = 5, k: Int = 10,
      sampleSize: Int = 2048): DataFrame = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    import graft.functions.NearestCentroids.nearestCells
    val emb = Tables.embeddings(s, d)
    val n = emb.count() // parquet-footer read, same as ivfTopK
    val shards = if (nShards > 0) nShards else shardsFor(n)
    val shardOf = pmod(xxhash64(col("vec_id")), lit(shards)).cast("int")
    val cells = cellsFor(math.ceil(n.toDouble / shards).toLong)
    val probes = probesFor(cells)
    val centroidsByShard =
      fitShardedCentroids(emb, shards, cells, sampleSize)
    val assigned = emb.select(col("vec_id"), col("embedding"),
        shardOf.as("shard"))
      .withColumn("cell", element_at(
        dispatchCells(col("embedding"), col("shard"), centroidsByShard, 1),
        1))
    val queryVecs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // queries fan out to EVERY shard's probe cells (lit shard id, so
    // the dispatch prunes to one branch per union arm at planning)
    val queryProbes = shardedQueryProbes(queryVecs, centroidsByShard,
      probes)
    scoreCandidates(assigned, queryProbes, Seq("shard", "cell"), k)
  }

  /** Query fan-out to EVERY shard's probe cells (lit shard id, so
    * per-shard centroid expressions prune to one branch per union arm
    * at planning). Input: (query_id, q).
    */
  private def shardedQueryProbes(queryVecs: DataFrame,
      centroidsByShard: IndexedSeq[Array[Array[Float]]],
      probes: Int): DataFrame = {
    import graft.functions.NearestCentroids.nearestCells
    // empty shards hold no vectors, so probing them can't add a
    // candidate — skip them instead of building a probe expression
    // over an empty centroid matrix
    val live = centroidsByShard.indices.filter(centroidsByShard(_).nonEmpty)
    require(live.nonEmpty, "no shard has any centroids — empty corpus")
    live.map { sh =>
      queryVecs.select(col("query_id"), col("q"),
        lit(sh).as("shard"),
        explode(nearestCells(col("q"), centroidsByShard(sh), probes))
          .as("cell"))
    }.reduce(_.unionAll(_))
  }

  /** Fit and persist the SHARDED IVF index — the scale path past one
    * index's ~65k-vector capacity, as lake artifacts: per-shard
    * `centroids` (shard, cell, centroid), `assignments`
    * (vec_id, embedding, shard, cell), and a one-row `meta`
    * (shards, probes). Built once per corpus snapshot; queries serve
    * from [[ivfTopKShardedFromIndex]] with no k-means and no corpus
    * pass. Assignments are PARTITIONED by (shard, cell), so probe
    * lists prune to the probed partitions via dynamic partition
    * pruning.
    */
  def ivfWriteIndexSharded(s: SparkSession, d: String, indexDir: String,
      nShards: Int = 0, sampleSize: Int = 2048): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val n = emb.count()
    val shards = if (nShards > 0) nShards else shardsFor(n)
    val shardOf = pmod(xxhash64(col("vec_id")), lit(shards)).cast("int")
    val cells = cellsFor(math.ceil(n.toDouble / shards).toLong)
    val probes = probesFor(cells)
    val centroidsByShard =
      fitShardedCentroids(emb, shards, cells, sampleSize)
    centroidsByShard.zipWithIndex.flatMap { case (m, sh) =>
      m.toIndexedSeq.map(_.toSeq).zipWithIndex.map { case (c, i) =>
        (sh, i, c)
      }
    }.toDF("shard", "cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    Seq((shards, probes)).toDF("shards", "probes")
      .write.mode("overwrite").parquet(s"$indexDir/meta")
    emb.select(col("vec_id"), col("embedding"), shardOf.as("shard"))
      .withColumn("cell", element_at(
        dispatchCells(col("embedding"), col("shard"), centroidsByShard, 1),
        1))
      .repartition(col("shard"), col("cell")) // one file per dir (see ivfWriteIndex)
      .write.mode("overwrite").partitionBy("shard", "cell")
      .parquet(s"$indexDir/assignments")
  }

  /** Serve sharded IVF top-k from a persisted index
    * ([[ivfWriteIndexSharded]]): the bounded centroids read (≤
    * shards×maxCells rows) rebuilds the per-shard probe expressions;
    * the persisted assignments join the fan-out — bit-identical to the
    * inline [[ivfTopKSharded]] at the same geometry (deterministic
    * fit; pinned in DedupSimilaritySpec).
    */
  def ivfTopKShardedFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 10): DataFrame = {
    val meta = s.read.parquet(s"$indexDir/meta").head()
    val (shards, probes) =
      (meta.getAs[Int]("shards"), meta.getAs[Int]("probes"))
    val centroidsByShard: IndexedSeq[Array[Array[Float]]] =
      s.read.parquet(s"$indexDir/centroids")
        .select(col("shard"), col("cell"), col("centroid"))
        .orderBy(col("shard"), col("cell")).collect()
        .foldLeft(IndexedSeq.fill(shards)(
          Vector.empty[Array[Float]])) { (acc, r) =>
          acc.updated(r.getInt(0),
            acc(r.getInt(0)) :+ r.getSeq[Float](2).toArray)
        }.map(_.toArray)
    val assigned = s.read.parquet(s"$indexDir/assignments")
    val queryVecs = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val queryProbes = shardedQueryProbes(queryVecs, centroidsByShard,
      probes)
    scoreCandidates(assigned, queryProbes, Seq("shard", "cell"), k)
  }

  /** ANN top-k via LSH buckets: candidates are same-bucket vectors only.
    * At 100 TB the corpus is never shuffled and never scored twice:
    * each corpus vector hashes to exactly one bucket and a query's
    * multiprobe masks are distinct, so a (query, candidate) pair can
    * match at most once — the corpus streams through ONE broadcast
    * probe join with inline scoring, and the only exchange is the
    * narrow (query_id, vec_id, sim) window input. (Candidate dedup
    * belongs to the BANDED multi-plane-set path,
    * [[Dedup.embeddingCandidates]], where a pair can match in several
    * bands.) Recall/cost tunes via nPlanes (fewer planes
    * → bigger buckets → higher recall, more compute) and probeRadius:
    * the query probes every bucket within that Hamming distance of its
    * own. Defaults (4 planes, radius 2 → 11 of 16 buckets) target
    * weakly-clustered corpora where top-k neighbors sit near cos ≈ 0.3;
    * strongly-clustered embeddings afford more planes and a smaller
    * radius.
    */
  def annTopK(s: SparkSession, d: String, dim: Int = 64,
      nQueries: Int = 5, k: Int = 10, nPlanes: Int = 0,
      probeRadius: Int = 2): DataFrame = {
    val embRaw = Tables.embeddings(s, d)
    // nPlanes <= 0 → derive from corpus size (parquet-footer count on
    // the RAW scan — counting after the parallelism floor would run
    // the repartition shuffle) so bucket occupancy — and with it
    // per-query candidate work — stays bounded as the corpus grows
    val planes = if (nPlanes > 0) nPlanes else planesFor(embRaw.count())
    val emb = Tables.parallelized(embRaw)
    val buckets = emb.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), dim, planes).as("bucket"))
    val masks = probeMasks(planes, probeRadius)
    val queryVecs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val qb = lshBucket(col("q"), dim, planes)
    val queryProbes = queryVecs.select(col("query_id"), col("q"),
      explode(array(masks.map(m =>
        qb.bitwiseXOR(lit(m))): _*)).as("bucket"))
    // single corpus pass, inline scoring: the bucket partition + the
    // distinct probe masks guarantee each (query, candidate) pair
    // appears at most once (see scaladoc), so there is nothing to
    // dedup and the fused cosine runs exactly once per pair
    scoreCandidates(buckets, queryProbes, Seq("bucket"), k)
  }

  /** Persist the LSH index for the embeddings at `d`: a `buckets`
    * table (vec_id, embedding, bucket) plus a one-row `meta` table
    * (planes, dim). The hyperplanes are seed-deterministic functions
    * of (dim, planes), so the meta row is the WHOLE model — a serving
    * process recomputes query buckets from it without touching the
    * corpus. The buckets parquet is PARTITIONED by `bucket`, so the
    * serve join's broadcast probe side prunes to the probed buckets'
    * files via dynamic partition pruning.
    */
  def lshWriteIndex(s: SparkSession, d: String, indexDir: String,
      dim: Int = 64, nPlanes: Int = 0,
      assignOnly: Option[Column] = None): Unit = {
    import s.implicits._
    val embRaw = Tables.embeddings(s, d)
    // plane count derives from the FULL corpus even when assignOnly
    // restricts what is indexed — the rest arrives via lshAppendBatch
    // under this frozen plane set (the fit-once pattern; the bucket of
    // a vector is a pure function of (embedding, planes), so a grown
    // index is EXACTLY the one-shot build at the same plane count)
    val planes = if (nPlanes > 0) nPlanes else planesFor(embRaw.count())
    Tables.parallelized(assignOnly.map(embRaw.filter).getOrElse(embRaw))
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), dim, planes).as("bucket"))
      .repartition(col("bucket")) // one file per dir (see ivfWriteIndex)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/buckets")
    Seq((planes, dim)).toDF("planes", "dim")
      .write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** Per-arrival LSH growth: bucket `newEmb` under the index's frozen
    * plane set (read from the one-row meta) into a
    * `buckets_batches/batch=<id>` dir — batch-scaled work, exactly-once
    * by keyed overwrite, bucket still a partition column so serve
    * pruning covers both sides of the union.
    * [[Similarity.promoteBatches]]`(table = "buckets", partitionCol =
    * "bucket")` folds committed batches back into base.
    */
  def lshAppendBatch(s: SparkSession, indexDir: String, newEmb: DataFrame,
      batchId: Long): Unit = {
    val meta = s.read.parquet(s"$indexDir/meta").head()
    val (planes, dim) = (meta.getAs[Int]("planes"), meta.getAs[Int]("dim"))
    newEmb
      .select(col("vec_id"), col("embedding"),
        lshBucket(col("embedding"), dim, planes).as("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/buckets_batches/batch=$batchId")
  }

  /** Serve LSH ANN top-k from a persisted index ([[lshWriteIndex]]):
    * reads the one-row meta, derives the query buckets + multiprobe
    * masks from it, and joins the persisted buckets — no corpus
    * hashing per query. Bit-identical to the inline [[annTopK]] at the
    * same geometry (seeded hyperplanes; pinned in
    * DedupSimilaritySpec).
    */
  def annTopKFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 10,
      probeRadius: Int = 2): DataFrame = {
    val meta = s.read.parquet(s"$indexDir/meta").head()
    val (planes, dim) =
      (meta.getAs[Int]("planes"), meta.getAs[Int]("dim"))
    val buckets = readAssignments(s, indexDir, table = "buckets")
    val masks = probeMasks(planes, probeRadius)
    val qb = lshBucket(col("q"), dim, planes)
    val queryProbes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .select(col("query_id"), col("q"),
        explode(array(masks.map(m =>
          qb.bitwiseXOR(lit(m))): _*)).as("bucket"))
    scoreCandidates(buckets, queryProbes, Seq("bucket"), k)
  }

  // ==== IVF-PQ: the compressed-index tier ==============================

  /** Plain (Euclidean) Lloyd k-means over a driver-side sample — the
    * PQ subspace fit. Deterministic like [[kmeansCentroids]]: init is
    * the head of the (already hash-ordered) sample, assignment ties
    * keep the lower centroid id (strict `<`), an empty cluster keeps
    * its previous centroid. Euclidean — NOT the spherical variant —
    * because PQ quantizes raw subvectors whose norms carry signal;
    * normalizing 8-dim slices of a unit vector would distort exactly
    * what the codebook must preserve.
    */
  def kmeansEuclidean(sample: Array[Array[Double]], k: Int,
      iters: Int = 10): Array[Array[Double]] = {
    var cents = sample.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(
        new Array[Double](sample.head.length))
      val counts = new Array[Int](cents.length)
      sample.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < p.length) {
            val diff = p(i) - cents(c)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.indices.map(c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))).toArray
    }
    cents
  }

  /** Deterministic PQ codebook fit: the SAME bottom-`sampleSize`
    * hash-ordered sample as [[fitCentroids]] (one corpus pass, total
    * order, reproducible), each vector split into `m` contiguous
    * `dim/m`-dim subvectors, one Euclidean k-means per subspace.
    * Returns codebooks(j)(c) = centroid c of subspace j. Bounded
    * driver work: O(iters × sample × ksub × dim) — a model fit, the
    * same budget class as the coarse-centroid fit.
    */
  def fitPqCodebooks(emb: DataFrame, m: Int, ksub: Int,
      sampleSize: Int = 2048): Array[Array[Array[Float]]] = {
    val sample: Array[Array[Double]] = emb
      .select(col("embedding"), xxhash64(col("vec_id")).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(sampleSize)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v => v.slice(j * dsub, (j + 1) * dsub))
      kmeansEuclidean(sub, math.min(ksub, sub.length))
        .map(_.map(_.toFloat))
    }
  }

  /** The ADC candidate join shared by the inline and persisted IVF-PQ
    * paths: broadcast (query, probed cell) rows against the (vec_id,
    * codes, cell) CODE table — the corpus embedding is absent from the
    * join entirely; each candidate is scored from its m-byte code via
    * [[graft.functions.PqScore]]. With `refine > 0`, the ADC top-
    * `refine` shortlist per query is re-ranked by exact fused cosine
    * against `refineFrom` (the raw-vector store): the shortlist is
    * broadcast, so the raw vectors for `queries × refine` rows are
    * fetched in one scan with no shuffle — the production two-tier
    * serve (compressed shortlist, point-fetch re-rank). `refine = 0`
    * ranks by ADC alone.
    */
  private def scorePqCandidates(codesDf: DataFrame,
      queryProbes: DataFrame, keys: Seq[String],
      codebooks: Array[Array[Array[Float]]], k: Int, refine: Int,
      refineFrom: => DataFrame): DataFrame = {
    import graft.functions.PqOps.pqScore
    val adc = codesDf.join(broadcast(queryProbes), keys)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q"), col("vec_id"),
        pqScore(col("q"), col("codes"), codebooks).as("sim"))
    rankAndRefinePq(adc, k, refine, refineFrom)
  }

  /** The sharded ADC join: same shape as [[scorePqCandidates]] but the
    * score expression dispatches to the candidate's SHARD's codebooks
    * through a bounded CASE (the [[dispatchCells]] pattern) — each
    * scored row still touches exactly one codebook reference object.
    */
  private def scoreShardedPqCandidates(codesDf: DataFrame,
      queryProbes: DataFrame,
      codebooksByShard: IndexedSeq[Array[Array[Array[Float]]]], k: Int,
      refine: Int, refineFrom: => DataFrame): DataFrame = {
    import graft.functions.PqOps.pqScore
    val live =
      codebooksByShard.indices.filter(codebooksByShard(_).nonEmpty)
    require(live.nonEmpty, "no shard has any codebooks — empty corpus")
    def dispatchScore(q: Column, codes: Column, shardC: Column): Column =
      live.tail.foldLeft(
        when(shardC === live.head,
          pqScore(q, codes, codebooksByShard(live.head)))) { (acc, sh) =>
        acc.when(shardC === sh, pqScore(q, codes, codebooksByShard(sh)))
      }
    val adc = codesDf.join(broadcast(queryProbes), Seq("shard", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q"), col("vec_id"),
        dispatchScore(col("q"), col("codes"), col("shard")).as("sim"))
    rankAndRefinePq(adc, k, refine, refineFrom)
  }

  /** Shared PQ ranking tail: window-rank the ADC scores; with
    * `refine > 0` re-rank the broadcast top-`refine` shortlist by
    * exact fused cosine against `refineFrom` (the raw-vector store) —
    * one fetch scan, no shuffle. Input `adc`:
    * (query_id, q, vec_id, sim).
    */
  private def rankAndRefinePq(adc0: DataFrame, k: Int, refine: Int,
      refineFrom: => DataFrame): DataFrame = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val adc = adc0.withColumn("rk", row_number().over(w))
    if (refine <= 0)
      adc.filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id"),
          r4(col("sim")).as("sim"), col("rk"))
    else {
      val shortlist = adc.filter(col("rk") <= math.max(refine, k))
        .select(col("query_id"), col("q"), col("vec_id"))
      refineFrom.select(col("vec_id"), col("embedding"))
        .join(broadcast(shortlist), Seq("vec_id"))
        .select(col("query_id"), col("vec_id"),
          fusedCosine(col("q"), col("embedding")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id"),
          r4(col("sim")).as("sim"), col("rk"))
    }
  }

  /** IVF-PQ ANN top-k — the compressed-index tier, the shape a 100 TB
    * vector corpus actually serves from: the IVF coarse quantizer
    * prunes the search to `nProbe` cells (as [[ivfTopK]]), and within
    * them candidates are scored from m-BYTE product-quantization codes
    * ([[graft.functions.PqScore]]) instead of raw embeddings — a 64-dim
    * float vector (256 B payload) becomes an 8-byte code, so the
    * serveable index is ~30× smaller and the candidate join moves
    * codes, not vectors. Both fits are deterministic (hash-ordered
    * sample; spherical k-means for the coarse cells, per-subspace
    * Euclidean k-means for the codebooks), so results pin to a golden
    * oracle exactly like the rest of the ANN family.
    *
    * `refine` enables the production two-tier ranking: ADC shortlist
    * (top-`refine` per query from codes alone), then exact fused-cosine
    * re-rank of the shortlist against the raw vectors — a broadcast of
    * `queries × refine` rows, one fetch scan, no shuffle. ADC error
    * then only matters at the shortlist BOUNDARY, so recall approaches
    * the uncompressed index's while candidate scoring stays on codes.
    * `refine = 0` ranks purely by ADC (what a codes-only deployment
    * does).
    *
    * Geometry: cells/probes derive from the corpus as in [[ivfTopK]];
    * `m`/`ksub` default to 16 subspaces × 16 codes with a 100-row
    * refine shortlist — the r16 geometry sweep's optimum (recall@10
    * 0.90 at sf0.01, the plain-IVF probe ceiling; the near-isotropic
    * test embeddings need the finer subspace split, and the 500–2k-row
    * corpora can't fill 256-entry codebooks). Production geometry is
    * m = dim/8 with ksub = 256 (full-byte codes), which the
    * reference-object expressions handle without plan growth.
    */
  def ivfPqTopK(s: SparkSession, d: String, nCells: Int = 0,
      nQueries: Int = 5, k: Int = 10, nProbe: Int = 0, m: Int = 16,
      ksub: Int = 16, refine: Int = 100,
      sampleSize: Int = 2048): DataFrame = {
    import graft.functions.NearestCentroids.nearestCells
    import graft.functions.PqOps.pqEncode
    val emb = Tables.embeddings(s, d)
    val cells = if (nCells > 0) nCells else cellsFor(emb.count())
    val probes = if (nProbe > 0) nProbe else probesFor(cells)
    val centroidMatrix = fitCentroids(emb, cells, sampleSize)
    val codebooks = fitPqCodebooks(emb, m, ksub, sampleSize)
    val codes = emb.select(col("vec_id"),
      element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
        .as("cell"),
      pqEncode(col("embedding"), codebooks).as("codes"))
    val queryProbes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .select(col("query_id"), col("q"),
        explode(nearestCells(col("q"), centroidMatrix, probes))
          .as("cell"))
    scorePqCandidates(codes, queryProbes, Seq("cell"), codebooks, k,
      refine, emb)
  }

  /** Fit and persist the IVF-PQ index: `centroids` (cell, centroid),
    * `codebooks` (sub, code, centroid), and the compressed `codes`
    * table (vec_id, codes BINARY(m)) PARTITIONED by cell — ~30× the
    * raw [[ivfWriteIndex]] assignments' density, and the serve join's
    * broadcast probe side prunes it to the probed cells' files via
    * dynamic partition pruning. This is the artifact tier a 100 TB
    * deployment keeps HOT; the raw embeddings stay in the lake as the
    * cold point-fetch store the `refine` re-rank reads.
    */
  def ivfPqWriteIndex(s: SparkSession, d: String, indexDir: String,
      nCells: Int = 0, m: Int = 16, ksub: Int = 16,
      sampleSize: Int = 2048, assignOnly: Option[Column] = None): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    import graft.functions.PqOps.pqEncode
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cells = if (nCells > 0) nCells else cellsFor(emb.count())
    val centroidMatrix = fitCentroids(emb, cells, sampleSize)
    val codebooks = fitPqCodebooks(emb, m, ksub, sampleSize)
    centroidMatrix.toIndexedSeq.map(_.toSeq).zipWithIndex
      .map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    codebooks.toIndexedSeq.zipWithIndex.flatMap { case (cb, j) =>
      cb.toIndexedSeq.zipWithIndex.map { case (c, code) =>
        (j, code, c.toSeq)
      }
    }.toDF("sub", "code", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
    // assignOnly restricts which vectors are ENCODED (the rest arrive
    // later via ivfPqAppendBatch) — both model fits stay on the full
    // corpus, as with ivfWriteIndex
    assignOnly.map(emb.filter).getOrElse(emb)
      .select(col("vec_id"),
        element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
          .as("cell"),
        pqEncode(col("embedding"), codebooks).as("codes"))
      .repartition(col("cell")) // one file per dir (see ivfWriteIndex)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/codes")
  }

  /** Read the bounded codebooks table onto the driver (m × ksub rows —
    * the model, same class of collect as [[readCentroids]]).
    */
  private def readCodebooks(s: SparkSession,
      indexDir: String): Array[Array[Array[Float]]] =
    s.read.parquet(s"$indexDir/codebooks")
      .select(col("sub"), col("code"), col("centroid"))
      .orderBy(col("sub"), col("code")).collect()
      .foldLeft(Map.empty[Int, Vector[Array[Float]]]) { (acc, r) =>
        val j = r.getInt(0)
        acc.updated(j,
          acc.getOrElse(j, Vector.empty) :+ r.getSeq[Float](2).toArray)
      } match {
        case bySub => Array.tabulate(bySub.size)(j => bySub(j).toArray)
      }

  /** [[ivfAppendBatch]] for the compressed tier: encode a batch of new
    * vectors against the FROZEN model of a persisted IVF-PQ index
    * (coarse centroids AND PQ codebooks — both fit once, both held
    * fixed as the lake grows) and write it as
    * `codes_batches/batch=<id>/cell=<c>/` dirs with dynamic partition
    * overwrite — exactly-once under retries, per-batch work scales
    * with the batch. Since both the cell assignment and the m-byte
    * code are pure functions of (embedding, frozen model), the grown
    * codes table is row-identical to a one-shot encode of the union —
    * the ADC shortlist, and therefore the refined serve, must
    * reproduce the one-shot build's ranking exactly
    * (`q_ann_ivfpq_appended_served` pins this against the
    * `q_ann_ivfpq` golden). The 100 TB hot tier is exactly the index
    * that must grow in place: at 16 B/vector a nightly re-encode is
    * affordable NEVER, while a batch encode is one narrow pass.
    */
  def ivfPqAppendBatch(s: SparkSession, indexDir: String,
      newVectors: DataFrame, batchId: Long): Unit = {
    import graft.functions.NearestCentroids.nearestCells
    import graft.functions.PqOps.pqEncode
    val centroidMatrix = readCentroids(s, indexDir)
    val codebooks = readCodebooks(s, indexDir)
    newVectors
      .select(lit(batchId).as("batch"), col("vec_id"),
        element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
          .as("cell"),
        pqEncode(col("embedding"), codebooks).as("codes"))
      .repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "cell")
      .parquet(s"$indexDir/codes_batches")
  }

  /** Serve IVF-PQ top-k from a persisted index ([[ivfPqWriteIndex]]):
    * bounded collects of the centroid table and codebooks (the model),
    * probe planning against them, ADC over the partition-pruned codes
    * table, optional exact re-rank against `refineFrom` (the raw
    * vector store — required when `refine > 0`). Bit-identical to the
    * inline [[ivfPqTopK]] at the same geometry (deterministic fits;
    * pinned in PqSpec).
    */
  def ivfPqTopKFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 10, nProbe: Int = 0,
      refine: Int = 0, refineFrom: Option[DataFrame] = None): DataFrame = {
    import graft.functions.NearestCentroids.nearestCells
    require(refine <= 0 || refineFrom.nonEmpty,
      "refine > 0 needs refineFrom (the raw-vector store)")
    val centroidMatrix: Array[Array[Float]] = readCentroids(s, indexDir)
    val codebooks: Array[Array[Array[Float]]] = readCodebooks(s, indexDir)
    val probes =
      if (nProbe > 0) nProbe else probesFor(centroidMatrix.length)
    // codes appended after the build ([[ivfPqAppendBatch]]) live in a
    // sibling batch-partitioned table (cell stays a partition column,
    // so pruning covers both sides of the union) and tombstoned rows
    // anti-join out — readAssignments is the live-set definition, and
    // the refine re-rank can't resurrect a deleted id because its
    // shortlist derives from these rows
    val codes = readAssignments(s, indexDir, table = "codes")
    val queryProbes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      .select(col("query_id"), col("q"),
        explode(nearestCells(col("q"), centroidMatrix, probes))
          .as("cell"))
    scorePqCandidates(codes, queryProbes, Seq("cell"), codebooks, k,
      refine, refineFrom.getOrElse(codes.limit(0)))
  }

  /** Sharded IVF-PQ ANN top-k — the 100 TB HOT tier proper: the
    * compressed index ([[ivfPqTopK]]) composed with the shard
    * machinery ([[ivfTopKSharded]]), because the corpus a deployment
    * compresses is exactly the one past a single index's ~65k-vector
    * capacity. Per-shard coarse centroids AND per-shard PQ codebooks
    * come from ONE stratified-sample pass ([[fitShardedPq]]); the
    * corpus is scanned once into (shard, cell, m-byte code) rows;
    * queries fan out to every shard's probe cells; ADC scores
    * cross-shard candidates against their own shard's codebooks
    * through a bounded CASE; one global window merges the union, and
    * the optional `refine` re-rank fetches raw vectors for the
    * broadcast shortlist only — so the serve path moves codes between
    * executors, never embeddings, regardless of shard count.
    *
    * With `nShards = 1` every stage degenerates bit-identically to
    * [[ivfPqTopK]] (same sample, fits, probes, scores — asserted in
    * PqSpec).
    */
  def ivfPqTopKSharded(s: SparkSession, d: String, nShards: Int = 0,
      nQueries: Int = 5, k: Int = 10, m: Int = 16, ksub: Int = 16,
      refine: Int = 100, sampleSize: Int = 2048): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val n = emb.count() // parquet-footer read, same as ivfTopKSharded
    val shards = if (nShards > 0) nShards else shardsFor(n)
    val shardOf = pmod(xxhash64(col("vec_id")), lit(shards)).cast("int")
    val cells = cellsFor(math.ceil(n.toDouble / shards).toLong)
    val probes = probesFor(cells)
    val (centroidsByShard, codebooksByShard) =
      fitShardedPq(emb, shards, cells, m, ksub, sampleSize)
    val codes = emb
      .select(col("vec_id"), col("embedding"), shardOf.as("shard"))
      .select(col("vec_id"), col("shard"),
        element_at(dispatchCells(col("embedding"), col("shard"),
          centroidsByShard, 1), 1).as("cell"),
        dispatchPqEncode(col("embedding"), col("shard"),
          codebooksByShard).as("codes"))
    val queryVecs = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val queryProbes = shardedQueryProbes(queryVecs, centroidsByShard,
      probes)
    scoreShardedPqCandidates(codes, queryProbes, codebooksByShard, k,
      refine, emb)
  }

  /** Bounded CASE over shard id for PQ encoding — one
    * [[graft.functions.PqEncode]] branch per non-empty shard, the
    * [[dispatchCells]] pattern.
    */
  private def dispatchPqEncode(v: Column, shardC: Column,
      codebooksByShard: IndexedSeq[Array[Array[Array[Float]]]]): Column = {
    import graft.functions.PqOps.pqEncode
    val live =
      codebooksByShard.indices.filter(codebooksByShard(_).nonEmpty)
    require(live.nonEmpty, "no shard has any codebooks — empty corpus")
    live.tail.foldLeft(
      when(shardC === live.head,
        pqEncode(v, codebooksByShard(live.head)))) { (acc, sh) =>
      acc.when(shardC === sh, pqEncode(v, codebooksByShard(sh)))
    }
  }

  /** Fit and persist the sharded IVF-PQ index: per-shard `centroids`
    * (shard, cell, centroid) and `codebooks` (shard, sub, code,
    * centroid), a one-row `meta` (shards, probes), and the compressed
    * `codes` table (vec_id, codes BINARY(m)) PARTITIONED by
    * (shard, cell) — the probe fan-out prunes the serve scan to probed
    * partitions via dynamic partition pruning, exactly as the raw
    * sharded index does, at ~1/30 the bytes per pruned-in row. The raw
    * embeddings stay in the lake as the cold store the `refine`
    * re-rank point-fetches.
    */
  def ivfPqWriteIndexSharded(s: SparkSession, d: String,
      indexDir: String, nShards: Int = 0, m: Int = 16, ksub: Int = 16,
      sampleSize: Int = 2048): Unit = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val n = emb.count()
    val shards = if (nShards > 0) nShards else shardsFor(n)
    val shardOf = pmod(xxhash64(col("vec_id")), lit(shards)).cast("int")
    val cells = cellsFor(math.ceil(n.toDouble / shards).toLong)
    val probes = probesFor(cells)
    val (centroidsByShard, codebooksByShard) =
      fitShardedPq(emb, shards, cells, m, ksub, sampleSize)
    centroidsByShard.zipWithIndex.flatMap { case (mx, sh) =>
      mx.toIndexedSeq.map(_.toSeq).zipWithIndex.map { case (c, i) =>
        (sh, i, c)
      }
    }.toDF("shard", "cell", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids")
    codebooksByShard.zipWithIndex.flatMap { case (cbs, sh) =>
      cbs.toIndexedSeq.zipWithIndex.flatMap { case (cb, j) =>
        cb.toIndexedSeq.zipWithIndex.map { case (c, code) =>
          (sh, j, code, c.toSeq)
        }
      }
    }.toDF("shard", "sub", "code", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/codebooks")
    Seq((shards, probes)).toDF("shards", "probes")
      .write.mode("overwrite").parquet(s"$indexDir/meta")
    emb.select(col("vec_id"), col("embedding"), shardOf.as("shard"))
      .select(col("vec_id"), col("shard"),
        element_at(dispatchCells(col("embedding"), col("shard"),
          centroidsByShard, 1), 1).as("cell"),
        dispatchPqEncode(col("embedding"), col("shard"),
          codebooksByShard).as("codes"))
      .repartition(col("shard"), col("cell")) // one file per dir (see ivfWriteIndex)
      .write.mode("overwrite").partitionBy("shard", "cell")
      .parquet(s"$indexDir/codes")
  }

  /** Serve sharded IVF-PQ top-k from a persisted index
    * ([[ivfPqWriteIndexSharded]]): bounded reads rebuild the per-shard
    * model (≤ shards×maxCells centroid rows, shards×m×ksub codebook
    * rows), probe planning fans out per shard, ADC runs over the
    * partition-pruned codes table, and `refine > 0` re-ranks against
    * `refineFrom`. Bit-identical to the inline [[ivfPqTopKSharded]] at
    * the same geometry (deterministic fits; pinned in PqSpec).
    */
  def ivfPqTopKShardedFromIndex(s: SparkSession, indexDir: String,
      queries: DataFrame, k: Int = 10, refine: Int = 0,
      refineFrom: Option[DataFrame] = None): DataFrame = {
    require(refine <= 0 || refineFrom.nonEmpty,
      "refine > 0 needs refineFrom (the raw-vector store)")
    val meta = s.read.parquet(s"$indexDir/meta").head()
    val (shards, probes) =
      (meta.getAs[Int]("shards"), meta.getAs[Int]("probes"))
    val centroidsByShard: IndexedSeq[Array[Array[Float]]] =
      s.read.parquet(s"$indexDir/centroids")
        .select(col("shard"), col("cell"), col("centroid"))
        .orderBy(col("shard"), col("cell")).collect()
        .foldLeft(IndexedSeq.fill(shards)(
          Vector.empty[Array[Float]])) { (acc, r) =>
          acc.updated(r.getInt(0),
            acc(r.getInt(0)) :+ r.getSeq[Float](2).toArray)
        }.map(_.toArray)
    val codebooksByShard: IndexedSeq[Array[Array[Array[Float]]]] =
      s.read.parquet(s"$indexDir/codebooks")
        .select(col("shard"), col("sub"), col("code"), col("centroid"))
        .orderBy(col("shard"), col("sub"), col("code")).collect()
        .foldLeft(IndexedSeq.fill(shards)(
          Vector.empty[(Int, Array[Float])])) { (acc, r) =>
          acc.updated(r.getInt(0),
            acc(r.getInt(0)) :+ ((r.getInt(1), r.getSeq[Float](3).toArray)))
        }.map { flat =>
          if (flat.isEmpty) Array.empty[Array[Array[Float]]]
          else {
            val bySub = flat.groupBy(_._1)
            Array.tabulate(bySub.size)(j => bySub(j).map(_._2).toArray)
          }
        }
    val codes = s.read.parquet(s"$indexDir/codes")
    val queryVecs = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val queryProbes = shardedQueryProbes(queryVecs, centroidsByShard,
      probes)
    scoreShardedPqCandidates(codes, queryProbes, codebooksByShard, k,
      refine, refineFrom.getOrElse(codes.limit(0)))
  }
}
