package graft

/** Driver-contract smoke: every declared query runs at sf0.001 and
  * returns rows; oracle keys are a subset of query keys; the flagship
  * entry returns rows.
  */
class EntrySpec extends SparkSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  // duplicate-detection queries are legitimately empty on clean
  // testdata; q16's NOT-IN prunes all 10 suppliers at sf0.001
  private val mayBeEmpty = Set("q_anti_join", "q_minhash_pairs",
    "q_ngram_jaccard", "q_simhash_pairs", "q_embedding_neardups",
    "q_containment", "q16_supplier_cnt")

  // the *_served queries read the lake indexes prepare builds; one
  // build serves both sweeps below, since no query writes under
  // TextQueries.indexRoot
  private lazy val prepared: Unit = SparkEntry.prepare(spark, sf())

  test("every query runs and returns rows at sf0.001") {
    prepared
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf()).count()
        if (n == 0 && !mayBeEmpty(name)) Some(name) else None
    }
    assert(empties.isEmpty, s"empty results: $empties")
  }

  // The three plan gates (cartesian, BNLJ allowlist, shuffle budget)
  // run in ONE pass below: several query constructors execute real
  // driver jobs (IVF counts, centroid/codebook fits), so each extra
  // all-queries sweep costs minutes of suite time.

  // queries whose BroadcastNestedLoopJoin nodes are DOCUMENTED (SCALE
  // .md): one-row scalar/total broadcasts crossed onto small frames,
  // and the intentional broadcast-probe brute-force baselines (the
  // q_ann_brute class). Anything else planning a BNLJ is an accidental
  // quadratic join.
  private val bnljDocumented = Set(
    "q11_concentration", "q_ann_brute", "q_ann_brute_agg", "q_ann_int8",
    "q_ann_int8_appended_served", "q_ann_int8_promoted_served",
    "q_ann_int8_served",
    // the delete-lifecycle twins inherit their families' documented
    // broadcast-probe crosses (int8/bq) and one-row stats broadcasts
    // (bm25 — plus the tombstone-aggregate row the deleted serve adds)
    "q_ann_int8_deleted_served", "q_ann_int8_del_compacted_served",
    "q_ann_bq_deleted_served", "q_bm25_deleted_served",
    "q_bm25_del_compacted_served",
    // the binary tier's Hamming shortlist and the truncation-recall
    // eval are the same intentional broadcast-probe cross (bounded
    // probe set broadcasts, corpus/bit-table streams through once)
    "q_ann_bq", "q_ann_bq_served", "q_ann_bq_appended_served",
    "q_ann_bq_promoted_served", "q_matryoshka_recall",
    // inherit their bq dense leg's documented broadcast-probe cross
    "q_hybrid_rrf_bq_served", "q_rerank_bq_served",
    "q_bitext_mine", "q_bm25", "q_bm25_and",
    "q_bm25_appended_served", "q_bm25_served", "q_chi2",
    "q_collocations", "q_dsir", "q_forecast", "q_funnel",
    "q_hard_negatives", "q_heavy_hitters", "q_histogram",
    "q_hll_mergeable", "q_hybrid_rrf", "q_hybrid_rrf_served",
    "q_join_size_ams", "q_pagerank", "q_perplexity",
    "q_perplexity_served",
    // r18: the BPE stats/fertility rows cross the one-row
    // (word → n_syms) vocabulary MAP onto the document frame
    // (Bpe.docTokenStats — the broadcast-map encode that replaced the
    // token explode + join; same one-row-broadcast class as q11)
    "q_bpe_encode_stats", "q_bpe_encode_served",
    "q_bpe_fertility", "q_bpe_fertility_served",
    // the LM erasure serves add the tombstone-watermark one-row
    // broadcast (Search.statsMinusTombs' shape) on top of the
    // perplexity family's documented V/total scalar crosses
    "q_perplexity_deleted_served", "q_perplexity_del_compacted_served",
    "q_ppl_model_stats_deleted",
    // the manifest's clean-token total and temperature normalizer are
    // one-row aggregates crossed back onto the per-source frame
    "q_mix_manifest",
    // the executor-side greedy exposes the candidate stage's plan
    // (r17 — the result is no longer a driver-collected
    // LocalTableScan): its shortlist pass is the q_ann_brute
    // broadcast-probe cross, inherited here
    "q_mmr_rerank",
    "q_quality_ensemble", "q_quality_nb",
    // q_length_buckets: q_seq_pack's sharded prefix sum — the in-plan
    // one-row bounds aggregate broadcasts as BNLJ by design
    "q_scalar_subquery", "q_seq_pack", "q_length_buckets",
    "q_source_drift",
    "q_temperature_mix",
    // broadcast-probe scoring over the whole corpus by design: the
    // maxsim query set crosses the corpus on doc<>query_id, the
    // q_ann_brute class (the filtered twins hash-join instead — their
    // label predicate gives Catalyst an equi key)
    "q_maxsim",
    // composes the brute ground-truth leg, inheriting its documented
    // broadcast-probe cross
    "q_retrieval_ndcg",
    // decontamination broadcast-probe sweep: eval vectors cross the
    // train corpus by design (the q_ann_brute scale shape — bounded
    // probe side broadcasts, corpus streams through once)
    "q_semantic_decontam",
    // same one-row-broadcast shapes, surfacing at sf0.001 sizes
    // (q_semantic_gate's probe set collapses to one collected row;
    // q_embedding_outliers broadcasts its centroid and threshold rows)
    "q_semantic_gate", "q_embedding_outliers",
    "q_heavy_hitters_grouped", "q_bm25_phrase", "q_bm25_phrase_served",
    "q_cms", "q_contamination", "q_winsorize", "q_skew_profile",
    "q_validate", "q_key_discovery",
    // r14: one-row-per-side crossJoins of the four per-column
    // single-distinct aggregates (the split that removed the
    // multi-distinct Expand blowup)
    "q_profile",
    // composes the hybrid cascade, inheriting its dense leg's
    // documented broadcast-probe cross (the q_hybrid_rrf note); the
    // served twin inherits q_hybrid_rrf_served's instead (r15)
    "q_rerank", "q_rerank_served")

  test("plan gates in one pass: no CartesianProduct anywhere, BNLJ " +
      "only in documented queries, and per-query shuffle counts " +
      "exactly match tools/plan_budget.json") {
    prepared
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/plan_budget.json")), "UTF-8")
    val budget = raw.split("\n").flatMap { line =>
      val m = """\s*"([^"]+)":\s*(\d+),?\s*""".r
      line match {
        case m(k, v) => Some(k -> v.toInt)
        case _ => None
      }
    }.toMap
    val qNames = SparkEntry.queries.keySet
    assert((qNames -- budget.keySet).isEmpty,
      s"queries missing a pinned budget (regenerate: sbt 'runMain " +
        s"graft.PlanBudget'): ${qNames -- budget.keySet}")
    assert((budget.keySet -- qNames).isEmpty,
      s"stale budget entries: ${budget.keySet -- qNames}")
    // physical plan only — nothing executes; one-row scalar broadcasts
    // plan as BroadcastNestedLoopJoin, never CartesianProduct, so the
    // cartesian allowlist is EMPTY by design
    var cartesian = List.empty[String]
    var bnlj = List.empty[String]
    var drift = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf()).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) cartesian ::= name
      if (plan.contains("BroadcastNestedLoopJoin") &&
        !bnljDocumented(name)) bnlj ::= name
      // exact match both directions: a plan that gained an exchange is
      // a regression; one that lost an exchange means the pinned audit
      // (and SCALE.md's narrative) is stale — regenerate on purpose
      val got = graft.PlanAudit.shuffleCountIn(plan)
      if (got != budget(name)) drift ::= s"$name: ${budget(name)} -> $got"
    }
    assert(cartesian.isEmpty, s"cartesian products in: $cartesian")
    assert(bnlj.isEmpty, s"undocumented BNLJ in: $bnlj")
    assert(drift.isEmpty,
      s"shuffle-count drift vs tools/plan_budget.json (regenerate " +
        s"via sbt 'runMain graft.PlanBudget' if intentional): $drift")
  }

  test("block-manager leak gate: every committed bench-ledger left_mb " +
      "sits under its pinned ceiling, and a deliberate leak is caught " +
      "by the same measurement + gate path") {
    // ledger gate (r15 VERDICT #4): Bench ledgers what each query
    // leaves behind; this pins ceilings so the crowding class cannot
    // return silently when a future lazyCheckpoint consumer forgets
    // its cut — the next bench re-pin fails the suite instead
    val num = """\s*"([^"]+)":\s*([0-9.]+),?\s*""".r
    val budgetLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/leak_budget.json")), "UTF-8")
      .split("\n").toSeq
    val pinned = budgetLines.collect {
      case num(k, v) => k -> v.toDouble }.toMap
    val defaultMb = pinned.getOrElse("default_mb",
      fail("tools/leak_budget.json missing default_mb"))
    val overrides = pinned - "default_mb"
    val staleOverrides = overrides.keySet -- SparkEntry.queries.keySet
    assert(staleOverrides.isEmpty,
      s"leak_budget overrides for unregistered queries: $staleOverrides")
    val ledgerRow =
      """\s*"([^"]+)":\s*\{.*"left_mb":\s*([0-9.]+)\}.*""".r
    val ledger = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/bench_latest.json")), "UTF-8")
      .split("\n").collect {
        case ledgerRow(k, v) => k -> v.toDouble }.toMap
    assert(ledger.nonEmpty, "no left_mb rows parsed from bench_latest")
    val bad = LeakGate.violations(ledger, defaultMb, overrides)
    assert(bad.isEmpty, s"ledgered block-manager leaks: $bad")
    // mechanism fixture: leak deliberately, assert the measurement
    // sees it, the gate fires on it, and the sweep clears it
    LeakGate.sweep(spark)
    import spark.implicits._
    val leaky = spark.range(500000).map(i => (i, i * 2))
      .toDF("a", "b").localCheckpoint(true)
    leaky.count()
    val (n, mb) = LeakGate.leftBlocks(spark)
    assert(n > 0 && mb > 0.0, "deliberate leak invisible to leftBlocks")
    assert(LeakGate.violations(
      Map("q_leaky" -> (defaultMb + mb)), defaultMb, overrides).nonEmpty)
    LeakGate.sweep(spark)
    val (n2, mb2) = LeakGate.leftBlocks(spark)
    assert(n2 == 0 && mb2 == 0.0, s"sweep left $n2 RDDs / $mb2 MB")
  }
}
