package graft.operators

import graft.Tables
import graft.functions.Fns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword search over the document corpus: a distributed inverted
  * index with Okapi BM25 ranking — the retrieval leg of the
  * training-data pipeline (contamination triage, corpus exploration,
  * targeted sampling) alongside the ANN family's embedding search.
  *
  * Two paths share one scorer, so they are identical by construction:
  *  - inline: postings/df/corpus-stats recomputed from `documents`;
  *  - served: the same frames read back from a persisted index.
  *
  * Scale shape: the postings build is one explode + two-phase hash
  * aggregate keyed on (term, doc) — high-cardinality, skew-safe; the
  * index is partitioned BY TERM on disk, so a query's scan statically
  * prunes to its terms' partitions (verified in the serve plan) and
  * the scored join is a broadcast of the tiny (query × term) frame
  * against only those postings. Document length is denormalized into
  * each posting row — the classic search-engine trick that removes the
  * corpus-sized doc-stats join from the serve path entirely. Corpus
  * scalars (N, Σdl) ride along as a broadcast 1-row frame. Ranking
  * rounds to 4 dp BEFORE the per-query top-k window (ties broken by
  * doc_id), so the ranking is deterministic across engines and
  * partition layouts.
  *
  * At 100 TB: partition postings by a term HASH BUCKET (bounded
  * partition count) instead of the raw term, same pruning math; the
  * per-query work after pruning is proportional to the query terms'
  * posting lists, never the corpus.
  */
object Search {
  private val K1 = 1.2
  private val B = 0.75

  /** Fixed deterministic query set over the testdata vocabulary:
    * two common terms, a mid phrase, and a rare+common contrast
    * ("dup" has ~40× lower document frequency than the rest).
    */
  val defaultQueries: Seq[(Int, String)] = Seq(
    1 -> "hash", 1 -> "join",
    2 -> "window", 2 -> "agg", 2 -> "stream",
    3 -> "dup", 3 -> "scan")

  private def tokensOf(s: SparkSession, d: String,
      docFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val docs = Tables.parallelized(Tables.documents(s, d))
    docFilter.map(docs.filter).getOrElse(docs)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
  }

  /** Inverted-index rows (term, doc_id, dl, tf[, positions]) — dl
    * denormalized. `withPositions` adds the sorted token-offset array
    * enabling phrase (exact-span) matching over the persisted index;
    * the BM25 serve path never selects it, so the column stays in the
    * parquet footer (columnar prune) and costs the ranking path
    * nothing. The inline BM25 twin skips it entirely.
    */
  private def postingsOf(toks: DataFrame,
      withPositions: Boolean = false): DataFrame = {
    val base = toks.select(col("doc_id"), size(col("ts")).as("dl"),
        posexplode(col("ts")).as(Seq("pos", "term")))
      .groupBy(col("term"), col("doc_id"), col("dl"))
    if (withPositions)
      // collect_list order is layout-dependent; sort_array restores
      // determinism (offsets within one doc are distinct)
      base.agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))
    else base.agg(count(lit(1)).as("tf"))
  }

  /** Document frequency per term: postings are unique per (term, doc). */
  private def termstatsOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Corpus scalars: N and Σdl (integer-exact, so avgdl = Σdl/N is the
    * same double in every engine).
    */
  private def statsOf(toks: DataFrame): DataFrame =
    toks.agg(count(lit(1)).as("n"),
      sum(size(col("ts"))).cast("double").as("sumdl"))

  /** [[statsOf]] as persisted in the index: the scalars plus the
    * tombstone fold WATERMARK `tw` — the highest tombstone batch id
    * already folded into these scalars (−1 for a fresh build/append:
    * nothing folded). The serve-time adjustment subtracts only
    * tombstone batches ABOVE the watermark, which is what makes the
    * compaction swap safe at any interruption point: the instant the
    * compacted stats land, their folded batches stop subtracting,
    * whether or not the tombstone retire has happened yet (the window
    * [[Tombstones.clear]]'s anti-join argument does NOT cover for
    * aggregate-based adjustments like these scalars).
    */
  private def statsRowOf(toks: DataFrame): DataFrame =
    statsOf(toks).withColumn("tw", lit(-1L))

  /** Persist the index: term-partitioned postings + df + corpus stats.
    * `docFilter` restricts which documents are indexed at build time —
    * the rest arrive later via [[appendBatch]].
    */
  def buildIndex(s: SparkSession, d: String, indexDir: String,
      docFilter: Option[org.apache.spark.sql.Column] = None): Unit = {
    val toks = tokensOf(s, d, docFilter)
    val post = postingsOf(toks, withPositions = true)
    post.write.mode("overwrite").partitionBy("term")
      .parquet(s"$indexDir/postings")
    termstatsOf(post).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/termstats")
    statsRowOf(toks).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/stats")
  }

  /** Grow the index with a batch of NEW documents — no rebuild. Unlike
    * the ANN tiers there is no frozen-model approximation to accept:
    * postings rows are per (doc, term) and batches carry disjoint
    * docs, so base ∪ batches IS the one-shot index of the union, and
    * df / N / Σdl are plain sums of per-batch partials — the grown
    * serve is bit-identical to a full rebuild (spec-pinned). Retries
    * are exactly-once: each batch replaces its own `batch=<id>` dirs.
    * [[Similarity.compactIvfAppends]] (partitionCol = "term") folds
    * committed batch dirs into one to bound small-files growth.
    */
  def appendBatch(s: SparkSession, indexDir: String, newDocs: DataFrame,
      batchId: Long): Unit = {
    val toks = newDocs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val post = postingsOf(toks, withPositions = true)
    post.write.mode("overwrite").partitionBy("term")
      .parquet(s"$indexDir/postings_batches/batch=$batchId")
    termstatsOf(post).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/termstats_batches/batch=$batchId")
    statsRowOf(toks).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/stats_batches/batch=$batchId")
  }

  /** Admin-cadence promotion: fold every committed append batch back
    * into the BASE postings/termstats/stats tables and remove the
    * batch dirs — the grown index returns to the minimal serve plan
    * (no sum-fold exchanges, one postings scan). This is the rare,
    * corpus-sized rewrite; [[appendBatch]] + compaction remain the
    * per-arrival path. Staged publish: [[IndexTable.promote]].
    */
  def promoteBatches(s: SparkSession, indexDir: String): Unit =
    IndexTable.promote(s, indexDir, IndexTables) { at =>
      IndexTable.union(s, indexDir, "postings")
        .repartition(col("term"))
        .write.mode("overwrite").partitionBy("term")
        .parquet(at("postings"))
      IndexTable.union(s, indexDir, "termstats")
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
        .coalesce(1).write.mode("overwrite").parquet(at("termstats"))
      foldedStats(s, indexDir)
        .coalesce(1).write.mode("overwrite").parquet(at("stats"))
    }

  private val IndexTables = Seq("postings", "termstats", "stats")

  /** The per-batch corpus scalars summed, the fold watermark carried. */
  private def foldedStats(s: SparkSession, indexDir: String): DataFrame =
    IndexTable.union(s, indexDir, "stats")
      .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl"),
        max(col("tw")).as("tw"))

  /** Shared BM25 scorer: Lucene's idf = ln(1 + (N-df+.5)/(df+.5)),
    * tf-norm with k1=1.2, b=0.75.
    */
  private def score(s: SparkSession, postings: DataFrame,
      termstats: DataFrame, stats: DataFrame,
      queries: Seq[(Int, String)], k: Int,
      requireAll: Boolean = false): DataFrame = {
    import s.implicits._
    val terms = queries.map(_._2).distinct
    val qdf = queries.toDF("query_id", "term")
    val tstats = termstats.filter(col("term").isin(terms: _*))
    val perDoc = postings
      .join(broadcast(qdf), "term")
      .join(broadcast(tstats), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(K1 + 1)) /
          (col("tf") + lit(K1) * (lit(1.0 - B) +
            lit(B) * col("dl") / (col("sumdl") / col("n")))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(r4(sum(col("contrib"))).as("score"),
        count(lit(1)).as("nt")) // matched terms: postings are unique
                                // per (term, doc), query terms distinct
    val scored =
      if (!requireAll) perDoc
      else {
        // conjunctive (AND) retrieval: keep only docs matching EVERY
        // query term — the per-query term count rides a broadcast
        val qn = queries.groupBy(_._1).view.mapValues(_.size).toSeq
          .toDF("query_id", "n_terms")
        perDoc.join(broadcast(qn), "query_id")
          .filter(col("nt") === col("n_terms"))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Inline twin: everything recomputed from the corpus. */
  def bm25(s: SparkSession, d: String,
      queries: Seq[(Int, String)] = defaultQueries,
      k: Int = 10): DataFrame = {
    val toks = tokensOf(s, d)
    val post = postingsOf(toks)
    score(s, post, termstatsOf(post), statsOf(toks), queries, k)
  }

  /** Conjunctive (AND) retrieval: BM25 ranking restricted to documents
    * containing EVERY query term — the triage mode where a
    * disjunctive top-k is too permissive (a high-tf hit on one common
    * term outranking true all-term matches). Same scorer, same
    * term-pruned scan; the conjunction is a filter on the per-doc
    * matched-term count already produced by the scoring aggregate, so
    * the plan shape (and the 100 TB posture) is q_bm25's plus one
    * broadcast of per-query term counts.
    */
  def bm25And(s: SparkSession, d: String,
      queries: Seq[(Int, String)] = defaultQueries,
      k: Int = 10): DataFrame = {
    val toks = tokensOf(s, d)
    val post = postingsOf(toks)
    score(s, post, termstatsOf(post), statsOf(toks), queries, k,
      requireAll = true)
  }

  /** [[bm25And]] over a persisted index (base + committed batches). */
  def bm25AndFromIndex(s: SparkSession, indexDir: String,
      queries: Seq[(Int, String)] = defaultQueries,
      k: Int = 10): DataFrame =
    servedFrames(s, indexDir, queries) match {
      case (post, termstats, stats) =>
        score(s, post, termstats, stats, queries, k, requireAll = true)
    }

  /** Fixed deterministic phrase set over the testdata vocabulary:
    * three common bigrams and one rare trigram (the
    * contamination-triage shape — "does this exact span occur, where,
    * how often").
    */
  val defaultPhrases: Seq[(Int, String)] = Seq(
    1 -> "hash join", 2 -> "sort merge", 3 -> "hash join key",
    4 -> "scan filter")

  /** Shared phrase matcher over an exploded (term, doc_id, pos) frame:
    * a document contains the phrase at start position p iff word i of
    * the phrase occurs at p + i for every i — so each posting position
    * joins its phrase offsets (broadcast), shifts to the implied start,
    * and a start realized by ALL offsets is one occurrence. Two hash
    * aggregates, both keyed within (query, doc) — no corpus-sized
    * state beyond the term-pruned postings themselves, and repeated
    * phrase words are handled for free (each offset row contributes
    * its own shifted start).
    */
  private def phraseHits(s: SparkSession, positions: DataFrame,
      phrases: Seq[(Int, String)]): DataFrame = {
    import s.implicits._
    val parts = phrases.flatMap { case (qid, p) =>
      val ws = p.split(" ").filter(_.nonEmpty)
      ws.zipWithIndex.map { case (w, i) => (qid, w, i, ws.length) }
    }
    val pdf = parts.toDF("query_id", "term", "offset", "n_terms")
    positions
      .join(broadcast(pdf), "term")
      .select(col("query_id"), col("doc_id"), col("n_terms"),
        (col("pos") - col("offset")).as("start"))
      // one row per (query, doc, offset, start): count == n_terms
      // means every phrase word landed on this start
      .groupBy(col("query_id"), col("doc_id"), col("n_terms"),
        col("start"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === col("n_terms") && col("start") >= 0)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occ"))
  }

  /** Exact-span (phrase) occurrence counts, inline twin: token
    * positions come straight off the corpus tokenization. Output one
    * row per (query, matching doc) with the occurrence count.
    */
  def phraseMatch(s: SparkSession, d: String,
      phrases: Seq[(Int, String)] = defaultPhrases): DataFrame = {
    val terms = phrases.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct
    val positions = tokensOf(s, d)
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "term")))
      .filter(col("term").isin(terms: _*))
    phraseHits(s, positions, phrases)
  }

  /** [[phraseMatch]] over a persisted index: the positions arrays in
    * the term-partitioned posting rows ([[postingsOf]] with
    * `withPositions`) explode back to (term, doc_id, pos) — the term
    * filter statically prunes to the phrase words' partitions, so the
    * served phrase query reads posting lists proportional to the
    * phrase, never the corpus.
    */
  def phraseMatchFromIndex(s: SparkSession, indexDir: String,
      phrases: Seq[(Int, String)] = defaultPhrases): DataFrame = {
    val terms = phrases.flatMap(_._2.split(" ")).filter(_.nonEmpty).distinct
    // pending logical deletes are anti-joined out, as in servedFrames
    val positions = IndexTable.live(s, indexDir, "postings", "doc_id")
      .filter(col("term").isin(terms: _*))
      .select(col("term"), col("doc_id"),
        explode(col("positions")).as("pos"))
    phraseHits(s, positions, phrases)
  }

  /** Serve twin: reads the persisted index (base plus any committed
    * append batches); the term filter statically prunes the
    * term-partitioned postings scans on BOTH sides, and the bounded
    * stats partials fold by summation.
    */
  def bm25FromIndex(s: SparkSession, indexDir: String,
      queries: Seq[(Int, String)] = defaultQueries,
      k: Int = 10): DataFrame =
    servedFrames(s, indexDir, queries) match {
      case (post, termstats, stats) =>
        score(s, post, termstats, stats, queries, k)
    }

  /** The three frames a served ranking reads: term-pruned postings,
    * df, corpus scalars — each folding committed append batches in
    * only when they exist, so an ungrown index serves with the
    * minimal plan (no sum-fold exchanges).
    */
  /** Index integrity / drift monitor — the BM25 counterpart of
    * [[Similarity.ivfCellStats]]: the persisted termstats (committed
    * append batches sum-folded in) bucketed into a power-of-two df
    * histogram. The bucket is the integer binary length of df
    * (`length(bin(df)) − 1`), never a float log — engine-exact at the
    * power boundaries. Answering the corpus-recompute oracle pins the
    * INDEX against the corpus: a double-counted append, a lost batch,
    * or skew in a term's df lands in a different bucket and fails the
    * hash compare — a distributed fsck for the retrieval tier.
    */
  def indexTermStats(s: SparkSession, indexDir: String): DataFrame = {
    val termstats =
      if (IndexTable.exists(s, s"$indexDir/termstats_batches"))
        IndexTable.union(s, indexDir, "termstats")
          .groupBy(col("term")).agg(sum(col("df")).as("df"))
      else s.read.parquet(s"$indexDir/termstats")
    termstats
      .select((length(bin(col("df"))) - 1).cast("int").as("df_bucket"),
        col("df"))
      .groupBy("df_bucket")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("df")).cast("long").as("sum_df"))
  }

  private def servedFrames(s: SparkSession, indexDir: String,
      queries: Seq[(Int, String)]): (DataFrame, DataFrame, DataFrame) = {
    val terms = queries.map(_._2).distinct
    val grown = IndexTable.exists(s, s"$indexDir/postings_batches")
    val post0 = IndexTable.union(s, indexDir, "postings")
      .filter(col("term").isin(terms: _*))
    val termstats0 =
      if (grown) IndexTable.union(s, indexDir, "termstats")
        .groupBy(col("term")).agg(sum(col("df")).as("df"))
      else s.read.parquet(s"$indexDir/termstats")
    val stats0 =
      if (grown) foldedStats(s, indexDir)
      else s.read.parquet(s"$indexDir/stats")
    Tombstones.readRaw(s, indexDir) match {
      case None => (post0, termstats0, stats0.select("n", "sumdl"))
      case Some(tombRaw) =>
        // logical deletes pending: the pruned postings anti-join the
        // (tiny, broadcast) tombstone set; df for the QUERY terms is
        // recounted from those same surviving pruned rows (exact —
        // stored df is by construction the postings row count per
        // term); the corpus scalars adjust by the tombstones'
        // recorded (count, Σdl) — all of it index-local, no corpus
        // re-read, work scales with the erasure set
        val post = post0.join(
          broadcast(tombRaw.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_anti")
        val termstats = post.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        (post, termstats,
          statsMinusTombs(stats0, tombRaw).select("n", "sumdl"))
    }
  }

  /** The survivors' corpus scalars: folded stats minus the UNFOLDED
    * tombstones' (count, Σdl). Two guards make the subtraction exact
    * under the failure modes an aggregate adjustment is exposed to
    * (anti-joins shrug both off; sums don't): (1) only tombstone
    * batches ABOVE the stats row's fold watermark subtract — batches a
    * completed-or-interrupted compaction already folded stop counting
    * the instant the swapped stats land, tombstoned or not; (2) rows
    * dedupe by doc_id first — a re-sent erasure request landing as a
    * SECOND live batch (natural under at-least-once delivery) must
    * subtract its doc once, not twice. The one case neither guard
    * covers — a re-request for a doc an earlier compaction already
    * folded out — is excluded by [[deleteDocs]]' residency invariant:
    * erasure requests name STORED documents, and that doc is gone.
    * Output carries the advanced watermark for [[compactDeletes]] to
    * persist; serve paths drop it.
    */
  private def statsMinusTombs(stats0: DataFrame,
      tombRaw: DataFrame): DataFrame = {
    // one row per doc, carrying the NEWEST batch that names it — the
    // watermark must advance past every unfolded batch, not past an
    // arbitrary duplicate's
    val unfolded = tombRaw
      .crossJoin(broadcast(stats0.select(col("tw"))))
      .filter(col("batch") > col("tw"))
      .groupBy(col("doc_id"))
      .agg(first(col("dl")).as("dl"), max(col("batch")).as("batch"))
      .agg(count(lit(1)).as("tn"),
        sum(col("dl")).cast("double").as("tdl"),
        max(col("batch")).cast("long").as("maxb"))
    stats0.crossJoin(broadcast(unfolded))
      .select((col("n") - col("tn")).as("n"),
        (col("sumdl") - coalesce(col("tdl"), lit(0.0d))).as("sumdl"),
        greatest(col("tw"), coalesce(col("maxb"), col("tw"))).as("tw"))
  }

  /** Logical delete (the GDPR-erasure path): `docs` are the documents
    * to erase, (doc_id, text) — the text is tokenized ONCE here to
    * record each deleted doc's length, so the serve-time corpus
    * scalars (N, Σdl) adjust by exact subtraction without any corpus
    * re-scan (work scales with the erasure request). Every serve
    * anti-joins the tombstoned doc_ids until [[compactDeletes]] folds
    * the deletions into a fresh base. Caller's invariant: the ids are
    * index-resident (erasure requests name stored documents).
    */
  def deleteDocs(s: SparkSession, indexDir: String, docs: DataFrame,
      batchId: Long): Unit =
    Tombstones.append(s, indexDir,
      docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl")),
      batchId)

  /** Admin-cadence delete close-out: rewrite postings without the
    * tombstoned docs (committed append batches fold in), recount df
    * from the surviving postings, subtract the tombstones' (count,
    * Σdl) from the corpus scalars, retire batch dirs and tombstones —
    * the serve returns to the minimal stored-stats plan. Staged
    * publish: [[IndexTable.compact]]; the advanced fold watermark in
    * the staged stats is what keeps its swap-to-retire window exact.
    */
  def compactDeletes(s: SparkSession, indexDir: String): Unit =
    IndexTable.compact(s, indexDir, IndexTables) { at =>
      val tombRaw = Tombstones.readRaw(s, indexDir).get
      IndexTable.union(s, indexDir, "postings")
        .join(broadcast(tombRaw.select(col("doc_id")).distinct()),
          Seq("doc_id"), "left_anti")
        .repartition(col("term"))
        .write.mode("overwrite").partitionBy("term")
        .parquet(at("postings"))
      // recount from the REWRITTEN postings (one read of the compacted
      // table, term-complete), not the pre-delete stored df
      s.read.parquet(at("postings"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .coalesce(1).write.mode("overwrite").parquet(at("termstats"))
      // the same watermark-guarded, doc-deduped subtraction the serve
      // runs — and the ADVANCED watermark persists with the scalars,
      // so these batches stop subtracting the moment this row lands
      statsMinusTombs(foldedStats(s, indexDir), tombRaw)
        .coalesce(1).write.mode("overwrite").parquet(at("stats"))
    }
}
