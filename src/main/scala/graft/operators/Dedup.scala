package graft.operators

import graft.Tables
import graft.operators.TextOps.tokens
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash-groupBy), MinHash+LSH near-dup, and n-gram Jaccard
  * verification. Designed scale-first:
  *
  *  - Exact dedup groups on a 64-bit content hash, not the text itself —
  *    the shuffle carries 8-byte keys, not documents.
  *  - MinHash LSH never compares all pairs: docs shuffle once keyed by
  *    (band, bandHash); only same-bucket docs meet. With b bands of r
  *    rows, collision prob. is 1-(1-j^r)^b — a sharp threshold around
  *    j ≈ (1/b)^(1/r). Candidate pairs are then verified with true
  *    shingle-set Jaccard, so false positives cost only the verify join.
  *  - Everything is built-in array expressions — no UDFs, no driver
  *    loops, no collect.
  */
object Dedup {

  /** Exact dedup: canonical (min) doc id and copy count per distinct
    * content hash. Returns one row per distinct document.
    */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(xxhash64(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** Lazy lineage cut for the candidate-pair frames the verify stage
    * reads twice: materialization happens on the first ACTION (an eager
    * checkpoint would run the corpus job at plan-construction time).
    * The `graft.audit.noCheckpoint` system property skips the cut so
    * plan audits (ExplainPlans/gen_scale) see the full candidate
    * subtree instead of an opaque `Scan ExistingRDD` — execution paths
    * never set it.
    */
  private[operators] def lazyCheckpoint(df: DataFrame): DataFrame =
    if (sys.props.get("graft.audit.noCheckpoint").contains("true")) df
    else df.localCheckpoint(eager = false)

  /** Word 3-gram shingles from a token-array COLUMN. The tokens must be
    * a materialized column (not an inline expression): higher-order
    * lambdas re-evaluate non-attribute subexpressions per element, so an
    * inlined tokenizer would re-split the document for every shingle.
    * Referencing `toks` three times also keeps CollapseProject from
    * inlining a non-cheap producer.
    */
  def shinglesFromTokens(toks: Column): Column =
    array_distinct(
      when(size(toks) < 3, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ",
            element_at(toks, i + 1),
            element_at(toks, i + 2),
            element_at(toks, i + 3)))))

  /** Convenience wrapper for single-shot use (tests, tiny inputs) —
    * quadratic in tokens if used inside another lambda; hot paths stage
    * `tokens(text)` first and call [[shinglesFromTokens]].
    */
  def shingles(text: Column): Column = shinglesFromTokens(tokens(text))

  /** Per-token xxhash64 values — the staged input of
    * [[hashedShinglesFromTokenHashes]]. Must land in its own
    * materialized column (the [[shinglesFromTokens]] staging rule).
    */
  def tokenHashes(toks: Column): Column = transform(toks, x => xxhash64(x))

  /** Distinct 3-gram shingle HASHES computed without ever building the
    * 3-word shingle strings (r17, guide §1.2 step 2 — the same
    * allocation cut as Substring's window hash): each token hashes
    * once per document, each shingle is one varargs xxhash64 over its
    * window's three token hashes (24 bytes streamed, zero string
    * concat), and the distinct-set reduction runs over longs instead
    * of strings. The short-doc case (< 3 tokens → one whole-doc
    * shingle) hashes the joined string exactly as before, so its value
    * is unchanged. Hash VALUES for ≥3-token shingles differ from the
    * old hash-of-string form — every consumer derives both sides of
    * its comparisons from this one definition (and the persisted
    * bucket/first-seen indexes rebuild per session), so only the
    * 64-bit collision class matters, and it is unchanged; the DuckDB
    * oracles still pair/count on gram STRINGS, so the gates police
    * collisions exactly as before. `th`/`toks` must be materialized
    * columns — the lambda references them per element.
    */
  def hashedShinglesFromTokenHashes(th: Column, toks: Column): Column =
    array_distinct(
      when(size(toks) < 3, array(xxhash64(concat_ws(" ", toks))))
        .otherwise(transform(sequence(lit(0), size(th) - 3),
          i => xxhash64(element_at(th, i + 1),
            element_at(th, i + 2), element_at(th, i + 3)))))

  /** Stage documents → (doc_id, sh, shh): tokenization, shingling and
    * per-shingle hashing each evaluated exactly once per document.
    * `shh` (8-byte longs) feeds both the minhash signature and the
    * exact Jaccard verification (set sizes match the string form
    * absent 64-bit collisions); `sh` (strings) remains for callers
    * that need the readable shingles — Catalyst prunes it elsewhere.
    */
  private def shingled(s: SparkSession, d: String): DataFrame =
    shingleStage(Tables.parallelized(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))

  /** The tokenize→shingle→hash pipeline over any (doc_id, text) frame —
    * shared by the corpus pass and [[minhashPairs]]' pruned verify pass.
    *
    * Deliberately KEEPS the hash-of-shingle-STRING form (r17): the
    * cheaper [[hashedShinglesFromTokenHashes]] staging changes every
    * shingle hash VALUE, and the MinHash/LSH banding built on these
    * hashes is probabilistic in recall — re-rolling the values was
    * measured to lose one true pair at sf0.01 (q_minhash_pairs 24 vs
    * the exhaustive oracle's 25), failing seven downstream gates. The
    * deterministic-recall consumers (novelty's exact gram identity,
    * containment's pigeonhole prefix filter, jaccard's exhaustive
    * small-block path) use the cheap staging; the signature path pins
    * the hash values its banded recall was validated on.
    */
  private def shingleStage(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), shinglesFromTokens(col("toks")).as("sh"))
      .select(col("doc_id"), col("sh"),
        array_sort(transform(col("sh"), x => xxhash64(x))).as("shh"))

  /** MinHash signature from a column of PRE-HASHED shingles (longs):
    * the expensive string hashing happens once per shingle upstream;
    * the k "permutations" re-hash the 8-byte longs with k seeds —
    * ~20x less data through the hash function than seeding over the
    * 3-word shingle strings k times. Computed by the fused single-pass
    * Expression; [[composedMinhashSignature]] keeps the k-pass built-in
    * form it is bit-equality-tested against.
    */
  def minhashSignature(shHashes: Column, k: Int): Column =
    graft.functions.FusedMinHashSignature.fusedMinhash(shHashes, k)

  /** The composed built-in form of [[minhashSignature]] — k array
    * passes; reference implementation for the fused Expression's
    * equality test.
    */
  def composedMinhashSignature(shHashes: Column, k: Int): Column =
    array((0 until k).map(i =>
      array_min(transform(shHashes, h => xxhash64(h, lit(i))))): _*)

  /** (doc_id, band, bucket) rows from a (doc_id, sig) frame — bucket
    * key = xxhash64 of the band's signature SLICE (hashed as a long
    * array, never stringified — equal slices ⇔ equal hashes, so the
    * candidate set is identical to any other injective band key).
    */
  private def bandedBuckets(withSig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    // lazyCheckpoint for the same generator-input reason as
    // bandedHammingPairs: without the cut, the projection computing
    // `sig` (fused minhash over the interpreted shingle chain)
    // collapses into the band explode and re-pays per generator row
    lazyCheckpoint(withSig.select(col("doc_id"), col("sig")))
      .select(
        col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + lit(1),
              lit(rowsPerBand))).as("bucket")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** The banded-LSH candidate stage of [[minhashPairs]] over a
    * (doc_id, sig) frame: docs sharing any (band, bucket) pair up. The
    * self-join carries only (band, bucket, id); the repartition puts
    * one Exchange under both sides so ReuseExchange computes the
    * signature subtree once.
    */
  def minhashCandidatesOf(withSig: DataFrame, bands: Int,
      rowsPerBand: Int, dedup: Boolean = true): DataFrame = {
    val banded = bandedBuckets(withSig, bands, rowsPerBand)
      .repartition(col("band"), col("bucket"))
    val raw = banded
      .join(banded.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b")), Seq("band", "bucket"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
    // dedup = false lets a caller that already collapses duplicates
    // downstream (minhashPairs' verify groupBy) skip this exchange; a
    // pair agreeing in several bands then just fetches its shingle
    // hashes ≤ bands times instead of paying a keys-only shuffle here
    if (dedup) raw.distinct() else raw
  }

  /** [[minhashCandidatesOf]] over the documents at `d` — the
    * measurable candidate stage (growth probes, recall audits).
    */
  def minhashCandidates(s: SparkSession, d: String,
      bands: Int = 4, rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    val withSig = shingled(s, d)
      .select(col("doc_id"), minhashSignature(col("shh"), k).as("sig"))
    minhashCandidatesOf(withSig, bands, rowsPerBand)
  }

  /** MinHash+LSH near-duplicate pairs, verified with true Jaccard over
    * shingle sets. `bands` × `rowsPerBand` must equal the signature
    * length k. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    *
    * Plan shape (scale-critical): the LSH join carries ONLY
    * (band, bucket, doc_id) — 24 bytes per row — never the shingle
    * arrays; the rare candidate pairs are then verified by the pruned
    * single-pass stage ([[verifiedJaccard]]). At 100 TB the wide
    * document payload is touched exactly twice (once to shingle, once
    * per verified candidate member), and the quadratic step only ever
    * sees fixed-width keys.
    */
  def minhashPairs(s: SparkSession, d: String,
      bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val k = bands * rowsPerBand
    val withSig = shingled(s, d)
      .select(col("doc_id"), minhashSignature(col("shh"), k).as("sig"))
    // Candidate pairs are materialized once (localCheckpoint): they are
    // a tiny, dup-rate-bounded set of 16-byte id pairs, and the verify
    // stage needs them twice (member-id prune + pair reassembly) —
    // without the checkpoint the whole corpus-wide signature/self-join
    // pipeline would re-run per use. eager=false: materialization
    // happens on the first ACTION, not at plan construction — an eager
    // checkpoint made merely building this DataFrame run the full
    // corpus job (ExplainPlans paid it just to print plans).
    val candidates = lazyCheckpoint(
      minhashCandidatesOf(withSig, bands, rowsPerBand, dedup = false))
    verifiedJaccard(Tables.documents(s, d).select(col("doc_id"),
      col("text")), candidates, threshold)
  }

  /** The pruned verify stage, shared by [[minhashPairs]] (corpus
    * self-dedup) and [[incrementalMinhashPairs]] (new-vs-index).
    *
    * Verification runs on the 8-byte shingle HASHES (set sizes are
    * identical to the string form absent 64-bit collisions, ~n²/2⁶⁴)
    * and shingles ONLY candidate members: `docs` prunes against the
    * distinct candidate-id set (a semi join AQE broadcasts) BEFORE the
    * tokenize→shingle→hash pipeline, so the second corpus pass does
    * per-row text work for the dup-rate fraction of documents instead
    * of all of them (the growth probe measures the admitted fraction
    * flat at the dup-member rate). Both pair sides then come back in
    * ONE join: candidates explode to (pair, member doc_id) rows and a
    * candidate-sized groupBy reassembles the pair — the wide shingle
    * arrays never shuffle corpus-wide.
    */
  private def verifiedJaccard(docs: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val sides = candidates.select(
      col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    val memberIds = sides.select(col("doc_id")).distinct()
    val candShh = shingleStage(
      docs.join(memberIds, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("shh"))
    val paired = candShh
      .join(sides, Seq("doc_id"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("doc_id") === col("doc_a"), col("shh")), true)
          .as("sh_a"),
        first(when(col("doc_id") === col("doc_b"), col("shh")), true)
          .as("sh_b"))
    paired
      .select(col("doc_a"), col("doc_b"),
        graft.functions.FusedJaccardSorted
          .fusedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection: pairs involving at least one NEW
    * document — new-vs-index and new-vs-new — without ever pairing
    * index docs with each other. This is the daily-ingest shape at
    * 100 TB: the indexed corpus is NOT re-paired against itself (its
    * self-pairs were found when those docs arrived), so per-run join
    * work scales with the new batch, and the verify stage re-shingles
    * only candidate MEMBERS — the handful of index docs a new doc
    * actually collides with, not the index.
    *
    * `indexDocs`/`newDocs` are (doc_id, text, ...) frames with
    * DISJOINT ids (the caller's invariant — ids are ingest-unique).
    * In production the index side's signatures and banded buckets
    * persist in the lake (S8-class sink) and are appended per batch;
    * here they are recomputed from `indexDocs`, which leaves the join
    * SHAPE identical and only moves where the bucket rows come from.
    * Returns (doc_a, doc_b, jaccard), doc_a < doc_b, same contract as
    * [[minhashPairs]].
    */
  def incrementalMinhashPairs(indexDocs: DataFrame, newDocs: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame =
    incrementalMinhashPairsFromIndex(
      minhashBuckets(indexDocs, bands, rowsPerBand),
      indexDocs, newDocs, bands, rowsPerBand, threshold)

  /** The persistable LSH index over a (doc_id, text, ...) frame: one
    * (doc_id, band, bucket) row per band — the artifact a production
    * pipeline writes to the lake (S8-class sink, partitioned or
    * bucketed by (band, bucket)) and APPENDS each batch's rows to, so
    * the standing corpus is never re-shingled. 24 bytes per row,
    * `bands` rows per document.
    */
  def minhashBuckets(docs: DataFrame, bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame = {
    val k = bands * rowsPerBand
    bandedBuckets(
      shingleStage(Tables.parallelized(
        docs.select(col("doc_id"), col("text"))))
        .select(col("doc_id"), minhashSignature(col("shh"), k).as("sig")),
      bands, rowsPerBand)
  }

  /** [[incrementalMinhashPairs]] against a PERSISTED index: the
    * standing corpus's banded buckets come from `indexBuckets` (a
    * prior [[minhashBuckets]] write) rather than being recomputed, so
    * per-run signature work — not just join work — scales with the new
    * batch. `indexDocs` still supplies the verify stage's text, but
    * the pruned verify re-shingles only the candidate MEMBERS the LSH
    * probe admits, never the index.
    */
  def incrementalMinhashPairsFromIndex(indexBuckets: DataFrame,
      indexDocs: DataFrame, newDocs: DataFrame,
      bands: Int = 4, rowsPerBand: Int = 4,
      threshold: Double = 0.7): DataFrame = {
    val newB = minhashBuckets(newDocs, bands, rowsPerBand)
      .repartition(col("band"), col("bucket"))
    val allB = indexBuckets
      .select(col("doc_id"), col("band"), col("bucket"))
      .unionByName(newB)
    // every emitted pair has a new doc on the probe side; canonical
    // orientation + the verify groupBy collapse the duplicates a
    // new-new pair gets from matching in both directions/bands
    val candidates = lazyCheckpoint(newB
      .join(allB.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b")), Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("doc_b"))
      .select(least(col("doc_id"), col("doc_b")).as("doc_a"),
        greatest(col("doc_id"), col("doc_b")).as("doc_b")))
    val allDocs = indexDocs.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))
    verifiedJaccard(allDocs, candidates, threshold)
  }

  /** Registry form of [[incrementalMinhashPairs]]: the newest fifth of
    * the documents table (ids ≥ ⌊4·max/5⌋) plays the incoming batch,
    * the rest the standing index — deterministic and recomputable in
    * SQL, so the oracle covers the incremental path end-to-end. The
    * split id stays IN the plan as a SQL ScalarSubquery rather than a
    * `.head()` at construction time — building this DataFrame must not
    * run a job (the same rule as the lazy candidate checkpoint above;
    * ExplainPlans constructs every registry query just to print
    * plans). A subquery beats the crossJoin(broadcast(scalar)) form
    * here because each side is referenced twice downstream (signature
    * stage + verify union): the crossJoin subtree re-expands at every
    * reference (4 BNLJ + 4 unshared max-agg scans in the physical
    * plan), while identical subqueries are deduped by
    * ReuseSubquery/AQE's subquery cache and the filters stay simple
    * predicates on the scan. The subquery resolves against a temp view
    * registered at construction (analysis is eager, so later
    * re-registration cannot retarget an already-built plan).
    */
  def incrementalDedupQuery(s: SparkSession, d: String,
      threshold: Double = 0.7, bands: Int = 4,
      rowsPerBand: Int = 4): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    docs.createOrReplaceTempView("graft_incr_docs")
    val splitId = "(select (max(doc_id) * 4) div 5 from graft_incr_docs)"
    // Both sides of the 80/20 split come from ONE table here, so the
    // signature pipeline runs ONCE over the whole corpus and the probe
    // side is a filter ABOVE the (band, bucket) repartition — the two
    // join sides share the identical Exchange subtree and ReuseExchange
    // computes the shingle/minhash work a single time (the
    // minhashCandidatesOf trick). The two-frame
    // [[incrementalMinhashPairs]] cannot do this (its sides are
    // arbitrary frames); the production daily-ingest path is
    // [[incrementalMinhashPairsFromIndex]], which re-shingles only the
    // batch. Probing new-vs-ALL yields exactly the pairs with a new
    // member: index-index pairs never form (probe side is new-only),
    // and new-new pairs collapse through the canonical orientation +
    // verify groupBy like any other double match.
    val banded = minhashBuckets(docs, bands, rowsPerBand)
      .repartition(col("band"), col("bucket"))
    val candidates = lazyCheckpoint(banded
      .filter(expr(s"doc_id >= $splitId"))
      .join(banded.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b")), Seq("band", "bucket"))
      .filter(col("doc_id") =!= col("doc_b"))
      .select(least(col("doc_id"), col("doc_b")).as("doc_a"),
        greatest(col("doc_id"), col("doc_b")).as("doc_b")))
    verifiedJaccard(docs, candidates, threshold)
  }

  /** SimHash near-duplicate pairs: 64-bit SimHash (TextOps.fingerprints)
    * split into 4 16-bit bands; docs sharing any band pair up, verified
    * by Hamming distance over the full signature. Near-dups differ in
    * few bits, so they almost surely agree on at least one band
    * (pigeonhole: ≤3 flipped bits can dirty at most 3 of 4 bands).
    * The band join again carries only (band, key, id).
    */
  def simhashPairs(s: SparkSession, d: String,
      maxHamming: Int = 6): DataFrame = {
    val fp = TextOps.fingerprints(s, d).select(col("doc_id"), col("simhash"))
    bandedHammingPairs(fp, "doc_id", "simhash", maxHamming,
      "doc_a", "doc_b")
  }

  /** The banded-Hamming machinery behind [[simhashPairs]], usable over
    * ANY 64-bit signature column (SimHash, image dHash, audio
    * fingerprints): the signature splits into 4 16-bit bands; rows
    * sharing any band pair up, verified by Hamming distance over the
    * full signature — near-dups differ in few bits, so they almost
    * surely agree on at least one band (pigeonhole: ≤3 flipped bits
    * can dirty at most 3 of 4 bands). The band self-join carries only
    * (band, bkey, id, sig); null signatures (failed decodes) are
    * dropped, never paired. Output: (`outA`, `outB`, hamming) with
    * outA < outB.
    */
  def bandedHammingPairs(sig: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, outA: String, outB: String): DataFrame = {
    // repartition on the join key puts an Exchange under both sides of
    // the self-join; ReuseExchange then computes the signature subtree
    // (e.g. SimHash's 64 bit-votes, or the BMP decode) once instead of
    // once per side. The lazyCheckpoint cuts the subtree off the band
    // GENERATOR's input: exploding a column whose projection collapses
    // an expensive chain re-pays the chain per generator row
    // (Dedup.hashedShingleArrays' measured pathology — here that chain
    // is the 64 bit-vote aggregates or a media decode, ×4 bands)
    val sigOnly = lazyCheckpoint(
      sig.filter(col(sigCol).isNotNull).select(col(idCol), col(sigCol)))
    val banded = sigOnly
      .select(col(idCol), col(sigCol),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col(sigCol), b * 16).bitwiseAND(0xffffL)
            .as("bkey"))): _*)).as("bb"))
      .select(col(idCol), col(sigCol),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      .repartition(col("band"), col("bkey"))
    val candidates = banded
      .join(banded.select(col("band"), col("bkey"),
        col(idCol).as("__b"), col(sigCol).as("__sig_b")),
        Seq("band", "bkey"))
      .filter(col(idCol) < col("__b"))
      .select(col(idCol).as(outA), col("__b").as(outB),
        bit_count(col(sigCol).bitwiseXOR(col("__sig_b"))).as("hamming"))
      .distinct()
    candidates.filter(col("hamming") <= maxHamming)
  }

  /** Banded LSH candidate pairs over the embedding table: a pair is a
    * candidate when it shares a bucket in ANY of `nBands` independent
    * random-hyperplane plane sets (band b uses plane offset b·planes —
    * same band structure as [[minhashPairs]]). The self-join carries
    * only (band, bucket, id).
    *
    * `nPlanes <= 0` derives planes-per-band from the corpus row count
    * ([[Similarity.planesFor]]): expected bucket occupancy — and with it
    * within-bucket pair generation — stays bounded as the corpus grows,
    * instead of trending n²/2^planes with a fixed plane count. Bands
    * recover the recall that extra planes cost: a 0.95-cosine pair
    * agrees with a random hyperplane w.p. ≈ 1−θ/π ≈ 0.90, so at e.g. 12
    * planes per band a single band catches it w.p. 0.90¹² ≈ 0.28 but 8
    * bands reach 1−(1−0.28)⁸ ≈ 0.93 — and candidate cost stays linear.
    * `nBands <= 0` derives the band count jointly with the planes
    * ([[Similarity.bandsFor]]): at the planesFor floor buckets are
    * coarse and 2 bands already hold recall, so a small corpus does not
    * pay a big corpus's banding overhead; bands grow only as planes
    * climb toward their cap. Exposed separately so tests can bound the
    * candidate count itself.
    */
  def embeddingCandidates(s: SparkSession, d: String, dim: Int = 64,
      nPlanes: Int = 0, nBands: Int = 0): DataFrame = {
    val embRaw = Tables.embeddings(s, d)
    // count BEFORE the parallelism floor: on the raw scan it is a
    // parquet-footer read, after a repartition it would run the shuffle
    val planes =
      if (nPlanes > 0) nPlanes else Similarity.planesFor(embRaw.count())
    val embAll = Tables.parallelized(embRaw)
    val bands = if (nBands > 0) nBands else Similarity.bandsFor(planes)
    val banded = embAll.select(col("vec_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          Similarity.lshBucket(col("embedding"), dim, planes, b * planes)
            .as("bucket"))): _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    banded
      .join(banded.select(col("band"), col("bucket"),
        col("vec_id").as("vec_b")), Seq("band", "bucket"))
      .filter(col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"))
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs: banded-LSH candidate
    * generation ([[embeddingCandidates]]) with fused-cosine verification
    * above `threshold`. The pairing join sees only (band, bucket, id);
    * embeddings come back per candidate, so extra candidates from the
    * band union can add cost but never false positives.
    */
  def embeddingNearDups(s: SparkSession, d: String, dim: Int = 64,
      nPlanes: Int = 0, threshold: Double = 0.95,
      nBands: Int = 0): DataFrame = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    val candidates = embeddingCandidates(s, d, dim, nPlanes, nBands)
    val ea = Tables.embeddings(s, d)
      .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = Tables.embeddings(s, d)
      .select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    candidates.join(ea, Seq("vec_a")).join(eb, Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        fusedCosine(col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup (cluster-then-prune, after Abbas et
    * al. 2023, behaviorally): embeddings cluster on the IVF k-means
    * geometry ([[Similarity.fitCentroids]] — deterministic 2048-row
    * sample fit, codegen'd NearestCentroids assignment), then within
    * each cluster any vector with a LOWER-id neighbor at cosine ≥
    * `threshold` is dropped. This is the parallel "dominance" form of
    * the paper's keep-one policy: unlike sequential greedy it is
    * deterministic under every partition layout, and it keeps every
    * vector that is not dominated by a lower-id DIRECT neighbor
    * (per-edge dominance, not per-component: a path component with
    * edges (1,3),(2,3) keeps both 1 and 2, more than the component
    * minimum). Output is a bounded per-cell summary (members,
    * kept, the dropped ids) — the full keep/drop decision is readable
    * from it since dropped ids are enumerated.
    *
    * Scale shape: the only corpus-sized exchange is the hash shuffle on
    * `cell`; the within-cell self-join compares ids before cosines, so
    * a cell of c members costs c²/2 fused-cosine evaluations — bounded
    * by the clustering granularity (cells ~ n/256 keeps c ~ 256; a
    * skewed cell would sub-bucket with the same in-block LSH guard as
    * [[ngramJaccardPairs]]). Embeddings ride the join but never the
    * aggregate; the summary is O(cells) rows.
    */
  def semDedup(s: SparkSession, d: String, nCells: Int = 16,
      threshold: Double = 0.85): DataFrame = {
    val (assigned, dropped) =
      semDedupParts(Tables.embeddings(s, d), nCells, threshold)
    assigned.select(col("cell"), col("vec_id"))
      .join(dropped, Seq("cell", "vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        count(when(col("is_dropped").isNull, 1)).as("n_kept"),
        array_join(array_sort(collect_list(
          when(col("is_dropped"), col("vec_id")))), ",")
          .as("dropped_ids"))
  }

  /** Cluster assignment + the dominance drop set over an arbitrary
    * (vec_id, embedding) frame — the shared core of [[semDedup]]'s
    * per-cell summary and [[semDedupPerturbed]]'s corpus summary.
    */
  private def semDedupParts(emb: DataFrame, nCells: Int,
      threshold: Double): (DataFrame, DataFrame) = {
    import graft.functions.FusedCosineSimilarity.fusedCosine
    import graft.functions.NearestCentroids.nearestCells
    val centroidMatrix = Similarity.fitCentroids(emb, nCells)
    val assigned = Tables.parallelized(emb)
      .select(col("vec_id"),
        element_at(nearestCells(col("embedding"), centroidMatrix, 1), 1)
          .as("cell"),
        col("embedding"))
    val dropped = assigned
      .join(assigned.select(col("cell"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b")), Seq("cell"))
      .filter(col("vec_b") < col("vec_id") &&
        fusedCosine(col("embedding"), col("emb_b")) >= threshold)
      .select(col("cell"), col("vec_id")).distinct()
      .withColumn("is_dropped", lit(true))
    (assigned, dropped)
  }

  /** The corpus plus deterministic perturbed siblings — the driver
    * fixture that makes semantic dedup PRUNE at verify scale (the raw
    * testdata embeddings carry no near-dups; max pairwise cosine
    * ≈0.51). Every vec_id ≡ 0 (mod 4) gains a ×3-scaled copy at
    * vec_id + offset (cosine preserved under scaling, so the sibling
    * co-cells with its original under the cosine-argmax assignment
    * and is dominated by it), and every vec_id ≡ 1 (mod 4) gains a
    * NEGATED copy (cosine −1 against its original: never dropped —
    * the threshold gate's negative control). Both perturbations are
    * exact in float32 (3x and −x are single correctly-rounded
    * operations), so an external engine derives the bit-identical
    * view from the parquet floats.
    */
  def semDedupPerturbedView(s: SparkSession, d: String,
      offset: Long = 1000000L): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val scaled = base.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + offset).as("vec_id"),
        transform(col("embedding"), x => x * lit(3.0f)).as("embedding"))
    val negated = base.filter(col("vec_id") % 4 === 1)
      .select((col("vec_id") + offset).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    base.unionByName(scaled).unionByName(negated)
  }

  /** [[semDedup]] over the perturbed view, summarized corpus-wide:
    * one row (n_members, n_kept, dropped_ids). Unlike the per-cell
    * summary this output is GEOMETRY-FREE — which cell a vector lands
    * in never shows in the result, only the keep/drop decisions do —
    * and on this view every ≥-threshold pair is a (v, 3v) sibling
    * pair, co-celled by scale invariance, so an external engine can
    * recompute the whole row with an all-pairs cosine scan over the
    * derived view, no k-means geometry required (q_semdedup's oracle
    * does exactly that; the former hard-coded golden is retired).
    */
  def semDedupPerturbed(s: SparkSession, d: String, nCells: Int = 16,
      threshold: Double = 0.85): DataFrame = {
    val (assigned, dropped) =
      semDedupParts(semDedupPerturbedView(s, d), nCells, threshold)
    assigned.select(col("vec_id"))
      .join(dropped.select(col("vec_id"), col("is_dropped")),
        Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_members"),
        count(when(col("is_dropped").isNull, 1)).as("n_kept"),
        array_join(array_sort(collect_list(
          when(col("is_dropped"), col("vec_id")))), ",")
          .as("dropped_ids"))
  }

  /** Connected components over near-duplicate pair edges — the step a
    * real dedup pipeline needs AFTER pair generation: near-duplication
    * is not transitive, so pairs (a,b) and (b,c) must collapse into one
    * cluster {a,b,c} before a canonical document can be chosen.
    *
    * Algorithm: alternating large-star/small-star contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond"). Each
    * round rewires every node's strictly-larger neighbors to its
    * neighborhood minimum (large-star), then collapses each node and
    * its smaller neighbors onto their minimum (small-star); the edge
    * set converges to a star per component centered at the component's
    * MINIMUM id (= the canonical id, matching [[exact]]'s min-doc_id
    * keep rule) in O(log n) rounds — a 2^20-hop near-dup chain fits
    * the default 20-round budget, where plain min-label propagation
    * needs O(diameter) rounds and silently splits long chains.
    * State is only the (u, v) edge set — no adjacency matrix — and
    * `localCheckpoint` cuts lineage per round so the plan does not grow
    * with iterations. Convergence is detected with an O(1)-row
    * signature (count + order-independent hash sum), a bounded
    * control-plane read; if the round budget is ever exhausted anyway
    * the result may under-merge, so it WARNs loudly instead of letting
    * a wrong fixpoint pass as converged.
    *
    * Hybrid execution: edge sets at or under `driverEdgeCap` (measured
    * by the same signature, BEFORE any loop round) skip the loop and
    * union-find on the driver — near-dup edges are a tiny fraction of
    * any deduplicated corpus, so at driver scale this replaces ~6
    * shuffle stages per round with one bounded collect. Set the cap to
    * 0 to force the distributed path; both produce the identical
    * min-id labeling (equality-tested).
    */
  def clusterPairs(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 20,
      driverEdgeCap: Long = 1000000L): DataFrame = {
    // canonical big→small orientation, self-loops and dup pairs dropped
    var edges = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()
    // order-independent edge-set signature: (n, sum of row hashes)
    def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    var converged = false
    var iter = 0
    var prevSig = sig(edges)
    // Bounded-edge fast path: near-dup edge sets are a tiny fraction of
    // the corpus (pairs, stars — the growth probe measures ~0.05
    // verified pairs/doc), so up to `driverEdgeCap` edges (~16 MB of
    // longs at the 1M default) union-find on the driver replaces
    // ~6 shuffle stages per contraction round with one bounded
    // control-plane read — the same gated-collect class as the k-means
    // centroid fit. The distributed star contraction below remains the
    // path for edge sets past the cap; both produce the identical
    // min-id labeling.
    if (prevSig._1 <= driverEdgeCap) {
      val es = edges.select(col("u"), col("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      es.foreach { case (u, v) =>
        val ru = find(u); val rv = find(v)
        // union by MIN root: the surviving root is the component min,
        // matching the star fixpoint's canonical labeling
        if (ru < rv) parent(rv) = ru
        else if (rv < ru) parent(ru) = rv
      }
      val labels = es.iterator.flatMap(e => Iterator(e._1, e._2))
        .toSeq.distinct.map(n => (n, find(n)))
      import pairs.sparkSession.implicits._
      return labels.toDF("doc_id", "cluster_id")
    }
    val allNodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .distinct().localCheckpoint()
    while (!converged && iter < maxIters) {
      iter += 1
      // large-star: every neighbor v > u attaches to m = min(Γ(u) ∪ u);
      // output edges keep the big→small invariant (v > u ≥ m)
      val nbrs = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val ls = nbrs.join(lsMins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: u and all its (smaller) neighbors attach to their
      // minimum m = min of u's smaller neighborhood
      val ssMins = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = ls.join(ssMins, Seq("u"))
      val ss = withM.select(col("v").as("n"), col("m"))
        .union(withM.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct().localCheckpoint()
      val ssSig = sig(ss) // one agg per round; prior round's sig reused
      converged = ssSig == prevSig
      prevSig = ssSig
      edges = ss
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clusterPairs: round budget ($maxIters) exhausted before the " +
          "star fixpoint — labels may under-merge long chains")
    // at the star fixpoint every non-minimum node has exactly one edge,
    // to its component minimum; minimums label themselves
    allNodes
      .join(edges.select(col("u").as("node"), col("v").as("label")),
        Seq("node"), "left")
      .groupBy(col("node"))
      .agg(min(coalesce(col("label"), col("node"))).as("cluster_id"))
      .select(col("node").as("doc_id"), col("cluster_id"))
  }

  /** Per-document shingle NOVELTY — the "how much of this content is
    * first seen here" curation metric: the fraction of a document's
    * distinct word-3-gram shingles whose first corpus occurrence
    * (minimum doc_id over every doc containing the shingle) is the
    * document itself. Fresh content scores 1.0; a near-duplicate of an
    * earlier document scores near 0; templated corpora drift down as
    * shared spans accumulate. Anchoring "first" to the doc_id order
    * makes the score deterministic and append-friendly: a later batch
    * can only lower the novelty of later documents.
    *
    * Scale shape: shingles shuffle once as 8-byte xxhash64 keys (never
    * the gram text — [[TextOps.boilerplate]]'s trick), the first-seen
    * min is a two-phase partial aggregate on that high-cardinality
    * key, and the re-join carries (hash, first_doc) only; the per-doc
    * reduce is counts. A 64-bit collision could only mark a novel
    * gram as already-seen — q_novelty's oracle recomputes on raw gram
    * STRINGS, so a collision surfaces as a driver-gate mismatch
    * instead of hiding.
    */
  /** Per-doc DISTINCT shingle hashes, unsorted, MATERIALIZED — the
    * novelty family's gram source. Two measured pathologies shape
    * this (NoveltyProbe, sf0.1): (1) the higher-order shingle chain
    * (transform/concat_ws/array_distinct/xxhash64) is interpreted,
    * and exploding a COMPUTED array re-pays it per generator row —
    * ~5 s vs 0.3 s exploding a materialized attribute — so the
    * doc-sized array frame (rows = docs, not occurrences) checkpoints
    * FIRST; (2) array_sort is 0.5 s the explode immediately discards
    * (sorted order only matters to the PPJoin/containment consumers
    * of [[shingleStage]]), so this path skips it.
    */
  private def hashedShingleArrays(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        tokenHashes(col("toks")).as("th"))
      .select(col("doc_id"),
        hashedShinglesFromTokenHashes(col("th"), col("toks")).as("shh"))
      .transform(lazyCheckpoint)

  def novelty(s: SparkSession, d: String,
      hotDocs: Int = 1024): DataFrame = {
    // the exploded (doc_id, gram-hash) frame feeds the first-seen
    // aggregate and the probe side of the score join; it re-derives
    // cheaply (one explode) from the checkpointed array frame, so the
    // tokenize→shingle→hash chain runs ONCE for the whole query (was
    // 3 evaluations / 8.0 s at sf0.1)
    val grams = hashedShingleArrays(Tables.parallelized(
      Tables.documents(s, d).select(col("doc_id"), col("text"))))
      .select(col("doc_id"), explode(col("shh")).as("g"))
    // the first-seen aggregate is ALSO referenced twice (hot broadcast
    // + cold join build side) — checkpoint it so the distinct-gram
    // groupBy runs once, not per consumer
    noveltyScores(grams,
      lazyCheckpoint(grams.groupBy(col("g"))
        .agg(min(col("doc_id")).as("first_doc"),
          count(lit(1)).as("df"))), hotDocs)
  }

  /** The per-doc novelty reduce over a (doc_id, g) gram frame and a
    * (g, first_doc, df) first-seen frame — shared by the inline
    * corpus pass and the persisted-index serve path.
    *
    * Skew guard ([[TextOps.boilerplate]]'s hot/cold split): a gram
    * shared by a million documents is ONE first-seen row but a
    * million probe-side occurrences on one shuffle key, so the probe
    * join splits on `hotDocs` — grams in ≥ `hotDocs` docs are few (at
    * most total-occurrences/hotDocs) and resolve against a BROADCAST
    * map FIRST, so their occurrence rows are filtered out before the
    * cold shuffle join — the skewed keys never reach a shuffle
    * partition. The sides are df-disjoint and both legs LEFT, so the
    * union equals the unsplit left join exactly (spec-pinned on a
    * planted hot-gram corpus); a gram in NEITHER side — possible only
    * when serving docs a persisted index hasn't absorbed — counts as
    * first seen in the probing doc.
    */
  private def noveltyScores(grams: DataFrame, firstSeen: DataFrame,
      hotDocs: Int): DataFrame = {
    val cold = firstSeen.filter(col("df") < hotDocs)
      .select(col("g"), col("first_doc").as("fd_cold"))
    val hot = firstSeen.filter(col("df") >= hotDocs)
      .select(col("g"), col("first_doc").as("fd_hot"))
    // broadcast-LEFT probe resolves hot grams first, so only the
    // unresolved (cold) occurrences enter the shuffle join — the
    // million-row hot keys never hit a shuffle partition. Both legs
    // are LEFT: a gram ABSENT from the first-seen table (possible
    // only when serving docs a persisted index hasn't absorbed)
    // coalesces to first-seen-HERE instead of silently dropping from
    // both counts. `probed` is referenced twice — callers checkpoint
    // the gram frame, so the fork re-reads materialized blocks
    val probed = grams.join(broadcast(hot), Seq("g"), "left")
    val hotDone = probed.filter(col("fd_hot").isNotNull)
      .select(col("doc_id"), col("fd_hot").as("first_doc"))
    val coldDone = probed.filter(col("fd_hot").isNull)
      .join(cold, Seq("g"), "left")
      .select(col("doc_id"),
        coalesce(col("fd_cold"), col("doc_id")).as("first_doc"))
    hotDone.unionByName(coldDone)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        graft.functions.Fns.r4(
          col("n_novel").cast("double") / col("n_shingles"))
          .as("novelty_frac"))
  }

  /** (g, first_doc, df) over a (doc_id, text) frame. BOTH stats are
    * mergeable across disjoint doc batches — first_doc by min, df by
    * SUM (shingles are per-doc distinct, so df is a doc count) — which
    * is what keeps the persisted index's grow/promote path exact.
    */
  private def gramFirstSeen(docs: DataFrame): DataFrame =
    hashedShingleArrays(docs)
      .select(col("doc_id"), explode(col("shh")).as("g"))
      .groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"),
        count(lit(1)).as("df"))

  /** Persist the novelty first-seen index: one (g, first_doc) row per
    * distinct shingle hash — the state [[novelty]] derives per run,
    * made incremental. min(first_doc) is additively MERGEABLE (min of
    * mins over any doc partition is the global min), so the index
    * grows batch-at-a-time with no frozen-model caveat anywhere: a
    * grown index serves the one-shot full-corpus answer EXACTLY.
    * `buildOnly` restricts which docs are indexed (the fixture's 80/20
    * rule); shingle text never leaves the executors — the index stores
    * (hash, first_doc, df) rows, df summing across batches so the
    * serve path's hot/cold skew split works from the index alone.
    */
  def noveltyWriteIndex(s: SparkSession, d: String, indexDir: String,
      buildOnly: Option[Column] = None): Unit = {
    val docs = Tables.parallelized(Tables.documents(s, d))
      .select(col("doc_id"), col("text"))
    gramFirstSeen(buildOnly.map(docs.filter).getOrElse(docs))
      .write.mode("overwrite").parquet(s"$indexDir/firstseen")
  }

  /** Append a batch of new docs to the novelty index as a
    * `batch=<id>` dir — per-batch work scales with the batch, and the
    * keyed dynamic-partition overwrite makes retries exactly-once
    * (the maintainer contract every index family here shares).
    */
  def noveltyAppendBatch(s: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long): Unit =
    gramFirstSeen(Tables.parallelized(
      newDocs.select(col("doc_id"), col("text"))))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch")
      .parquet(s"$indexDir/firstseen_batches")

  /** Serve per-doc novelty of `docs` from the persisted index (base ∪
    * batches, min-folded per gram). When the index covers the scored
    * docs, the result is row-identical to the inline [[novelty]] —
    * min over disjoint partials IS the global min — which is what
    * lets `q_novelty_served` answer the same full-recompute oracle.
    * Only the probing docs re-shingle; the corpus never does.
    */
  def noveltyFromIndex(s: SparkSession, indexDir: String,
      docs: DataFrame, hotDocs: Int = 1024): DataFrame = {
    // checkpointed for the same two-consumer reason novelty() notes
    val firstSeen0 = lazyCheckpoint(foldedFirstSeen(s, indexDir))
    // same materialize-arrays-then-explode shape as novelty() — the
    // probe frame forks into noveltyScores' hot/cold legs (and, with
    // deletions pending, the affected-gram re-derivation)
    val probeGrams = hashedShingleArrays(Tables.parallelized(
        docs.select(col("doc_id"), col("text"))))
      .select(col("doc_id"), explode(col("shh")).as("g"))
    // GDPR-erasure leg ([[noveltyDeleteDocs]]): min is NOT a
    // subtractable statistic — unlike BM25's N/Σdl or the LM's counts,
    // a first-seen record vouched by an erased doc has no index-local
    // replacement. The serve handles the two cases exactly:
    // (1) rows whose first_doc SURVIVES stay — removing docs can only
    //     raise a min, so a surviving min IS the survivors' min; their
    //     df subtracts the erased carriers (routing-only honesty — the
    //     hot/cold split is result-invariant);
    // (2) rows whose first_doc is erased drop, and those grams' minima
    //     RE-DERIVE from the probe frame itself — exact when the probe
    //     covers the surviving corpus (the erasure serve's contract,
    //     and the registry shape: q_novelty scores the whole corpus).
    // Work stays request+probe-scaled; the corpus-sized min rebuild is
    // [[compactNoveltyDeletes]]' admin-cadence job.
    val firstSeen = Tombstones.read(s, indexDir) match {
      case None => firstSeen0
      case Some(t) =>
        val tdocs = broadcast(t.select(col("doc_id")).distinct()
          .withColumnRenamed("doc_id", "first_doc"))
        val dfDel = broadcast(t.dropDuplicates("doc_id", "g")
          .groupBy(col("g")).agg(count(lit(1)).as("dfd")))
        val kept = firstSeen0
          .join(tdocs, Seq("first_doc"), "left_anti")
          .join(dfDel, Seq("g"), "left")
          .select(col("g"), col("first_doc"),
            (col("df") - coalesce(col("dfd"), lit(0L))).as("df"))
        val reDerived = probeGrams.groupBy(col("g"))
          .agg(min(col("doc_id")).as("first_doc"),
            count(lit(1)).as("df"))
          .join(kept.select(col("g")), Seq("g"), "left_anti")
          .select(col("g"), col("first_doc"), col("df"))
        lazyCheckpoint(kept.unionByName(reDerived))
    }
    noveltyScores(probeGrams, firstSeen, hotDocs)
  }

  /** Logical delete for the novelty index (the GDPR-erasure leg): the
    * tombstone carries the erased docs' (doc_id, g) gram rows —
    * computed from their text HERE, while the erasure request still
    * holds it — so both the serve-time df adjustment and the
    * compaction's affected-gram detection are index-local afterward.
    * Work scales with the request. Caller's invariant: the docs are
    * index-resident.
    */
  def noveltyDeleteDocs(s: SparkSession, indexDir: String,
      docs: DataFrame, batchId: Long): Unit =
    Tombstones.append(s, indexDir,
      hashedShingleArrays(Tables.parallelized(
          docs.select(col("doc_id"), col("text"))))
        .select(col("doc_id"), explode(col("shh")).as("g")),
      batchId)

  /** Admin-cadence delete close-out for the novelty index. Because min
    * is not subtractable, the grams whose recorded first-seen is
    * erased must re-derive their survivor minimum from the CORPUS —
    * `survivorDocs` — and that one restricted re-shingle pass is the
    * honest price of erasing a min statistic (COMPARE.md: the delete
    * request and every serve stay request-scaled; this pass is
    * scheduled, like the IVF refit). Unaffected grams fold
    * index-locally (min survives ⇒ min is the survivors'; df
    * subtracts the tombstoned carriers). The rewritten base equals a
    * survivors-only [[noveltyWriteIndex]] build row-for-row
    * (spec-pinned). Staged publish: [[IndexTable.compact]].
    */
  def compactNoveltyDeletes(s: SparkSession, indexDir: String,
      survivorDocs: DataFrame): Unit =
    IndexTable.compact(s, indexDir, Seq("firstseen")) { at =>
      val t = Tombstones.read(s, indexDir).get
      val folded = foldedFirstSeen(s, indexDir)
      val tdocs = broadcast(t.select(col("doc_id")).distinct()
        .withColumnRenamed("doc_id", "first_doc"))
      val dfDel = broadcast(t.dropDuplicates("doc_id", "g")
        .groupBy(col("g")).agg(count(lit(1)).as("dfd")))
      val kept = folded.join(tdocs, Seq("first_doc"), "left_anti")
        .join(dfDel, Seq("g"), "left")
        .select(col("g"), col("first_doc"),
          (col("df") - coalesce(col("dfd"), lit(0L))).as("df"))
      // affected grams: recorded first-seen erased — re-min from the
      // surviving corpus, restricted to exactly those grams
      val affected = folded.join(tdocs, Seq("first_doc"), "left_semi")
        .select(col("g"))
      val reDerived = hashedShingleArrays(Tables.parallelized(
          survivorDocs.select(col("doc_id"), col("text"))))
        .select(col("doc_id"), explode(col("shh")).as("g"))
        .join(affected, Seq("g"), "left_semi")
        .groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"),
          count(lit(1)).as("df"))
      kept.unionByName(reDerived)
        .write.mode("overwrite").parquet(at("firstseen"))
    }

  /** Fold committed novelty append batches back into the base index,
    * MIN-FOLDING rows that share a gram hash (base and batches can both
    * know a gram) instead of concatenating ([[IndexTable.promote]]).
    */
  def promoteNoveltyBatches(s: SparkSession, indexDir: String): Unit =
    IndexTable.promote(s, indexDir, Seq("firstseen"))(at =>
      foldedFirstSeen(s, indexDir)
        .write.mode("overwrite").parquet(at("firstseen")))

  /** Base ∪ batches min-folded per gram: the earliest doc and the
    * summed df. */
  private def foldedFirstSeen(s: SparkSession,
      indexDir: String): DataFrame =
    IndexTable.union(s, indexDir, "firstseen")
      .groupBy(col("g")).agg(min(col("first_doc")).as("first_doc"),
        sum(col("df")).as("df"))

  /** Duplicate clusters over the corpus: minhash near-dup pairs →
    * connected components → one row per cluster with its canonical id
    * (the min member, so `cluster_id` doubles as the keep-id), member
    * count, and the sorted member list (string-joined — array columns
    * don't hash portably across engines).
    */
  def dupClusters(s: SparkSession, d: String,
      threshold: Double = 0.7): DataFrame = {
    val labels = clusterPairs(
      minhashPairs(s, d, threshold = threshold)
        .select(col("doc_a"), col("doc_b")))
    labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("doc_id"))), ",")
          .as("members"))
  }

  /** Persist the FULL-corpus LSH bucket index for `d`'s documents —
    * the lake artifact the corpus-wide near-dup consumers
    * ([[canonicalDocsFromIndex]], [[syndicationFromIndex]]) serve
    * from without re-signing the standing corpus. Same
    * (doc_id, band, bucket) rows as [[minhashBuckets]]; `buildOnly`
    * restricts which docs are INDEXED at build time (the rest arrive
    * later via [[minhashAppendBatch]] — buckets are per-doc rows, so
    * the base ∪ batches union IS the one-shot full index exactly, no
    * frozen-model caveat).
    */
  def minhashWriteIndex(s: SparkSession, d: String, indexDir: String,
      buildOnly: Option[Column] = None, bands: Int = 4,
      rowsPerBand: Int = 4): Unit = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    minhashBuckets(buildOnly.map(docs.filter).getOrElse(docs),
        bands, rowsPerBand)
      .write.mode("overwrite").parquet(s"$indexDir/buckets")
  }

  /** Per-arrival growth of [[minhashWriteIndex]]'s artifact: signature
    * work scales with the batch, never the corpus. Exactly-once under
    * retries — the batch dir is overwritten whole, keyed by `batchId`.
    */
  def minhashAppendBatch(s: SparkSession, indexDir: String,
      newDocs: DataFrame, batchId: Long, bands: Int = 4,
      rowsPerBand: Int = 4): Unit =
    minhashBuckets(newDocs.select(col("doc_id"), col("text")),
        bands, rowsPerBand)
      .write.mode("overwrite")
      .parquet(s"$indexDir/buckets_batches/batch=$batchId")

  /** Logical delete for the bucket index (the GDPR-erasure leg,
    * [[Tombstones]]): a tombstoned doc's bucket rows vanish from every
    * serve, so it can neither pair nor be selected — the downstream
    * consumers ([[canonicalDocsFromIndex]], [[syndicationFromIndex]])
    * answer the survivors-only constructions automatically, because
    * cluster membership and the feature joins are pair-driven.
    */
  def minhashDeleteIds(s: SparkSession, indexDir: String, ids: DataFrame,
      batchId: Long): Unit =
    Tombstones.append(s, indexDir, ids.select(col("doc_id")), batchId)

  /** Admin-cadence delete close-out: rewrite the base buckets without
    * the tombstoned docs (append batches fold in), retire batch dirs
    * and tombstones ([[IndexTable.compact]]).
    */
  def compactBucketDeletes(s: SparkSession, indexDir: String): Unit =
    IndexTable.compact(s, indexDir, Seq("buckets"))(at =>
      readBuckets(s, indexDir)
        .write.mode("overwrite").parquet(at("buckets")))

  /** The live buckets: base ∪ committed append batches − tombstoned
    * docs' rows ([[IndexTable.live]]). */
  private def readBuckets(s: SparkSession, indexDir: String): DataFrame =
    IndexTable.live(s, indexDir, "buckets", "doc_id")

  /** [[minhashPairs]] SERVED from a persisted full-corpus bucket index
    * ([[minhashWriteIndex]], any lifecycle state): the candidate stage
    * reads 24-byte bucket rows from the lake instead of re-running the
    * corpus signature pipeline; the pruned verify then re-shingles only
    * candidate MEMBERS, exactly as the inline form. Signatures are a
    * pure function of text, so the candidate set — and therefore the
    * verified pair set — is bit-identical to the inline twin's and the
    * serves share its oracle.
    */
  def minhashPairsFromIndex(s: SparkSession, d: String, indexDir: String,
      threshold: Double = 0.7): DataFrame = {
    val banded = readBuckets(s, indexDir)
      .select(col("doc_id"), col("band"), col("bucket"))
      .repartition(col("band"), col("bucket"))
    // same shape as the inline candidate stage (minhashCandidatesOf
    // dedup=false): the verify groupBy collapses multi-band agreement,
    // and the shared repartition lets ReuseExchange scan the index once
    val candidates = lazyCheckpoint(banded
      .join(banded.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b")), Seq("band", "bucket"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b")))
    verifiedJaccard(Tables.documents(s, d).select(col("doc_id"),
      col("text")), candidates, threshold)
  }

  /** Quality-aware canonical selection per near-dup cluster — the
    * keep-BEST rule real curation pipelines run instead of keep-first:
    * within each duplicate cluster the survivor is the member with the
    * lowest duplicate-bigram ratio ([[TextOps.repetitionStats]]'s
    * Gopher-class signal — less self-repetition is better), ties
    * broken by token count (longer wins), then doc_id. Deterministic
    * end-to-end: the features are exact arithmetic over the token
    * arrays and the selection is a total order, so the full oracle
    * recomputes pair recall, the transitive clustering AND the
    * keep-rule in one row set.
    *
    * Scale shape: cluster labels come from the pair machinery
    * ([[minhashPairs]] → [[clusterPairs]] — banded candidates, never
    * all-pairs); the feature frame is a narrow one-pass projection
    * joined on doc_id. The `members` list mirrors [[dupClusters]]'
    * oracle-form convention; the bounded-sample variant
    * ([[dupClustersSample]]) is the mega-cluster-safe shape when the
    * member list itself is not needed.
    */
  def canonicalDocs(s: SparkSession, d: String,
      threshold: Double = 0.7): DataFrame =
    canonicalDocsFromPairs(s, d, minhashPairs(s, d, threshold = threshold))

  /** [[canonicalDocs]] SERVED from a persisted bucket index — pairs
    * come from [[minhashPairsFromIndex]] (bit-identical to the inline
    * pair set), so the served selection shares the inline oracle.
    */
  def canonicalDocsFromIndex(s: SparkSession, d: String, indexDir: String,
      threshold: Double = 0.7): DataFrame =
    canonicalDocsFromPairs(s, d,
      minhashPairsFromIndex(s, d, indexDir, threshold))

  private def canonicalDocsFromPairs(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    val labels = clusterPairs(pairs.select(col("doc_a"), col("doc_b")))
    val toks = tokens(col("text"))
    val bigrams = TextOps.bigramsOf(toks)
    val feats = Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).cast("long").as("n_tok"),
      when(size(bigrams) > 0,
        lit(1.0) - size(array_distinct(bigrams)).cast("double")
          / size(bigrams))
        .otherwise(lit(1.0)).as("dup_bigram"))
    // min over a (dup_bigram, -n_tok, doc_id) struct IS the total
    // order above — one aggregate, no per-cluster ranking window
    labels.join(feats, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        min(struct(col("dup_bigram"), (-col("n_tok")).as("neg_tok"),
          col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("doc_id"))), ",")
          .as("members"))
      .select(col("cluster_id"), col("best.doc_id").as("keep_id"),
        graft.functions.Fns.r4(col("best.dup_bigram"))
          .as("keep_dup_bigram"),
        (-col("best.neg_tok")).as("keep_n_tok"),
        col("n_members"), col("members"))
  }

  /** Cross-source syndication matrix — which sources carry each
    * other's content: near-dup pairs ([[minhashPairs]] — banded
    * candidates, exact-Jaccard verified) rolled up to unordered
    * (source, source) cells with pair counts and mean overlap. The
    * mixture planner's copy-detection table: a high off-diagonal cell
    * means two feeds syndicate the same text and their token budgets
    * double-count; the diagonal is within-source duplication.
    *
    * Scale shape: the pair set is tiny (dup-rate-bounded 16-byte id
    * pairs); the two source lookups are id-keyed hash joins against a
    * narrow (doc_id, source) projection; the final aggregate is
    * sources²-keyed.
    */
  def syndicationMatrix(s: SparkSession, d: String,
      threshold: Double = 0.7): DataFrame =
    syndicationFromPairs(s, d, minhashPairs(s, d, threshold = threshold))

  /** [[syndicationMatrix]] SERVED from a persisted bucket index — the
    * same pairs-from-lake seam as [[canonicalDocsFromIndex]].
    */
  def syndicationFromIndex(s: SparkSession, d: String, indexDir: String,
      threshold: Double = 0.7): DataFrame =
    syndicationFromPairs(s, d,
      minhashPairsFromIndex(s, d, indexDir, threshold))

  private def syndicationFromPairs(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.functions.Fns.r4(avg(col("jaccard"))).as("avg_jaccard"))
  }

  /** Scale form of the per-cluster summary: member COUNT plus only the
    * `sampleSize` smallest member ids. [[dupClusters]]' full
    * `collect_list` materializes one row per cluster holding EVERY
    * member — a boilerplate-page mega-cluster at 100 TB becomes a
    * single multi-GB array row that kills its executor. The bounded
    * TopK aggregator keeps O(sampleSize) state per cluster and
    * partial-aggregates map-side, so the exchange carries ≤ sampleSize
    * ids per cluster per partition. (Kept separate from the full form,
    * which remains the cross-engine oracle query.)
    */
  def dupClustersSample(labels: DataFrame, sampleSize: Int = 10)
      : DataFrame = {
    import labels.sparkSession.implicits._
    labels.select(col("cluster_id"), col("doc_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .agg(new graft.operators.Sampling.BottomKCountAgg(sampleSize)
        .toColumn.name("summary"))
      .toDF("cluster_id", "summary")
      .select(col("cluster_id"),
        col("summary._1").as("n_members"),
        array_join(col("summary._2"), ",").as("member_sample"))
  }

  /** [[dupClustersSample]] over the corpus at `d` — the driver-visible
    * query form of the scale-mode summary: the same minhash-pair →
    * connected-components labeling as [[dupClusters]], summarized with
    * the bounded aggregator instead of the unbounded `collect_list`.
    * Deterministic end-to-end (hash-banded candidates, exact Jaccard
    * verify, min-id labels, bottom-k member sample), so it carries a
    * golden oracle pinned at sf0.01 (registry TextQueries).
    */
  def dupClustersSampleQuery(s: SparkSession, d: String,
      threshold: Double = 0.7, sampleSize: Int = 10): DataFrame =
    dupClustersSample(
      clusterPairs(minhashPairs(s, d, threshold = threshold)
        .select(col("doc_a"), col("doc_b"))),
      sampleSize)

  /** Direct n-gram Jaccard among documents sharing a (lang, source)
    * blocking key. The naive form is quadratic per block, and a
    * low-cardinality blocking key WILL have a dominant block at scale
    * (e.g. en/web is most of a real corpus), so block size is guarded:
    *
    *  - blocks with ≤ `maxBlockSize` docs pair exhaustively (exact);
    *  - larger blocks switch to MinHash-LSH candidate generation WITHIN
    *    the block (keys-only join, same machinery as [[minhashPairs]])
    *    followed by exact Jaccard verification — emitted similarity is
    *    still the true Jaccard, only candidate recall is probabilistic
    *    (near 1 at the 0.5 default threshold with 8×2 banding:
    *    1-(1-j^2)^8 ≈ 0.99 at j=0.5).
    *
    * The exhaustive self-join is therefore bounded by maxBlockSize²/2
    * comparisons per block regardless of skew, and the big-block path
    * shuffles only (block, band, bucket, id) keys. A block of mutual
    * near-duplicates still yields quadratic OUTPUT pairs — run [[exact]]
    * dedup first, as any pipeline should.
    */
  def ngramJaccardPairs(s: SparkSession, d: String,
      threshold: Double = 0.5, maxBlockSize: Int = 1000): DataFrame =
    ngramJaccardPairsOf(
      Tables.parallelized(Tables.documents(s, d).select(
        col("lang"), col("source"), col("doc_id"), col("text"))),
      threshold, maxBlockSize)

  /** [[ngramJaccardPairs]] over an explicit (lang, source, doc_id, text)
    * frame — the testable/core form.
    */
  def ngramJaccardPairsOf(documents: DataFrame, threshold: Double,
      maxBlockSize: Int, bands: Int = 8, rowsPerBand: Int = 2)
      : DataFrame = {
    // staged projections: tokenize, shingle, then hash each shingle to
    // a long — the quadratic verify step compares 8-byte hashes, not
    // 3-word strings (collision odds ~n²/2⁶⁴, negligible) — SORTED per
    // doc so the fused merge-pass Jaccard applies: one O(k log k) sort
    // per document instead of two hash-set builds per candidate PAIR
    val docs = documents
      .select(col("lang"), col("source"), col("doc_id"),
        tokens(col("text")).as("toks"))
      .select(col("lang"), col("source"), col("doc_id"), col("toks"),
        tokenHashes(col("toks")).as("th"))
      .select(col("lang"), col("source"), col("doc_id"),
        array_sort(hashedShinglesFromTokenHashes(col("th"),
          col("toks"))).as("sh"))
    // block sizes: a tiny (≤ #blocks rows) aggregate joined back on the
    // block key — AQE broadcasts it; no per-row window sort. The sized
    // frame is lazily materialized ONCE (lazyCheckpoint): five
    // consumers reference it (both exhaustive self-join sides, the
    // banded stage, and both big-path shingle fetches), and their
    // branch-specific column pruning defeats ReuseExchange — without
    // the cut each one re-runs the tokenize→shingle→hash→sort pipeline
    // over the corpus (measured: 2 extra full passes ≈ 1.4 s of the
    // 2.3 s warm query at sf0.1).
    val sizes = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("block_n"))
    val sized = lazyCheckpoint(docs.join(sizes, Seq("lang", "source")))

    def verified(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a"), col("doc_b"),
        graft.functions.FusedJaccardSorted
          .fusedJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)

    // exhaustive path: bounded by maxBlockSize²/2 comparisons per block
    val small = sized.filter(col("block_n") <= maxBlockSize)
    val smallPairs = small
      .select(col("lang"), col("source"),
        col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      .join(small.select(col("lang"), col("source"),
        col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("lang", "source"))
      .filter(col("doc_a") < col("doc_b"))

    // oversized-block path: LSH banding inside the block; the pairing
    // join carries only (lang, source, band, bucket, id)
    val big = sized.filter(col("block_n") > maxBlockSize)
    val k = bands * rowsPerBand
    val banded = big
      .select(col("lang"), col("source"), col("doc_id"),
        minhashSignature(col("sh"), k).as("sig"))
      .select(col("lang"), col("source"), col("doc_id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + lit(1),
              lit(rowsPerBand))).as("bucket")))).as("bb"))
      .select(col("lang"), col("source"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("doc_id"))
      .repartition(col("band"), col("bucket"))
    val bigCandidates = banded
      .join(banded.select(col("lang"), col("source"), col("band"),
        col("bucket"), col("doc_id").as("doc_b")),
        Seq("lang", "source", "band", "bucket"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val shA = big.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val shB = big.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val bigPairs = bigCandidates.join(shA, Seq("doc_a"))
      .join(shB, Seq("doc_b"))

    // blocks route entirely to one path, so the union is disjoint
    verified(smallPairs).unionByName(verified(bigPairs))
  }

  /** N-gram CONTAINMENT pairs — C(A,B) = |sh(A) ∩ sh(B)| / min(|sh(A)|,
    * |sh(B)|) ≥ τ: the partial-overlap detector Jaccard structurally
    * misses (a short doc quoted whole inside a long one has J ≈
    * |A|/|B| → 0 but containment 1). Candidate generation is the
    * prefix filter of the set-similarity-join literature (AllPairs /
    * PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08): order each
    * doc's grams by ascending global document frequency and probe the
    * inverted index with only the first ⌊(1−τ)·n⌋+1 of them — if the
    * smaller side of a qualifying pair shared NO prefix gram, all its
    * misses would have to fit in a gram budget the prefix already
    * exceeds, a contradiction, so recall is exact by construction (the
    * floor-based length errs ≥ the ceil-derived bound, never under).
    * Rare grams lead the prefix, so probe fan-out per gram stays tiny;
    * `dfCap` additionally drops boilerplate-grade grams (df > cap)
    * from the INDEXED side, bounding worst-case bucket size at corpus
    * scale — the same df-threshold reasoning as [[graft.operators
    * .TextOps]]' boilerplate removal, which upstream curation runs
    * first (a pair is lost only if every shared gram of the smaller
    * side's prefix is boilerplate-hot; `ContainmentSpec` pins the
    * planted-hot-gram behavior). All joins carry 8-byte gram hashes;
    * full arrays are fetched only for verified candidates.
    */
  def ngramContainmentPairs(s: SparkSession, d: String,
      threshold: Double = 0.6, dfCap: Int = 1000): DataFrame =
    ngramContainmentPairsOf(
      Tables.parallelized(Tables.documents(s, d)
        .select(col("doc_id"), col("text"))),
      threshold, dfCap)

  /** [[ngramContainmentPairs]] over an explicit (doc_id, text) frame —
    * the testable/core form.
    */
  def ngramContainmentPairsOf(documents: DataFrame, threshold: Double,
      dfCap: Int): DataFrame = {
    // (doc_id, sh sorted gram hashes, n) — staged once; the df join,
    // prefix ranking, index explode and the verify fetches all read it
    val docs = lazyCheckpoint(documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        tokenHashes(col("toks")).as("th"))
      .select(col("doc_id"),
        array_sort(hashedShinglesFromTokenHashes(col("th"),
          col("toks"))).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n")))
    val grams = docs.select(col("doc_id"), col("n"),
      explode(col("sh")).as("gram"))
    val dfTab = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("gdf"))
    // materialized once: the prefix ranking and the index filter both
    // consume it, and their different projections defeat ReuseExchange
    // — without the cut each side re-runs the explode + df aggregate +
    // gram-keyed join over the corpus (the dominant cost at sf0.1 is
    // the candidate verify joins, but the cut still saves a full
    // corpus pass: 2.01 → 1.88 s warm)
    val gdf = lazyCheckpoint(grams.join(dfTab, Seq("gram")))
    // prefix = the ⌊(1−τ)n⌋+1 globally-rarest grams of each doc
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("gdf"), col("gram"))
    val prefix = gdf
      .withColumn("rk", row_number().over(wDoc))
      .filter(col("rk") <=
        greatest(lit(1L),
          col("n") - floor(lit(threshold) * col("n")) + lit(1L)))
      .select(col("gram"), col("doc_id").as("doc_a"))
    val index = gdf.filter(col("gdf") <= dfCap)
      .select(col("gram"), col("doc_id").as("doc_b"))
    val cands = prefix.join(index, Seq("gram"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n").as("n_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n").as("n_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / least(col("n_a"), col("n_b"))).as("containment"))
      .filter(col("containment") >= threshold)
  }
}
