package graft

import graft.operators.{Search, TextOps}
import org.apache.spark.sql.functions._

/** BM25 retrieval + boilerplate masking: hand-computed scores on a
  * planted corpus, inline ≡ served parity through a persisted index,
  * and the masking semantics (short-doc guard, full coverage, order
  * preservation).
  */
class SearchSpec extends SparkSuite {
  import spark.implicits._

  /** Write a planted documents table in the testdata schema. */
  private def plant(rows: Seq[(Long, String)]): String = {
    val dir = tmpDir("search_docs")
    rows.map { case (id, text) =>
      (id, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bm25 matches hand-computed Okapi scores on a planted corpus") {
    val d = plant(Seq(
      1L -> "cat dog cat",
      2L -> "cat fish",
      3L -> "bird bird bird bird"))
    val got = Search.bm25(spark, d, queries = Seq(1 -> "cat"), k = 10)
      .orderBy("rank").collect()
      .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // N=3, sumdl=9, avgdl=3; df(cat)=2 → idf = ln(1 + 1.5/2.5)
    val idf = math.log(1.6)
    def tfn(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 3.0))
    def r4d(x: Double) = math.rint((x + 1e-9) * 1e4) / 1e4
    assert(got.toSeq === Seq(
      (1, 1L, r4d(idf * tfn(2, 3))),
      (2, 2L, r4d(idf * tfn(1, 2)))))
  }

  test("served index reproduces the inline ranking bit-for-bit") {
    val d = sf() // real sf0.001 corpus
    val idx = tmpDir("bm25_idx")
    Search.buildIndex(spark, d, idx)
    val inline = Search.bm25(spark, d).collect().toSet
    val served = Search.bm25FromIndex(spark, idx).collect().toSet
    assert(inline === served)
    assert(inline.nonEmpty)
  }

  test("grown index serves the one-shot ranking bit-for-bit; appends " +
    "are retry-idempotent and survive compaction") {
    val d = sf()
    val oneShot = tmpDir("bm25_full")
    Search.buildIndex(spark, d, oneShot)
    val want = Search.bm25FromIndex(spark, oneShot).collect().toSet
    val grown = tmpDir("bm25_grown")
    Search.buildIndex(spark, d, grown,
      docFilter = Some(col("doc_id") % 3 =!= 0))
    val batch1 = graft.Tables.documents(spark, d)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
    val batch2 = graft.Tables.documents(spark, d)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 2 =!= 0)
    Search.appendBatch(spark, grown, batch1, batchId = 1L)
    Search.appendBatch(spark, grown, batch2, batchId = 2L)
    assert(Search.bm25FromIndex(spark, grown).collect().toSet === want)
    // retry: re-running a batch replaces its own dirs, changes nothing
    Search.appendBatch(spark, grown, batch2, batchId = 2L)
    assert(Search.bm25FromIndex(spark, grown).collect().toSet === want)
    // compaction folds batch dirs and preserves the answer
    graft.operators.Similarity.compactIvfAppends(spark, grown,
      upToBatch = 2L, table = "postings_batches", partitionCol = "term")
    val batchDirs = new java.io.File(s"$grown/postings_batches")
      .listFiles().count(_.getName.startsWith("batch="))
    assert(batchDirs === 1)
    assert(Search.bm25FromIndex(spark, grown).collect().toSet === want)
    // promotion folds the batches into base and retires the side dirs:
    // answers unchanged, index back on the minimal-plan path
    Search.promoteBatches(spark, grown)
    assert(!new java.io.File(s"$grown/postings_batches").exists())
    assert(!new java.io.File(s"$grown/termstats_batches").exists())
    assert(Search.bm25FromIndex(spark, grown).collect().toSet === want)
    Search.promoteBatches(spark, grown) // idempotent no-op
    assert(Search.bm25FromIndex(spark, grown).collect().toSet === want)
  }

  test("delete lifecycle: tombstoned docs leave the ranking MODEL " +
      "(df/N/Σdl adjust to the survivors), compaction preserves the " +
      "answer and retires the tombstones") {
    val d = sf()
    // ground truth: from-scratch inline BM25 over the survivor corpus
    val survivors = tmpDir("bm25_survivors")
    graft.Tables.documents(spark, d).filter(col("doc_id") % 7 =!= 6)
      .write.mode("overwrite").parquet(s"$survivors/documents.parquet")
    val want = Search.bm25(spark, survivors).collect().toSet
    val wantPhrase = Search.phraseMatch(spark, survivors).collect().toSet
    // non-vacuous: the deletions must actually move a score (the full
    // corpus ranks differently than the survivors)
    assert(Search.bm25(spark, d).collect().toSet !== want)
    // lifecycle-real: 80% base + one committed batch + tombstones
    val idx = tmpDir("bm25_del")
    Search.buildIndex(spark, d, idx,
      docFilter = Some(col("doc_id") % 5 =!= 4))
    Search.appendBatch(spark, idx,
      graft.Tables.documents(spark, d).filter(col("doc_id") % 5 === 4),
      batchId = 1L)
    val doomed = graft.Tables.documents(spark, d)
      .filter(col("doc_id") % 7 === 6)
    assert(doomed.count() > 0)
    Search.deleteDocs(spark, idx, doomed, batchId = 1L)
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    assert(Search.phraseMatchFromIndex(spark, idx).collect().toSet
      === wantPhrase)
    // delete retries are exactly-once: the batch dir replaces itself
    Search.deleteDocs(spark, idx, doomed, batchId = 1L)
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    // a RE-SENT erasure request landing as a SECOND live batch
    // (at-least-once delivery) must not subtract its docs' (count, Σdl)
    // twice — the doc-dedupe guard in statsMinusTombs
    Search.deleteDocs(spark, idx, doomed, batchId = 2L)
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    // compaction folds deletions (and append batches) into the base,
    // retires the side dirs, and serves the same answer from the
    // minimal stored-stats plan
    Search.compactDeletes(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(!new java.io.File(s"$idx/postings_batches").exists())
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    Search.compactDeletes(spark, idx) // idempotent no-op
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    // the compacted corpus scalar equals the survivors' true count
    assert(spark.read.parquet(s"$idx/stats").collect().head.getLong(0)
      === graft.Tables.documents(spark, survivors).count())
    // crash-window replay: a compaction interrupted between the stats
    // swap and the tombstone retire leaves survivor-adjusted scalars
    // WITH the folded batches still visible — the persisted fold
    // watermark (tw = 2 here) must stop those batches from subtracting
    // a second time. Recreate that exact state and serve through it.
    Search.deleteDocs(spark, idx, doomed, batchId = 1L)
    Search.deleteDocs(spark, idx, doomed, batchId = 2L)
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    // the recovery re-run retires them and nothing changes; the
    // watermark stays past the NEWEST folded batch, whichever of the
    // duplicate tombstone rows the fold happened to keep
    Search.compactDeletes(spark, idx)
    assert(!new java.io.File(s"$idx/tombstones").exists())
    assert(Search.bm25FromIndex(spark, idx).collect().toSet === want)
    assert(spark.read.parquet(s"$idx/stats").collect().head
      .getAs[Long]("tw") === 2L)
  }

  test("phraseMatch counts exact consecutive spans, including " +
      "overlapping and repeated-word phrases") {
    val d = plant(Seq(
      1L -> "hash join hash join key",
      2L -> "join hash key",
      3L -> "hash hash hash"))
    val got = Search.phraseMatch(spark, d, phrases = Seq(
        1 -> "hash join", 2 -> "hash join key", 3 -> "hash hash"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSet
    // doc1: "hash join" at 0,2; "hash join key" at 2.
    // doc2: has all three words but never the span — no rows.
    // doc3: overlapping "hash hash" at 0,1.
    assert(got === Set((1, 1L, 2L), (2, 1L, 1L), (3, 3L, 2L)))
  }

  test("phrase serve reads the positional index bit-identically, " +
      "through appends too; AND retrieval keeps only all-term docs") {
    val d = sf()
    val idx = tmpDir("bm25_pos")
    Search.buildIndex(spark, d, idx)
    val inline = Search.phraseMatch(spark, d).collect()
      .map(_.toString).sorted.toSeq
    assert(inline.nonEmpty)
    assert(Search.phraseMatchFromIndex(spark, idx).collect()
      .map(_.toString).sorted.toSeq === inline)
    // a grown index's batch postings carry positions as well
    val grown = tmpDir("bm25_pos_grown")
    Search.buildIndex(spark, d, grown,
      docFilter = Some(col("doc_id") % 3 =!= 0))
    Search.appendBatch(spark, grown, graft.Tables.documents(spark, d)
      .filter(col("doc_id") % 3 === 0), batchId = 1L)
    assert(Search.phraseMatchFromIndex(spark, grown).collect()
      .map(_.toString).sorted.toSeq === inline)
    // conjunctive retrieval: every ranked doc holds ALL its query's
    // terms; and it is exactly the all-term subset of the plain
    // ranking's candidate set, re-ranked
    val byQuery = Search.defaultQueries.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val docTokens = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ").filter(_.nonEmpty).toSet).toMap
    val andRows = Search.bm25And(spark, d).collect()
    assert(andRows.nonEmpty)
    andRows.foreach { r =>
      val (qid, doc) = (r.getInt(0), r.getLong(2))
      assert(byQuery(qid).subsetOf(docTokens(doc)),
        s"query $qid ranked doc $doc missing a term")
    }
    // served twin agrees with the inline AND ranking
    assert(Search.bm25AndFromIndex(spark, idx).collect()
      .map(_.toString).sorted.toSeq ===
      andRows.map(_.toString).sorted.toSeq)
  }

  test("boilerplate masks only cross-doc spans and keeps order") {
    val shared = (1 to 8).map(i => s"b$i").mkString(" ")
    val d = plant(Seq(
      1L -> s"u1 u2 $shared u3",
      2L -> s"$shared v1 v2 v3",
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9",
      4L -> "tiny doc")) // < 8 tokens: no grams, untouched
    val got = TextOps.boilerplate(spark, d)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getLong(2), r.getString(4))).toMap
    assert(got(1L) === ((11, 8L, "u1 u2 u3")))
    assert(got(2L) === ((11, 8L, "v1 v2 v3")))
    assert(got(3L) === ((9, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")))
    assert(got(4L) === ((2, 0L, "tiny doc")))
  }

  test("boilerplate hot-gram split: the broadcast branch masks " +
      "high-df spans identically to the unsplit join") {
    val hotSpan = (1 to 8).map(i => s"b$i").mkString(" ")
    val coldSpan = (1 to 8).map(i => s"c$i").mkString(" ")
    // 6 docs share hotSpan (>= hotDocs=4: broadcast branch); 2 docs
    // share coldSpan (< 4: shuffle branch) — both must mask
    val d = plant((1L to 6L).map(i => i -> s"p$i q$i $hotSpan r$i") ++
      Seq(7L -> s"x1 x2 $coldSpan", 8L -> s"$coldSpan y1 y2 y3"))
    def run(hd: Int) = TextOps.boilerplate(spark, d, hotDocs = hd)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
      .toSet
    val split = run(4)
    // the split is exactly the unsplit (all-cold) join
    assert(split === run(Int.MaxValue))
    val m = split.map { case (id, cov, txt) => id -> ((cov, txt)) }.toMap
    assert(m(1L) === ((8L, "p1 q1 r1"))) // hot span masked via broadcast
    assert(m(7L) === ((8L, "x1 x2")))    // cold span masked via shuffle
    assert(m(8L) === ((8L, "y1 y2 y3")))
  }

  test("boilerplate fully-covered doc empties cleanly") {
    val shared = (1 to 8).map(i => s"c$i").mkString(" ")
    val d = plant(Seq(1L -> shared, 2L -> shared))
    val got = TextOps.boilerplate(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
      .toSet
    assert(got === Set((1L, 8L, ""), (2L, 8L, "")))
  }

  test("indexTermStats: hand-computed df histogram; a double-counted " +
      "append batch breaks the fsck") {
    // df(cat)=3 → bucket 1; df(dog)=2 → bucket 1; df(bird)=1 → bucket 0
    val d = plant(Seq(
      1L -> "cat dog", 2L -> "cat dog", 3L -> "cat bird"))
    val idx = tmpDir("fsck_idx")
    Search.buildIndex(spark, d, idx,
      docFilter = Some(col("doc_id") <= 2))
    Search.appendBatch(spark, idx,
      Tables.documents(spark, d).filter(col("doc_id") === 3)
        .select(col("doc_id"), col("text")), batchId = 1L)
    def hist(dir: String) = Search.indexTermStats(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hist(idx) === Set((1, 2L, 5L), (0, 1L, 1L)))
    // corrupt: the same docs appended again under a NEW batch id — the
    // retry-keyed overwrite can't dedup a different id; the fsck must
    // see the double count
    Search.appendBatch(spark, idx,
      Tables.documents(spark, d).filter(col("doc_id") === 3)
        .select(col("doc_id"), col("text")), batchId = 2L)
    assert(hist(idx) !== Set((1, 2L, 5L), (0, 1L, 1L)))
  }

  test("chunks: overlapping windows cover every token; short tail; " +
      "tokenless docs drop") {
    val d = plant(Seq(
      1L -> (1 to 10).map(i => s"t$i").mkString(" "),
      2L -> "only three tokens",
      3L -> ""))
    val got = TextOps.chunks(spark, d, window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(got.toSeq === Seq(
      (1L, 1, 0, 4, "t1 t2 t3 t4"),
      (1L, 2, 3, 4, "t4 t5 t6 t7"),
      (1L, 3, 6, 4, "t7 t8 t9 t10"),
      (1L, 4, 9, 1, "t10"), // short tail, never empty
      (2L, 1, 0, 3, "only three tokens")))
  }

  test("a chunks table is documents-shaped: BM25 retrieves the one " +
      "chunk holding a term") {
    val base = plant(Seq(
      1L -> ((1 to 60).map(i => s"w$i").mkString(" ") + " needle " +
        (61 to 90).map(i => s"w$i").mkString(" "))))
    val chunkDir = tmpDir("chunk_docs")
    TextOps.chunks(spark, base, window = 32, stride = 32)
      .select((col("doc_id") * 1000 + col("chunk_idx")).as("doc_id"),
        col("chunk").as("text"), lit("en").as("lang"),
        lit("src0").as("source"),
        length(col("chunk")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$chunkDir/documents.parquet")
    // "needle" is token 61 → chunk 2 (tokens 33-64) of the 3 windows
    val hits = Search.bm25(spark, chunkDir,
      queries = Seq(1 -> "needle"), k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(hits === Seq(1002L))
  }
}
