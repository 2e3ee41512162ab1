package graft

import graft.operators.Hierarchy
import graft.pipeline.{Warehouse, WeatherSchemas}
import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming tier (SURVEY §2.9): file-driven micro-batches
  * against memory sinks; streaming results must equal their batch twins.
  */
class StreamsSpec extends SparkSuite {

  test("hourlyEventsSnapshot: the AvailableNow streaming run lands " +
    "exactly the batch hourly aggregate, and re-runs overwrite cleanly") {
    import graft.operators.Hierarchy
    val out = tmpDir("stream_hourly_out")
    val ckpt = tmpDir("stream_hourly_ckpt")
    def snapshot(): Set[String] = {
      Streams.hourlyEventsSnapshot(spark, sf(), out, ckpt)
      spark.read.parquet(out)
        .select(to_date(col("hour_start")).as("date"),
          hour(col("hour_start")).as("hr"),
          graft.functions.Fns.r4(col("avg_value")).as("avg_value"),
          col("max_value"), col("min_value"), col("n_obs"))
        .collect().map(_.toString).toSet
    }
    val batch = Hierarchy.hourly(Tables.events(spark, sf()))
      .select(col("date"), col("hr"),
        graft.functions.Fns.r4(col("avg_value")).as("avg_value"),
        col("max_value"), col("min_value"), col("n_obs"))
      .collect().map(_.toString).toSet
    val first = snapshot()
    assert(first === batch)
    assert(first.nonEmpty)
    assert(snapshot() === batch) // fresh-checkpoint re-run: same rows
  }

  test("sessionEventsSnapshot: native session windows land exactly " +
    "the batch sessionize rows, and re-runs overwrite cleanly") {
    import graft.operators.Relational
    import org.apache.spark.sql.expressions.Window
    val out = tmpDir("stream_sessions_out")
    val ckpt = tmpDir("stream_sessions_ckpt")
    def snapshot(): Set[String] = {
      Streams.sessionEventsSnapshot(spark, sf(), out, ckpt)
      spark.read.parquet(out)
        .select(col("user_id"),
          (row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("session_start"))) - 1).cast("int")
            .as("session_idx"),
          col("n_events"), col("first_event_id"),
          graft.functions.Fns.r4(col("session_value"))
            .as("session_value"))
        .collect().map(_.toString).toSet
    }
    val batch = Relational.sessionize(spark, sf())
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("first_event_id"), col("session_value"))
      .collect().map(_.toString).toSet
    val first = snapshot()
    assert(first === batch)
    assert(first.nonEmpty)
    assert(snapshot() === batch)
  }

  test("slidingEventsSnapshot: streamed sliding windows land exactly " +
    "the batch sliding rows, and re-runs overwrite cleanly") {
    val out = tmpDir("stream_sliding_out")
    val ckpt = tmpDir("stream_sliding_ckpt")
    def snapshot(): Set[String] = {
      Streams.slidingEventsSnapshot(spark, sf(), out, ckpt)
      spark.read.parquet(out)
        .select(to_date(col("window_start")).as("date"),
          hour(col("window_start")).as("hr"),
          graft.functions.Fns.r4(col("avg_value")).as("avg_value"),
          col("max_value"), col("n_obs"))
        .collect().map(_.toString).toSet
    }
    val batch = graft.operators.Extras.slidingWindows(spark, sf())
      .collect().map(_.toString).toSet
    val first = snapshot()
    assert(first === batch)
    assert(first.nonEmpty)
    assert(snapshot() === batch)
  }

  test("attributionSnapshot: the stream-stream interval join lands " +
    "exactly the batch interval join, and re-runs rebuild cleanly") {
    val out = tmpDir("stream_join_out")
    val ckpt = tmpDir("stream_join_ckpt")
    def snapshot(): Set[String] = {
      Streams.attributionSnapshot(spark, sf(), out, ckpt)
      spark.read.parquet(out)
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          col("value"))
        .collect().map(_.toString).toSet
    }
    val ev = Tables.events(spark, sf())
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id"), col("ts").as("p_ts"), col("value"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("c_ts"))
    // batch equivalent on the exact ns longs, truncated to micros
    // like the stream side's ts_event
    val batch = p.join(c, Seq("user_id"))
      .withColumn("c_us", expr("c_ts div 1000"))
      .withColumn("p_us", expr("p_ts div 1000"))
      .filter(col("c_us") >= col("p_us") - 3600000000L)
      .filter(col("c_us") <= col("p_us"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("value"))
      .collect().map(_.toString).toSet
    val first = snapshot()
    assert(first === batch)
    assert(first.nonEmpty)
    assert(snapshot() === batch)
  }

  test("curationMaintainer: one document stream advances quarantine, " +
    "near-dup, ANN, BM25, int8, binary-bit, LM-count, substring and " +
    "BPE-substring lakes exactly-once with shared batch ids") {
    import graft.operators.{Scrub, Search, Similarity}
    val d = sf()
    val lake = tmpDir("cur_lake")
    val ann = tmpDir("cur_ann")
    val bm25 = tmpDir("cur_bm25")
    val int8 = tmpDir("cur_int8")
    val bq = tmpDir("cur_bq")
    val ppl = tmpDir("cur_ppl")
    val substr = tmpDir("cur_substr")
    val bpe = tmpDir("cur_bpe")
    val stage = tmpDir("cur_stage")
    val ckpt = tmpDir("cur_ckpt")
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    // the stream contract: the upstream embedder attached the vector
    val streamed = docs
      .join(Tables.embeddings(spark, d)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .filter(col("doc_id") % 5 === 4)
    // contamination probe: the first 13 tokens of doc 4 — exact-dup
    // texts exist in the corpus, so derive the expected quarantine set
    // with the same gate instead of assuming only doc 4 trips it
    val probe = docs.filter(col("doc_id") === 4).collect()(0)
      .getString(1).split(" ").filter(_.nonEmpty).take(13).mkString(" ")
    val quarIds = Streams.scrubbedDocuments(streamed, Seq(probe))
      .filter(col("contaminated")).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(quarIds.contains(4L))
    // base indexes: 80% of the corpus, model fit on the full corpus
    Search.buildIndex(spark, d, bm25,
      docFilter = Some(col("doc_id") % 5 =!= 4))
    Similarity.ivfWriteIndex(spark, d, ann,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    graft.operators.ScalarQuant.sqWriteIndex(spark, d, int8,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    graft.operators.BinaryQuant.bqWriteIndex(spark, d, bq,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    graft.operators.Substring.writePositionIndex(spark,
      docs.filter(col("doc_id") % 5 =!= 4), substr)
    // BPE index: tokenizer frozen on the full raw corpus; 80% indexed
    // (nMerges = 8 keeps the trainer cheap — both builds use it)
    graft.operators.Substring.writeBpeIndex(spark, d, bpe, nMerges = 8,
      buildOnly = Some(col("doc_id") % 5 =!= 4))
    def stageBatch(name: String, part: org.apache.spark.sql.DataFrame):
        Unit = {
      val tmp = tmpDir(s"cur_stage_$name")
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    stageBatch("a", streamed.filter(col("doc_id") % 2 === 0))
    stageBatch("b", streamed.filter(col("doc_id") % 2 =!= 0))
    def stream() = spark.readStream.schema(streamed.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = Streams.curationMaintainer(stream(), Seq(probe), lake, ann,
      bm25, ckpt, int8IndexDir = Some(int8), bqIndexDir = Some(bq),
      pplModelDir = Some(ppl),
      substrIndexDir = Some(substr), bpeIndexDir = Some(bpe))
    q.awaitTermination(300000)
    // quarantine holds exactly the contaminated docs; the near-dup
    // lake holds exactly the admitted ones, in both batch dirs
    assert(spark.read.parquet(s"$lake/quarantine")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet === quarIds)
    val streamedIds =
      streamed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(s"$lake/documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet ===
      streamedIds -- quarIds)
    def batchDirs(path: String): Seq[String] =
      new java.io.File(path).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("batch=")).sorted
    // every leg's table holds exactly the two committed batch ids
    val grown = Seq(s"$lake/documents", s"$ann/assignments_batches",
      s"$bm25/postings_batches", s"$int8/codes_batches",
      s"$bq/words_batches", s"$ppl/bigrams_batches",
      s"$substr/positions_batches", s"$bpe/positions_batches",
      s"$bpe/streams_batches")
    def twoBatches(): Unit = grown.foreach(p =>
      assert(batchDirs(p) === Seq("batch=0", "batch=1"), p))
    twoBatches()
    // ANN leg: the grown index serves the one-shot build over
    // everything-but-quarantined (frozen geometry, pure assignment)
    val annRef = tmpDir("cur_ann_ref")
    Similarity.ivfWriteIndex(spark, d, annRef,
      assignOnly = Some(!col("vec_id").isin(quarIds.toSeq: _*)))
    val queries = Tables.embeddings(spark, d).filter(col("vec_id") < 5)
    def serveAnn(dir: String): Seq[String] =
      Similarity.ivfTopKFromIndex(spark, dir, queries)
        .collect().map(_.toString).sorted.toSeq
    assert(serveAnn(ann) === serveAnn(annRef))
    // BM25 leg: the grown index serves a one-shot build over raw base
    // docs plus REDACTED admitted docs — indexed text is gated text
    val refDocsDir = tmpDir("cur_bm25_ref_docs")
    docs.filter(col("doc_id") % 5 =!= 4)
      .unionByName(streamed
        .filter(!col("doc_id").isin(quarIds.toSeq: _*))
        .select(col("doc_id"), Scrub.redactPii(col("text")).as("text")))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$refDocsDir/documents.parquet")
    val bm25Ref = tmpDir("cur_bm25_ref")
    Search.buildIndex(spark, refDocsDir, bm25Ref)
    def serveBm(dir: String): Seq[String] =
      Search.bm25FromIndex(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    assert(serveBm(bm25) === serveBm(bm25Ref))
    // int8 leg: no geometry to freeze, so the grown warm tier serves
    // the EXACT one-shot build over everything-but-quarantined
    val int8Ref = tmpDir("cur_int8_ref")
    graft.operators.ScalarQuant.sqWriteIndex(spark, d, int8Ref,
      assignOnly = Some(!col("vec_id").isin(quarIds.toSeq: _*)))
    def serveInt8(dir: String): Seq[String] =
      graft.operators.ScalarQuant.sqTopKFromIndex(spark, dir, queries,
        Tables.embeddings(spark, d))
        .collect().map(_.toString).sorted.toSeq
    assert(serveInt8(int8) === serveInt8(int8Ref))
    // binary-bit leg: same no-geometry argument one tier colder — the
    // grown bit table serves the EXACT one-shot build over
    // everything-but-quarantined
    val bqRef = tmpDir("cur_bq_ref")
    graft.operators.BinaryQuant.bqWriteIndex(spark, d, bqRef,
      assignOnly = Some(!col("vec_id").isin(quarIds.toSeq: _*)))
    def serveBq(dir: String): Seq[String] =
      graft.operators.BinaryQuant.bqTopKFromIndex(spark, dir, queries,
        Tables.embeddings(spark, d))
        .collect().map(_.toString).sorted.toSeq
    assert(serveBq(bq) === serveBq(bqRef))
    // capstone composition: the HYBRID serve over the streamed (grown)
    // bm25 + int8 indexes answers exactly what it answers over the
    // one-shot reference builds — the curation stream feeds retrieval
    def serveHybrid(bmDir: String, sqDir: String): Seq[String] =
      graft.operators.Hybrid.rrfFromIndexes(spark, d, bmDir, sqDir)
        .collect().map(_.toString).sorted.toSeq
    assert(serveHybrid(bm25, int8) === serveHybrid(bm25Ref, int8Ref))
    // LM leg: the streamed count model (batches only, no base) scores
    // docs exactly like a one-shot model trained on the same admitted
    // redacted texts — additive counts, zero approximation
    val pplRefDocs = tmpDir("cur_ppl_ref_docs")
    streamed.filter(!col("doc_id").isin(quarIds.toSeq: _*))
      .select(col("doc_id"), Scrub.redactPii(col("text")).as("text"),
        lit("en").as("lang"), lit("s").as("source"), lit(0L).as("n_chars"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$pplRefDocs/documents.parquet")
    val pplRef = tmpDir("cur_ppl_ref")
    graft.operators.Perplexity.writeModel(spark, pplRefDocs, pplRef,
      reference = lit(true))
    def servePpl(dir: String): Seq[String] =
      graft.operators.Perplexity.scoreWithModel(spark, d, dir)
        .collect().map(_.toString).sorted.toSeq
    assert(servePpl(ppl) === servePpl(pplRef))
    // substring leg: the grown position index serves exactly the
    // one-shot build over raw base docs + admitted REDACTED docs
    // (counts merge exactly; indexed text is the gated text)
    val substrRef = tmpDir("cur_substr_ref")
    val substrCovered = docs.filter(col("doc_id") % 5 =!= 4)
      .unionByName(streamed
        .filter(!col("doc_id").isin(quarIds.toSeq: _*))
        .select(col("doc_id"), Scrub.redactPii(col("text")).as("text")))
    graft.operators.Substring.writePositionIndex(spark, substrCovered,
      substrRef)
    def serveSubstr(dir: String): Seq[String] =
      graft.operators.Substring.incrementalSpansFromIndex(spark, dir,
        docs).collect().map(_.toString).sorted.toSeq
    assert(serveSubstr(substr) === serveSubstr(substrRef))
    assert(serveSubstr(substr).nonEmpty)
    // the r16 curation CUT served from the STREAMED index equals the
    // cut served from the one-shot reference build — the production
    // scrub shape composes with the maintainer's batch-grown index
    // unchanged (positions union, counts merge)
    def scrubServe(dir: String): Seq[String] =
      graft.operators.Substring.substringScrubFromIndex(spark, dir,
        substrCovered).collect().map(_.toString).sorted.toSeq
    assert(scrubServe(substr) === scrubServe(substrRef))
    assert(scrubServe(substr).nonEmpty)
    // BPE leg: the streamed index (frozen tokenizer, redacted batch
    // text encoded via vocab + OOV merge replay) serves the SAME
    // spans and the SAME curation cut as a one-shot build over raw
    // base docs + admitted redacted docs — positions union, counts
    // merge, streams union; redaction tags exercise the OOV path
    val bpeRef = tmpDir("cur_bpe_ref")
    graft.operators.Substring.writeBpeIndex(spark, d, bpeRef,
      nMerges = 8, indexDocs = Some(substrCovered))
    def bpeDupsServe(dir: String): Seq[String] =
      graft.operators.Substring.substringDupsBpeFromIndex(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    def bpeScrubServe(dir: String): Seq[String] =
      graft.operators.Substring.substringScrubBpeFromIndex(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    assert(bpeDupsServe(bpe) === bpeDupsServe(bpeRef))
    assert(bpeDupsServe(bpe).nonEmpty)
    assert(bpeScrubServe(bpe) === bpeScrubServe(bpeRef))
    assert(bpeScrubServe(bpe).nonEmpty)
    // restart on the same checkpoint with no new files: every lake
    // unchanged — the composed pipeline is exactly-once as a whole
    val q2 = Streams.curationMaintainer(stream(), Seq(probe), lake, ann,
      bm25, ckpt, int8IndexDir = Some(int8), bqIndexDir = Some(bq),
      pplModelDir = Some(ppl),
      substrIndexDir = Some(substr), bpeIndexDir = Some(bpe))
    q2.awaitTermination(300000)
    twoBatches()
    assert(serveBm(bm25) === serveBm(bm25Ref))
    assert(serveAnn(ann) === serveAnn(annRef))
    assert(serveInt8(int8) === serveInt8(int8Ref))
    assert(serveBq(bq) === serveBq(bqRef))
    assert(servePpl(ppl) === servePpl(pplRef))
    assert(serveSubstr(substr) === serveSubstr(substrRef))
    assert(bpeDupsServe(bpe) === bpeDupsServe(bpeRef))
    assert(bpeScrubServe(bpe) === bpeScrubServe(bpeRef))
  }

  test("curationMaintainer: a failing leg fails the batch only after " +
    "every leg has ended; the restart replays it exactly-once") {
    import graft.operators.{Search, Similarity}
    val d = sf()
    val lake = tmpDir("fail_lake")
    val ann = tmpDir("fail_ann") // no centroids: the IVF leg fails
    val bm25 = tmpDir("fail_bm25")
    val stage = tmpDir("fail_stage")
    val ckpt = tmpDir("fail_ckpt")
    val streamed = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
      .join(Tables.embeddings(spark, d)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .filter(col("doc_id") % 5 === 4)
    val admittedIds =
      streamed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    Search.buildIndex(spark, d, bm25,
      docFilter = Some(col("doc_id") % 5 =!= 4))
    Seq("a" -> (col("doc_id") % 2 === 0), "b" -> (col("doc_id") % 2 =!= 0))
      .foreach { case (name, part) =>
        val tmp = tmpDir(s"fail_stage_$name")
        streamed.filter(part).coalesce(1).write.mode("overwrite")
          .parquet(tmp)
        val f = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.copy(f.toPath,
          java.nio.file.Paths.get(s"$stage/$name.parquet"))
      }
    def start() = Streams.curationMaintainer(
      spark.readStream.schema(streamed.schema)
        .option("maxFilesPerTrigger", 1).parquet(stage),
      Seq("zzz never a gram"), lake, ann, bm25, ckpt)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      start().awaitTermination(300000))
    // the IVF leg's read error is carried up the cause chain ...
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage)
      .exists(_.contains(s"$ann/centroids"))), chain.mkString("\n"))
    // ... and the BM25 leg had finished its last write by then
    assert(new java.io.File(s"$bm25/stats_batches/batch=0/_SUCCESS")
      .exists)
    assert(!new java.io.File(s"$ckpt/commits/0").exists)
    // build the missing index, restart: batch 0 replays, batch 1 runs
    Similarity.ivfWriteIndex(spark, d, ann,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    start().awaitTermination(300000)
    def batchDirs(path: String): Seq[String] =
      new java.io.File(path).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("batch=")).sorted
    def ids(path: String, c: String): Set[Long] =
      spark.read.parquet(path).select(col(c)).distinct().collect()
        .map(_.getLong(0)).toSet
    Seq(s"$lake/documents" -> "doc_id",
      s"$ann/assignments_batches" -> "vec_id",
      s"$bm25/postings_batches" -> "doc_id").foreach { case (p, c) =>
      assert(batchDirs(p) === Seq("batch=0", "batch=1"), p)
      assert(ids(p, c) === admittedIds, p)
    }
  }

  test("curationMaintainer semantic leg: a paraphrase leak the n-gram " +
    "probe cannot see is quarantined by embedding, exactly-once") {
    import graft.operators.Similarity
    val d = sf()
    val lake = tmpDir("sem_lake")
    val ann = tmpDir("sem_ann")
    val bm25 = tmpDir("sem_bm25")
    val stage = tmpDir("sem_stage")
    val ckpt = tmpDir("sem_ckpt")
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val streamed = docs
      .join(Tables.embeddings(spark, d)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
      .filter(col("doc_id") % 5 === 4)
    // the probe is doc 9's own embedding — its "paraphrase" in the
    // leakage story; the n-gram grams list is a never-matching dummy,
    // so ONLY the semantic gate can catch it
    val probes = Tables.embeddings(spark, d)
      .filter(col("vec_id") === 9).select(col("embedding").as("q"))
    graft.operators.Search.buildIndex(spark, d, bm25,
      docFilter = Some(col("doc_id") % 5 =!= 4))
    Similarity.ivfWriteIndex(spark, d, ann,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    def stageBatch(name: String, part: org.apache.spark.sql.DataFrame):
        Unit = {
      val tmp = tmpDir(s"sem_stage_$name")
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    stageBatch("a", streamed.filter(col("doc_id") % 2 === 0))
    stageBatch("b", streamed.filter(col("doc_id") % 2 =!= 0))
    def stream() = spark.readStream.schema(streamed.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = Streams.curationMaintainer(stream(), Seq("zzz never a gram"),
      lake, ann, bm25, ckpt, semanticProbes = Some(probes))
    q.awaitTermination(300000)
    // quarantine holds exactly the semantic hit, attributed correctly
    val quar = spark.read.parquet(s"$lake/quarantine")
      .select(col("doc_id"), col("contaminated"), col("semantic_hit"),
        col("max_eval_sim"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        r.getBoolean(2), r.getDouble(3)))
    assert(quar.toSeq === Seq((9L, false, true, 1.0)))
    val streamedIds =
      streamed.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(spark.read.parquet(s"$lake/documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet ===
      streamedIds - 9L)
    // the ANN index grew WITHOUT the leak: serve parity with a
    // one-shot assignment over everything-but-the-leak
    val annRef = tmpDir("sem_ann_ref")
    Similarity.ivfWriteIndex(spark, d, annRef,
      assignOnly = Some(col("vec_id") =!= 9))
    val queries = Tables.embeddings(spark, d).filter(col("vec_id") < 5)
    def serveAnn(dir: String): Seq[String] =
      Similarity.ivfTopKFromIndex(spark, dir, queries)
        .collect().map(_.toString).sorted.toSeq
    assert(serveAnn(ann) === serveAnn(annRef))
    // restart with no new files: quarantine and lakes unchanged
    val q2 = Streams.curationMaintainer(stream(), Seq("zzz never a gram"),
      lake, ann, bm25, ckpt, semanticProbes = Some(probes))
    q2.awaitTermination(300000)
    assert(spark.read.parquet(s"$lake/quarantine").count() === 1L)
    assert(serveAnn(ann) === serveAnn(annRef))
  }

  test("streaming BM25 index maintainer: micro-batched document " +
    "arrivals grow the index to the one-shot build's exact ranking, " +
    "exactly-once across restarts") {
    import graft.operators.Search
    val full = tmpDir("bm25_maint_full")
    val grown = tmpDir("bm25_maint_grown")
    val stage = tmpDir("bm25_maint_stage")
    val ckpt = tmpDir("bm25_maint_ckpt")
    Search.buildIndex(spark, sf(), full)
    Search.buildIndex(spark, sf(), grown,
      docFilter = Some(col("doc_id") % 5 =!= 4))
    val heldOut = Tables.documents(spark, sf())
      .filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), col("text"))
    def stageBatch(name: String, part: org.apache.spark.sql.DataFrame):
        Unit = {
      val tmp = tmpDir(s"bm25_stage_$name")
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    stageBatch("a", heldOut.filter(col("doc_id") % 2 === 0))
    stageBatch("b", heldOut.filter(col("doc_id") % 2 =!= 0))
    def stream() = spark.readStream
      .schema(heldOut.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = Streams.bm25IndexMaintainer(stream(), grown, ckpt)
    q.awaitTermination(180000)
    def serve(dir: String): Seq[String] =
      Search.bm25FromIndex(spark, dir)
        .collect().map(_.toString).sorted.toSeq
    val oneShot = serve(full)
    assert(serve(grown) === oneShot)
    val batchDirs = new java.io.File(s"$grown/postings_batches")
      .listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(batchDirs === Seq("batch=0", "batch=1"))
    // restart on the same checkpoint: nothing re-read, nothing changed
    val q2 = Streams.bm25IndexMaintainer(stream(), grown, ckpt)
    q2.awaitTermination(180000)
    assert(serve(grown) === oneShot)
  }

  test("streaming erasure maintainer: micro-batched right-to-be-" +
    "forgotten requests fan to BM25 + int8 + IVF + LM tombstones, all " +
    "serving survivors-only answers, exactly-once across restarts") {
    import graft.operators.{Perplexity, ScalarQuant, Search, Similarity}
    val emb = Tables.embeddings(spark, sf())
    // survivors-only references: from-scratch builds without the
    // to-be-erased slice (doc_id/vec_id % 7 == 6)
    val survivorsDocs = tmpDir("erase_ref_docs")
    Tables.documents(spark, sf()).filter(col("doc_id") % 7 =!= 6)
      .write.mode("overwrite").parquet(s"$survivorsDocs/documents.parquet")
    val wantBm25 = Search.bm25(spark, survivorsDocs)
      .collect().map(_.toString).sorted.toSeq
    val refSq = tmpDir("erase_ref_sq")
    ScalarQuant.sqWriteIndex(spark, sf(), refSq,
      assignOnly = Some(col("vec_id") % 7 =!= 6))
    val wantSq = ScalarQuant.sqTopKFromIndex(spark, refSq,
      emb.filter(col("vec_id") < 5), emb)
      .collect().map(_.toString).sorted.toSeq
    val refIvf = tmpDir("erase_ref_ivf")
    Similarity.ivfWriteIndex(spark, sf(), refIvf,
      assignOnly = Some(col("vec_id") % 7 =!= 6))
    val wantIvf = Similarity.ivfTopKFromIndex(spark, refIvf,
      emb.filter(col("vec_id") < 5))
      .collect().map(_.toString).sorted.toSeq
    // the stream-fed LM trains every doc (reference = true), so the
    // survivors reference does too
    val wantPpl = Perplexity.perplexityFilter(spark, survivorsDocs,
      reference = lit(true)).collect().map(_.toString).sorted.toSeq
    // live indexes over the FULL corpus, then erase via the stream
    val bm25Idx = tmpDir("erase_bm25")
    val sqIdx = tmpDir("erase_sq")
    val ivfIdx = tmpDir("erase_ivf")
    val pplDir = tmpDir("erase_ppl")
    Search.buildIndex(spark, sf(), bm25Idx)
    ScalarQuant.sqWriteIndex(spark, sf(), sqIdx)
    Similarity.ivfWriteIndex(spark, sf(), ivfIdx)
    Perplexity.writeModel(spark, sf(), pplDir, reference = lit(true))
    val doomed = Tables.documents(spark, sf())
      .filter(col("doc_id") % 7 === 6)
      .select(col("doc_id"), col("text"))
    assert(doomed.count() > 0)
    val stage = tmpDir("erase_stage")
    val ckpt = tmpDir("erase_ckpt")
    def stageBatch(name: String, part: org.apache.spark.sql.DataFrame):
        Unit = {
      val tmp = tmpDir(s"erase_stage_$name")
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    stageBatch("a", doomed.filter(col("doc_id") % 2 === 0))
    stageBatch("b", doomed.filter(col("doc_id") % 2 =!= 0))
    def stream() = spark.readStream
      .schema(doomed.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    def run() = Streams.erasureMaintainer(stream(), bm25Idx, ckpt,
      int8IndexDir = Some(sqIdx), annIndexDirs = Seq(ivfIdx),
      pplModelDir = Some(pplDir))
    val q = run()
    q.awaitTermination(180000)
    def gotBm25() = Search.bm25FromIndex(spark, bm25Idx)
      .collect().map(_.toString).sorted.toSeq
    def gotSq() = ScalarQuant.sqTopKFromIndex(spark, sqIdx,
      emb.filter(col("vec_id") < 5), emb)
      .collect().map(_.toString).sorted.toSeq
    def gotIvf() = Similarity.ivfTopKFromIndex(spark, ivfIdx,
      emb.filter(col("vec_id") < 5))
      .collect().map(_.toString).sorted.toSeq
    def gotPpl() = Perplexity.scoreWithModel(spark, sf(), pplDir,
      reference = lit(true),
      docFilter = Some(col("doc_id") % 7 =!= 6))
      .collect().map(_.toString).sorted.toSeq
    assert(gotBm25() === wantBm25)
    assert(gotSq() === wantSq)
    assert(gotIvf() === wantIvf)
    assert(gotPpl() === wantPpl)
    // one tombstone batch per micro-batch, per family
    val tombDirs = new java.io.File(s"$bm25Idx/tombstones")
      .listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(tombDirs === Seq("batch=0", "batch=1"))
    // restart on the same checkpoint: nothing re-read, nothing changed
    val q2 = run()
    q2.awaitTermination(180000)
    assert(gotBm25() === wantBm25)
    assert(gotSq() === wantSq)
    assert(gotIvf() === wantIvf)
    assert(gotPpl() === wantPpl)
    // admin-cadence close-out with the maintainer stopped: compaction
    // folds the streamed tombstones in and serves the same answers
    Search.compactDeletes(spark, bm25Idx)
    ScalarQuant.compactDeletes(spark, sqIdx)
    Similarity.compactAnnDeletes(spark, ivfIdx)
    Perplexity.compactDeletes(spark, pplDir)
    assert(!new java.io.File(s"$bm25Idx/tombstones").exists())
    assert(!new java.io.File(s"$ivfIdx/tombstones").exists())
    assert(!new java.io.File(s"$pplDir/tombstones").exists())
    assert(gotBm25() === wantBm25)
    assert(gotSq() === wantSq)
    assert(gotIvf() === wantIvf)
    assert(gotPpl() === wantPpl)
  }

  test("streaming ANN index maintainer: micro-batched vector arrivals " +
    "grow the frozen-geometry index to the one-shot build's exact " +
    "ranking, exactly-once across restarts") {
    import graft.operators.Similarity
    import spark.implicits._
    val full = tmpDir("ann_maint_full")
    val grown = tmpDir("ann_maint_grown")
    val stage = tmpDir("ann_maint_stage")
    val ckpt = tmpDir("ann_maint_ckpt")
    // one-shot reference build vs a base holding only 80% of the
    // corpus (geometry fit on the full corpus, the production pattern)
    Similarity.ivfWriteIndex(spark, sf(), full)
    Similarity.ivfWriteIndex(spark, sf(), grown,
      assignOnly = Some(col("vec_id") % 5 =!= 4))
    // the held-out 20% arrives as two staged files → two micro-batches
    val heldOut = Tables.embeddings(spark, sf())
      .filter(col("vec_id") % 5 === 4)
      .select(col("vec_id"), col("embedding"))
    def stageBatch(name: String, part: org.apache.spark.sql.DataFrame):
        Unit = {
      val tmp = tmpDir(s"ann_stage_$name")
      part.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    stageBatch("a", heldOut.filter(col("vec_id") % 2 === 0))
    stageBatch("b", heldOut.filter(col("vec_id") % 2 =!= 0))
    def stream() = spark.readStream
      .schema(heldOut.schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = Streams.annIndexMaintainer(stream(), grown, ckpt)
    q.awaitTermination(180000)
    val queries = Tables.embeddings(spark, sf())
      .filter(col("vec_id") < 5)
    def serve(dir: String): Seq[String] =
      Similarity.ivfTopKFromIndex(spark, dir, queries)
        .collect().map(_.toString).sorted.toSeq
    val oneShot = serve(full)
    assert(serve(grown) === oneShot)
    // two micro-batches → two batch dirs in the append table
    val batchDirs = new java.io.File(s"$grown/assignments_batches")
      .listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(batchDirs === Seq("batch=0", "batch=1"))
    // a restart on the same checkpoint re-reads nothing and changes
    // nothing (exactly-once: committed batches are not re-delivered)
    val q2 = Streams.annIndexMaintainer(stream(), grown, ckpt)
    q2.awaitTermination(180000)
    assert(serve(grown) === oneShot)
    // the drift monitor sees the grown lake: occupancy sums to the
    // full corpus and shares to 1
    val stats = Similarity.ivfCellStats(spark, grown).collect()
    assert(stats.map(_.getLong(1)).sum ===
      Tables.embeddings(spark, sf()).count())
    assert(math.abs(stats.map(_.getDouble(2)).sum - 1.0) < 0.01)
  }

  private lazy val fixtureDir = {
    val dir = tmpDir("stream_fix")
    WeatherFixtures.writeJson(dir, "batch1.json",
      WeatherFixtures.standardBatch)
    dir
  }

  test("streaming hourly window equals batch hourly aggregate") {
    val stream = Streams.observationStream(spark, fixtureDir)
    // complete mode: the 7-day watermark would withhold every window of
    // the 20-hour fixture in append mode
    val q = Streams.hourlyWindowed(stream)
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("hourly_stream")
      .select(col("hour"), col("avg_temperature_c"),
        col("observation_count"))
      .collect().map(r => (r.get(0).toString,
        r.getDouble(1), r.getLong(2))).toSet
    val batchObs = Warehouse.parseObservations(
      spark.read.schema(WeatherSchemas.rawDocument).json(fixtureDir))
    val want = Warehouse.hourlyAggregates(batchObs)
      .select(col("hour"), col("avg_temperature_c"),
        col("observation_count"))
      .collect().map(r => (r.get(0).toString,
        r.getDouble(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("watermarked dedup stream drops re-sent observation ids") {
    val obs = Streams.observationStream(spark, fixtureDir)
    val q = Streams.dedupedObservations(obs)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("dedup_stream")
      .select("observation_id").collect().map(_.getString(0))
    assert(ids.length === ids.distinct.length)
    // the fixture contains an exact duplicate feature → raw parse has
    // one more row than the deduped stream
    val rawCount = Warehouse.parseObservations(
      spark.read.schema(WeatherSchemas.rawDocument).json(fixtureDir))
      .count()
    assert(ids.length.toLong === rawCount - 1)
  }

  test("streaming document dedup: re-ingesting the same docs across " +
    "micro-batches yields no new rows") {
    val stage = tmpDir("docs_dedup_stream")
    // the same corpus staged twice = a full re-ingestion; with
    // maxFilesPerTrigger=1 the copy arrives in a LATER micro-batch, so
    // suppression must come from cross-batch dedup state, not
    // within-batch distinct
    for (f <- Seq("d1.parquet", "d2.parquet"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"${sf()}/documents.parquet"),
        java.nio.file.Paths.get(s"$stage/$f"))
    val schema = Tables.documents(spark, sf()).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .withColumn("ingest_ts",
        timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000L))
    val q = Streams.dedupedDocuments(stream)
      .writeStream.format("memory").queryName("docs_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("docs_dedup").count()
    val distinctTexts = Tables.documents(spark, sf())
      .select("text").distinct().count()
    assert(got === distinctTexts,
      s"expected one row per distinct text ($distinctTexts), got $got")
  }

  test("streaming near-dup maintainer: pairs emitted once across " +
    "micro-batches, lake index grows with each batch") {
    import spark.implicits._
    def doc(seed: Int, change: Int = -1): String =
      (1 to 40).map(i =>
        if (i == change) "CHANGED" else s"w${seed}_$i").mkString(" ")
    val stage = tmpDir("neardup_stream")
    val lake = tmpDir("neardup_lake")
    // batch A: 1-2 near-dup each other, 3 far; batch B: 10 near-dups 1
    // (cross-batch), 11-12 near-dup each other (within-batch), 13 far.
    // The file stream source lists plain files (no recursion), so each
    // batch's part file is copied out of its write directory.
    def stageBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpDir(s"stage_$name")
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    stageBatch("a", Seq((1L, doc(7)), (2L, doc(7, change = 5)),
      (3L, doc(9))))
    stageBatch("b", Seq((10L, doc(7, change = 31)), (11L, doc(4)),
      (12L, doc(4, change = 8)), (13L, doc(5))))
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q = Streams.nearDupMaintainer(stream, lake,
      checkpoint = tmpDir("neardup_ckpt"), threshold = 0.5)
    q.awaitTermination(180000)
    // every unordered pair exactly once, regardless of batch order:
    // within-batch pairs plus the cross-batch (1,10)/(2,10) matches
    val pairs = spark.read.parquet(s"$lake/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.sorted === Seq((1L, 2L), (1L, 10L), (2L, 10L),
      (11L, 12L)).sorted)
    // the lake holds the full corpus and bands-per-doc bucket rows
    assert(spark.read.parquet(s"$lake/documents").count() === 7L)
    assert(spark.read.parquet(s"$lake/buckets").count() === 7L * 4)
  }

  test("maintainer index compaction: batch dirs collapse to one, " +
    "content intact, later batches still pair against the compacted index") {
    import spark.implicits._
    def doc(seed: Int, change: Int = -1): String =
      (1 to 40).map(i =>
        if (i == change) "CHANGED" else s"w${seed}_$i").mkString(" ")
    val stage = tmpDir("compact_stream")
    val lake = tmpDir("compact_lake")
    val ckpt = tmpDir("compact_ckpt")
    def stageBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpDir(s"stage_$name")
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    def batchDirs(table: String): Seq[String] =
      new java.io.File(s"$lake/$table").listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("batch="))
        .map(_.getName).sorted
    def countFiles(table: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$lake/$table"))
    }
    // two micro-batches land as two batch dirs per table
    stageBatch("a", Seq((1L, doc(7)), (2L, doc(7, change = 5)),
      (3L, doc(9))))
    stageBatch("b", Seq((10L, doc(7, change = 31)), (11L, doc(4))))
    def stream() = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val q1 = Streams.nearDupMaintainer(stream(), lake,
      checkpoint = ckpt, threshold = 0.5)
    q1.awaitTermination(180000)
    assert(batchDirs("documents") === Seq("batch=0", "batch=1"))
    val pairsBefore = spark.read.parquet(s"$lake/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val docsBefore = spark.read.parquet(s"$lake/documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    val bucketsBefore =
      spark.read.parquet(s"$lake/buckets").drop("batch").count()
    val filesBefore = Seq("documents", "buckets", "pairs")
      .map(countFiles).sum
    // compact everything the stream has committed past
    Streams.compactIndex(spark, lake, upToBatch = 1L)
    Seq("documents", "buckets", "pairs").foreach { t =>
      assert(batchDirs(t) === Seq("batch=1"), s"$t not compacted")
    }
    val filesAfter = Seq("documents", "buckets", "pairs")
      .map(countFiles).sum
    info(s"parquet files: $filesBefore -> $filesAfter")
    assert(filesAfter < filesBefore)
    // content is byte-for-byte the same lake state
    assert(spark.read.parquet(s"$lake/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted ===
      pairsBefore)
    assert(spark.read.parquet(s"$lake/documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted === docsBefore)
    assert(spark.read.parquet(s"$lake/buckets").drop("batch").count()
      === bucketsBefore)
    // re-running compaction is a no-op (idempotent admin op)
    Streams.compactIndex(spark, lake, upToBatch = 1L)
    assert(batchDirs("documents") === Seq("batch=1"))
    // a later batch pairs against the COMPACTED standing index: 20 is
    // a near-dup of 1/2/10 (cross-batch through compacted dirs) and
    // nothing self-pairs or duplicates
    stageBatch("c", Seq((20L, doc(7, change = 17))))
    val q2 = Streams.nearDupMaintainer(stream(), lake,
      checkpoint = ckpt, threshold = 0.5)
    q2.awaitTermination(180000)
    val pairsAfter = spark.read.parquet(s"$lake/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(pairsAfter === (pairsBefore ++
      Seq((1L, 20L), (2L, 20L), (10L, 20L))).sorted)
  }

  test("scrub gate composed into the near-dup maintainer: the index " +
    "sees redacted text, contaminated docs never enter the lake") {
    import spark.implicits._
    def doc(seed: Int, change: Int = -1, pii: String = null): String =
      (1 to 40).map(i =>
        if (i == change) "CHANGED"
        else if (i == 5 && pii != null) pii
        else s"w${seed}_$i").mkString(" ")
    val stage = tmpDir("scrub_maintain_stage")
    val lake = tmpDir("scrub_maintain_lake")
    def stageBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = tmpDir(s"stage_$name")
      rows.toDF("doc_id", "text").coalesce(1).write
        .mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/$name.parquet"))
    }
    // 1 and 2 carry DIFFERENT emails in the same slot: only after
    // redaction (<EMAIL> in both) are they EXACT duplicates — the
    // jaccard-1.0 assertion below is therefore proof the index was
    // built over scrubbed text, not the raw stream. 13 is an exact
    // doc(7) copy whose intact w7_4..w7_7 gram matches the probe → it
    // is dropped at the gate and must never index or pair. 10 arrives
    // in batch B: near-dup of 1/2 across batches (its email breaks
    // the probe gram; CHANGED at 31 keeps it a 1-word diff).
    stageBatch("a", Seq(
      (1L, doc(7, pii = "alice@example.com")),
      (2L, doc(7, pii = "bob@test.org")),
      (3L, doc(9)),
      (13L, doc(7))))
    stageBatch("b", Seq(
      (10L, doc(7, change = 31, pii = "carol@mail.net"))))
    val probes = Seq("w7_4 w7_5 w7_6 w7_7")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(stage)
    val scrubbed = Streams.scrubbedDocuments(stream, probes, ngramSize = 4)
      .filter(!col("contaminated"))
      .select(col("doc_id"), col("clean_text").as("text"))
    val q = Streams.nearDupMaintainer(scrubbed, lake,
      checkpoint = tmpDir("scrub_maintain_ckpt"), threshold = 0.5)
    q.awaitTermination(180000)
    val pairs = spark.read.parquet(s"$lake/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).sorted ===
      Seq((1L, 2L), (1L, 10L), (2L, 10L)))
    // exact duplicates ONLY post-redaction: raw texts differ in the
    // email slot, so jaccard 1.0 here pins the scrubbed composition
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 === 1.0)
    val lakeDocs = spark.read.parquet(s"$lake/documents")
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lakeDocs.keySet === Set(1L, 2L, 3L, 10L)) // 13 gated out
    assert(lakeDocs(1L).contains("<EMAIL>") &&
      !lakeDocs(1L).contains("alice@"))
    assert(spark.read.parquet(s"$lake/buckets")
      .select("doc_id", "band", "bucket").count() === 4L * 4)
  }

  test("streaming scrub gate flags PII and contamination in-flight") {
    import spark.implicits._
    val stage = tmpDir("docs_scrub_stream")
    Seq(
      (0L, "totally clean document text here"),
      (1L, "contact me at leak@example.com please"),
      (2L, "alpha beta gamma delta epsilon zeta"), // matches a probe 4-gram
      (3L, "alpha beta gamma unrelated tail"))     // only a 3-gram overlap
      .toDF("doc_id", "text")
      .write.parquet(s"$stage/in.parquet")
    val probes = Seq("alpha beta gamma delta", "one two three four")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$stage/in.parquet")
    val q = Streams.scrubbedDocuments(stream, probes, ngramSize = 4)
      .writeStream.format("memory").queryName("docs_scrub")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("docs_scrub")
      .select("doc_id", "clean_text", "pii_found", "contaminated")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(got(0) === (("totally clean document text here", false, false)))
    assert(got(1) === (("contact me at <EMAIL> please", true, false)))
    assert(got(2)._2 === false && got(2)._3 === true)
    assert(got(3)._3 === false) // sub-window overlap is not contamination
  }

  test("maxFilesPerTrigger rate-limits ingest to one file per batch") {
    val dir = tmpDir("stream_rate")
    WeatherFixtures.writeJson(dir, "b1.json", WeatherFixtures.standardBatch)
    WeatherFixtures.writeJson(dir, "b2.json", WeatherFixtures.standardBatch)
    val batches = new java.util.concurrent.atomic.AtomicInteger()
    val q = Streams.observationStream(spark, dir,
      maxFilesPerTrigger = Some(1))
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) batches.incrementAndGet(): Unit
      }
      .start()
    q.awaitTermination(120000)
    assert(batches.get() === 2) // two files → two throttled micro-batches
  }

  test("foreachBatch aggregate refresh writes warehouse tables") {
    val root = tmpDir("stream_agg")
    val obs = Streams.observationStream(spark, fixtureDir)
    val q = Streams.aggregateRefresh(obs,
      s"$root/obs", s"$root/daily", s"$root/monthly",
      s"$root/ckpt")
    q.awaitTermination(120000)
    val daily = spark.read.parquet(s"$root/daily")
    assert(daily.count() >= 2)
    assert(daily.columns.contains("warehouse_load_time"))
    assert(daily.columns.contains("load_mode"))
    // restart with no new files → no duplicate appends (checkpointing)
    val q2 = Streams.aggregateRefresh(obs,
      s"$root/obs", s"$root/daily", s"$root/monthly", s"$root/ckpt")
    q2.awaitTermination(120000)
    val obsCount = spark.read.parquet(s"$root/obs").count()
    assert(obsCount === Warehouse.parseObservations(
      spark.read.schema(WeatherSchemas.rawDocument).json(fixtureDir))
      .count())
  }

  test("session windows: streaming result equals static session_window") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stageDir = tmpDir("events_sessions")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$stageDir/events.parquet"))
    val rawSchema = spark.read.parquet(s"$stageDir/events.parquet").schema
    val stream = Tables.normalizeEvents(
      spark.readStream.schema(rawSchema).parquet(stageDir))
    val q = Streams.userSessions(stream)
      .writeStream.format("memory").queryName("sessions_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.get(0).toString, r.get(1).toString, r.getLong(2), r.getLong(3))
    val got = spark.table("sessions_stream")
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events")).collect().map(key).toSet
    val want = Streams.userSessions(Tables.events(spark, sf()))
      .select(col("session_start"), col("session_end"), col("user_id"),
        col("n_events")).collect().map(key).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("sliding windows place each event in 4 overlapping windows") {
    val sliding = Streams.eventSliding(Tables.events(spark, sf()))
      .agg(sum(col("n_obs"))).collect().head.getLong(0)
    val total = Tables.events(spark, sf())
      .filter(col("value").isNotNull).count()
    assert(sliding === total * 4)
  }

  test("stream-stream interval join attributes purchases to clicks") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stageDir = tmpDir("events_attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$stageDir/events.parquet"))
    val rawSchema = spark.read.parquet(s"$stageDir/events.parquet").schema
    val stream = Tables.normalizeEvents(
      spark.readStream.schema(rawSchema).parquet(stageDir))
    val q = Streams.purchaseAttribution(stream)
      .writeStream.format("memory").queryName("attr_stream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("attr_stream")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin over the static table (same join condition)
    val want = Streams.purchaseAttribution(Tables.events(spark, sf()))
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming event hourly matches batch Hierarchy.hourly") {
    // file-source streaming needs a directory: stage the events file
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stageDir = tmpDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${sf()}/events.parquet"),
      java.nio.file.Paths.get(s"$stageDir/events.parquet"))
    val rawSchema = spark.read.parquet(s"$stageDir/events.parquet").schema
    val stream = Tables.normalizeEvents(
      spark.readStream.schema(rawSchema).parquet(stageDir))
    val q = Streams.eventHourly(stream)
      .writeStream.format("memory").queryName("ev_hourly")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("ev_hourly")
      .select("date", "hr", "avg_value", "n_obs")
      .collect().map(r => (r.get(0).toString, r.getInt(1),
        math.rint(r.getDouble(2) * 1e6), r.getLong(3))).toSet
    val want = Hierarchy.hourly(Tables.events(spark, sf()))
      .select("date", "hr", "avg_value", "n_obs")
      .collect().map(r => (r.get(0).toString, r.getInt(1),
        math.rint(r.getDouble(2) * 1e6), r.getLong(3))).toSet
    assert(got.subsetOf(want))
    // append mode withholds only windows newer than the watermark
    assert(got.size >= want.size - 26)
    assert(got.nonEmpty)
  }
}
