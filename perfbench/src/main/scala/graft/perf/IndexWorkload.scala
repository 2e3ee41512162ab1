package graft.perf

import graft.SparkEntry
import graft.operators.{BinaryQuant, Perplexity, ScalarQuant, Search,
  Similarity, Substring}
import graft.registry.TextQueries
import graft.streaming.Streams
import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** `index`: the index layer, written and read. The corpus tables have
  * the size of sf0.1's (5000 documents, 2000 embeddings). Set-up builds
  * their bm25/ivf/int8/bq/substring/BPE indexes and the LM count model
  * where the registry's `*_served` rows read them. Before the window
  * `Streams.curationMaintainer` starts with all nine legs on. Each
  * timed operation lands one micro-batch file of new documents, waits
  * for `processAllAvailable()`, then calls the four `*_served` rows of
  * [[IndexWorkload.Rows]] over the grown indexes in a seeded order (a
  * session of related top-k calls), each materialized with a `noop`
  * sink. After the window the admin close-out runs once:
  * `Streams.compactIndex` and every family's `promote*Batches`.
  *
  * Checks, outside the window: on the base indexes every served answer
  * equals its inline twin's (the registry checks each pair against one
  * oracle); before the close-out quarantined ∪ admitted = landed, the
  * quarantine is exactly the generator's probe hits, and every grown
  * index holds exactly the committed batch ids; the close-out leaves
  * one base per index.
  */
final class IndexWorkload(ctx: Ctx, baseDocs: Int = IndexWorkload.BaseDocs,
    vectors: Int = IndexWorkload.Vectors,
    docsPerBatch: Int = IndexWorkload.DocsPerBatch) {
  import IndexWorkload._
  private val spark = ctx.spark
  private val corpus = CorpusGen.docs(ctx.seed, baseDocs + Batches * docsPerBatch)
  private val probes = CorpusGen.probes(ctx.seed)
  private[perf] val corpusDir = ctx.dir("index/corpus")
  private val root = TextQueries.indexRoot(corpusDir)
  private val microBatches: IndexedSeq[Seq[CorpusDoc]] =
    corpus.drop(baseDocs).grouped(docsPerBatch).toIndexedSeq
  private val order = new scala.util.Random(ctx.seed ^ 0x5e4eL)

  private object Dirs {
    val lake = s"$root/lake"
    val ivf = s"$root/ivf"
    val bm25 = s"$root/bm25"
    val int8 = s"$root/int8"
    val bq = s"$root/bq"
    val ppl = s"$root/ppl"
    val substr = s"$root/substr"
    val bpe = s"$root/bpe"
  }

  private val streamSchema = new StructType()
    .add("doc_id", LongType).add("text", StringType)
    .add("embedding", ArrayType(FloatType))

  /** The base corpus as the program's tables, and each micro-batch as
    * one parquet file to land later.
    */
  private def writeInputs(): Unit = {
    CorpusGen.writeTables(spark, corpus.take(baseDocs), vectors, corpusDir)
    microBatches.zipWithIndex.foreach { case (b, i) =>
      val tmp = ctx.dir(s"index/staging_tmp/$i")
      spark.createDataFrame(java.util.Arrays.asList(b.map(d =>
          Row(d.docId, d.text, d.embedding.toSeq)): _*), streamSchema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new File(ctx.dir("index/staging"), f"mb$i%03d.parquet").toPath)
    }
  }

  /** The seven base builds, each in its own span. */
  private def build(tr: Tracer): Unit = {
    val d = corpusDir
    Util.deleteTree(new File(root))
    tr.span("build.bm25")(Search.buildIndex(spark, d, Dirs.bm25))
    tr.span("build.ivf")(Similarity.ivfWriteIndex(spark, d, Dirs.ivf))
    tr.span("build.int8")(ScalarQuant.sqWriteIndex(spark, d, Dirs.int8))
    tr.span("build.bq")(BinaryQuant.bqWriteIndex(spark, d, Dirs.bq))
    tr.span("build.substr")(Substring.writePositionIndex(spark,
      graft.Tables.documents(spark, d).select(col("doc_id"), col("text")),
      Dirs.substr))
    tr.span("build.bpe")(Substring.writeBpeIndex(spark, d, Dirs.bpe,
      nMerges = BpeMerges))
    tr.span("build.ppl")(Perplexity.writeModel(spark, d, Dirs.ppl,
      reference = lit(true)))
  }

  private def startStream(land: String): StreamingQuery =
    Streams.curationMaintainer(
      spark.readStream.schema(streamSchema)
        .option("maxFilesPerTrigger", 1).parquet(land),
      probes, Dirs.lake, Dirs.ivf, Dirs.bm25,
      s"${ctx.dir("index/stream")}/checkpoint",
      trigger = Trigger.ProcessingTime(0L),
      int8IndexDir = Some(Dirs.int8), bqIndexDir = Some(Dirs.bq),
      pplModelDir = Some(Dirs.ppl), substrIndexDir = Some(Dirs.substr),
      bpeIndexDir = Some(Dirs.bpe))

  /** One timed operation: land micro-batch `op`, wait for its commit,
    * then one call of every served row.
    */
  private def operation(tr: Tracer, q: StreamingQuery, land: String,
      op: Int): Unit = {
    val src = new File(ctx.dir("index/staging"), f"mb$op%03d.parquet")
    val hidden = new File(land, s".${src.getName}")
    tr.span("microbatch", op) {
      java.nio.file.Files.copy(src.toPath, hidden.toPath)
      java.nio.file.Files.move(hidden.toPath, new File(land, src.getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
    }
    ctx.log(f"op $op micro-batch: ${tr.named("microbatch").last.seconds}%.2f s")
    order.shuffle(Rows.map(_._1)).foreach { row =>
      tr.span(s"read:$row", op)(
        Util.noop(SparkEntry.queries(row)(spark, corpusDir)))
    }
  }

  /** Every served answer on the base indexes (hash by row) equals its
    * inline twin's.
    */
  private[perf] def twinChecks(served: Map[String, String]): Seq[Check] =
    Rows.map { case (row, twin, _) =>
      val (a, b) = (served(row),
        Util.rowsHash(SparkEntry.queries(twin)(spark, corpusDir)))
      Check(s"$row = $twin on the base indexes", a == b,
        s"${a.take(12)} vs ${b.take(12)}")
    }

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet

  /** Before the close-out: quarantined ∪ admitted = landed (disjoint),
    * the quarantine is exactly the probe hits, and every grown index
    * holds exactly the committed batch ids.
    */
  private def checkGrown(landed: Seq[CorpusDoc], n: Int): Seq[Check] = {
    val quar = ids(s"${Dirs.lake}/quarantine")
    val admitted = ids(s"${Dirs.lake}/documents")
    val hits = landed.filter(_.probeHit).map(_.docId).toSet
    val want = (0 until n).map(i => s"batch=$i")
    val grown = Seq(s"${Dirs.lake}/documents", s"${Dirs.lake}/buckets",
      s"${Dirs.ivf}/assignments_batches", s"${Dirs.bm25}/postings_batches",
      s"${Dirs.int8}/codes_batches", s"${Dirs.bq}/words_batches",
      s"${Dirs.ppl}/bigrams_batches", s"${Dirs.substr}/positions_batches",
      s"${Dirs.bpe}/positions_batches", s"${Dirs.bpe}/streams_batches")
    val wrong = grown.filter(p => Util.batchDirs(p) != want)
    Seq(
      Check("quarantined ∪ admitted = landed, disjoint",
        (quar ++ admitted) == landed.map(_.docId).toSet &&
          (quar & admitted).isEmpty,
        s"${quar.size} + ${admitted.size} of ${landed.size}"),
      Check("quarantine = the generator's probe hits", quar == hits,
        s"${quar.size} vs ${hits.size}"),
      Check("every grown index holds exactly the committed batch ids",
        wrong.isEmpty, wrong.map(p => s"$p: ${Util.batchDirs(p)}")
          .mkString("; ")))
  }

  /** After the close-out: one base per index, no batch left over. */
  private def checkClosed(): Seq[Check] = {
    val compacted = Seq("documents", "buckets", "pairs")
      .map(t => s"${Dirs.lake}/$t").filter(p => new File(p).exists)
      .filter(p => Util.batchDirs(p).size != 1)
    val leftovers = Seq(Dirs.ivf, Dirs.bm25, Dirs.int8, Dirs.bq, Dirs.ppl,
        Dirs.substr, Dirs.bpe)
      .flatMap(dir => Option(new File(dir).listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith("_batches") || f.getName.startsWith("__"))
        .map(_.getPath))
    Seq(Check("compactIndex leaves one batch dir per near-dup table",
        compacted.isEmpty, compacted.mkString("; ")),
      Check("promotion leaves one base per index", leftovers.isEmpty,
        leftovers.mkString("; ")))
  }

  /** The admin close-out over `n` committed batches, each step in its
    * own span.
    */
  private def closeOut(tr: Tracer, n: Int): Unit = tr.span("maint") {
    tr.span("maint.compactIndex")(Streams.compactIndex(spark, Dirs.lake, n - 1L))
    tr.span("maint.ivf")(Similarity.promoteBatches(spark, Dirs.ivf))
    tr.span("maint.bm25")(Search.promoteBatches(spark, Dirs.bm25))
    tr.span("maint.int8")(ScalarQuant.promoteBatches(spark, Dirs.int8))
    tr.span("maint.bq")(BinaryQuant.promoteBatches(spark, Dirs.bq))
    tr.span("maint.ppl")(Perplexity.promoteBatches(spark, Dirs.ppl))
    tr.span("maint.substr")(Substring.promotePositionBatches(spark, Dirs.substr))
    tr.span("maint.bpe")(Substring.promotePositionBatches(spark, Dirs.bpe))
  }

  def run(): Outcome = {
    writeInputs()
    ctx.log("inputs written")
    // set-up, once, on a cold JVM
    val setupTr = new Tracer
    setupTr.span("setup")(build(setupTr))
    ctx.log(f"set-up: ${setupTr.seconds("setup").head}%.2f s")
    // warm-up, discarded: one call of every row on the base indexes,
    // keeping its answer for the twin check
    val base = Rows.map { case (row, _, _) =>
      row -> Util.rowsHash(SparkEntry.queries(row)(spark, corpusDir))
    }.toMap
    ctx.log("warm-up done")

    val land = ctx.dir("index/land")
    val q = startStream(land)
    val (plain, traced) =
      try Layers.windows(ctx, MinOps, Batches)((tr, op) => operation(tr, q, land, op))
      finally q.stop()
    val n = plain.ops.size + traced.toSeq.map(_._1.ops.size).sum
    val landed = microBatches.take(n).flatten
    val grown = checkGrown(landed, n)
    val maintTr = new Tracer
    closeOut(maintTr, n)
    ctx.log(f"close-out: ${maintTr.seconds("maint").head}%.2f s")
    val checks = twinChecks(base) ++ grown ++ checkClosed()
    ctx.log("checks done")

    // per operation: its micro-batch and its calls; the close-out; the checks
    val attempted = n * (1 + Rows.size) + 1 + checks.size
    val failed = checks.count(!_.ok)
    val fresh = plain.tr.seconds("microbatch")
    val reads = plain.tr.spans.filter(_.name.startsWith("read:")).map(_.seconds)
    val docs = microBatches.take(plain.ops.size).map(_.size).sum
    val e2e = Seq(
      Metric("setup_s", setupTr.seconds("setup").head, "s", 1,
        "seven base index builds on a cold JVM"),
      Metric("rows_per_s", docs / fresh.sum, "1/s", fresh.size,
        s"$docs documents over the micro-batch spans"),
      Metric("maint_s", maintTr.seconds("maint").head, "s", 1,
        "admin close-out")) ++
      Layers.latency("fresh", fresh) ++ Layers.latency("read", reads) ++
      Seq(Metric("peak_heap_mb", plain.heapMb, "MB", 1, "timed window"),
        Metric("fail_ratio", failed.toDouble / attempted, "ratio", attempted))
    val builds = BuildSteps.map(b => Metric(s"operators.build.$b.s",
      setupTr.seconds(s"build.$b").head, "s", 1))
    val maint = MaintSteps.map(m => Metric(s"operators.maint.$m.s",
      maintTr.seconds(s"maint.$m").head, "s", 1))

    val layers = traced.toSeq.flatMap { case (w, st) =>
      val tr = w.tr
      val streamLegs = Attribution.streamLegs(st.sqlExecutions, Seq(
        s"${Dirs.lake}/quarantine" -> "scrub", Dirs.lake -> "neardup",
        Dirs.ivf -> "ivf", Dirs.bm25 -> "bm25", Dirs.int8 -> "int8",
        Dirs.bq -> "bq", Dirs.ppl -> "ppl", Dirs.substr -> "substr",
        Dirs.bpe -> "bpe"))
      val legOf = (e: SqlExec) => streamLegs.get(e.id)
      Layers.adoptSql(tr, st, e => legOf(e).map(l => s"leg.$l")
        .orElse(Attribution.module(e.callSite)).getOrElse("unattributed"))
      val nBatches = tr.named("microbatch").size
      val trig = st.triggerProgress
      def trigMedian(k: String, name: String) =
        Metric(s"streaming.Streams.$name",
          Stats.median(trig.map(_.durations.getOrElse(k, 0L) / 1000.0)), "s",
          trig.size, "median trigger")
      val legs = Attribution.LegNames.flatMap { l =>
        val jobs = st.work(Layers.jobsOf(st, e => legOf(e).contains(l))).jobs
        Seq(Metric(s"streaming.Streams.leg.$l.self_s",
            Layers.selfOf(tr, s"leg.$l") / nBatches, "s", nBatches,
            "per micro-batch"),
          Metric(s"streaming.Streams.leg.$l.jobs", jobs.toDouble / nBatches,
            "count", nBatches, "per micro-batch"))
      }
      val quarantined = landed.count(_.probeHit)
      Layers.sparkPerOp(st, nBatches, w.wallS,
        Stats.median(tr.seconds("microbatch")) / Stats.median(fresh) - 1) ++
        Seq(trigMedian("addBatch", "add_batch_s"),
          trigMedian("queryPlanning", "query_planning_s"),
          trigMedian("walCommit", "wal_commit_s"),
          trigMedian("triggerExecution", "trigger_s"),
          Metric("streaming.Streams.quarantine_ratio",
            quarantined.toDouble / landed.size, "ratio", landed.size)) ++
        legs ++
        Layers.registryFamilies(tr, st,
          Rows.groupBy(_._3).toSeq.sortBy(_._1)
            .map { case (f, rs) => f -> rs.map(_._1) }) ++
        Seq(Metric("trace.span_misfits", tr.misfits.size, "count", tr.spans.size))
    }
    Outcome("index", e2e ++ builds ++ maint ++ layers, attempted, failed, checks)
  }
}

object IndexWorkload {
  /** The sf0.1 `documents` and `embeddings` table sizes. */
  val BaseDocs = 5000
  val Vectors = 2000
  /** New documents per micro-batch: 1/16 of the base, the ratio of a
    * 5,000-document batch on an 80k-document base.
    */
  val DocsPerBatch = 312
  /** Micro-batches generated: enough for both windows of a traced run. */
  val Batches = 3
  /** A micro-batch and its calls take ~16 s on 4 cores; one per window
    * keeps a run inside the benchmark's time budget.
    */
  val MinOps = 1
  val BpeMerges = 8
  val BuildSteps: Seq[String] =
    Seq("bm25", "ivf", "int8", "bq", "substr", "bpe", "ppl")
  val MaintSteps: Seq[String] =
    Seq("compactIndex", "ivf", "bm25", "int8", "bq", "ppl", "substr", "bpe")
  /** Served rows, their inline twins and their index family. */
  val Rows: Seq[(String, String, String)] = Seq(
    ("q_bm25_served", "q_bm25", "text"),
    ("q_ann_int8_served", "q_ann_int8", "quant"),
    ("q_ann_bq_served", "q_ann_bq", "quant"),
    ("q_ann_ivf_served", "q_ann_ivf", "ann"))
}
