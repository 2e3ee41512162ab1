package graft

import graft.operators.{ScalarQuant, Search}
import graft.streaming.Streams
import java.io.{File, IOException}
import java.net.URI
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

/** The local filesystem under the `faulty:` scheme, with renames that
  * can be made to fail. Spark's own output-committer moves (sources
  * under `_temporary`) always pass, so staged tables still get written;
  * the renames the index lifecycle makes itself — the swap step of a
  * publish and the slot commit — return false or throw on demand.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("faulty:///")
  override def getScheme: String = "faulty"
  override def rename(src: Path, dst: Path): Boolean =
    if (src.toString.contains("/_temporary")) super.rename(src, dst)
    else FaultyFs.fault match {
      case None => super.rename(src, dst)
      case Some(FaultyFs.RenameFalse) => false
      case Some(FaultyFs.RenameThrows) =>
        throw new IOException(s"injected rename failure: $src")
    }
}

object FaultyFs {
  sealed trait Fault
  case object RenameFalse extends Fault
  case object RenameThrows extends Fault
  @volatile var fault: Option[Fault] = None

  def during[T](f: Fault)(body: => T): T = {
    fault = Some(f)
    try body finally fault = None
  }
}

/** The index lifecycle under a filesystem that refuses a rename. Each
  * op meets the faults in turn on one index — rename returns false,
  * then rename throws, the second landing on the re-run that finds the
  * first attempt's ready marker — and must throw each time, retiring no
  * batch dir or tombstone; once the filesystem heals, a re-run must
  * serve exactly what a run that never failed serves. One target per
  * shape: a one-table publish (int8 promote), a three-table publish
  * (BM25 compact), the batch-range compaction (the near-dup lake) and
  * the slot commit (a tombstone batch).
  */
class IndexTableSpec extends SparkSuite {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.faulty.impl", classOf[FaultyFs].getName)

  /** Run `op` once under each fault: it must throw every time, and
    * `intact` (what no retry may lose) must hold after each attempt.
    */
  private def refused(op: => Unit)(intact: => Unit): Unit =
    Seq(FaultyFs.RenameFalse, FaultyFs.RenameThrows).foreach { f =>
      intercept[IOException](FaultyFs.during(f)(op))
      intact
    }

  /** A fresh dir on the faulty filesystem. */
  private def faultyDir(prefix: String): String =
    s"faulty://${tmpDir(prefix)}"

  private def local(dir: String): File =
    new File(dir.stripPrefix("faulty://"))

  private def assertNoStaging(dir: String): Unit =
    assert(!local(dir).list().exists(_.startsWith("__")),
      local(dir).list().mkString(", "))

  private val emb = {
    val rnd = new scala.util.Random(11)
    (0L until 24L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  private def int8Served(dir: String): Seq[String] =
    ScalarQuant.sqTopKFromIndex(spark, dir,
        emb.filter(col("vec_id") < 3), emb, k = 5, refine = 12)
      .collect().map(_.toString).sorted.toSeq

  /** int8 base over vec_id < 16, one append batch with the rest. */
  private def int8Grown(dir: String): Unit = {
    ScalarQuant.quantized(emb.filter(col("vec_id") < 16))
      .write.mode("overwrite").parquet(s"$dir/codes")
    ScalarQuant.sqAppendBatch(spark, dir, emb.filter(col("vec_id") >= 16),
      batchId = 1L)
  }

  test("one-table publish: a refused swap in int8 promote throws, " +
      "keeps the batch dir, and the re-run serves the unfailed answer") {
    val control = tmpDir("it_sq_ctl")
    int8Grown(control)
    ScalarQuant.promoteBatches(spark, control)
    val want = int8Served(control)
    assert(want.nonEmpty)
    val dir = faultyDir("it_sq")
    int8Grown(dir)
    refused(ScalarQuant.promoteBatches(spark, dir))(
      assert(local(s"$dir/codes_batches/batch=1").isDirectory))
    ScalarQuant.promoteBatches(spark, dir)
    assert(!local(s"$dir/codes_batches").exists())
    assertNoStaging(dir)
    assert(int8Served(dir) === want)
  }

  test("slot commit: a refused tombstone commit throws, keeps the " +
      "committed tombstones, and the retried delete serves the " +
      "unfailed answer") {
    def deleteFirst(dir: String): Unit = {
      int8Grown(dir)
      ScalarQuant.sqDeleteIds(spark, dir,
        emb.filter(col("vec_id") === 5L), batchId = 1L)
    }
    def deleteSecond(dir: String): Unit =
      ScalarQuant.sqDeleteIds(spark, dir,
        emb.filter(col("vec_id") === 17L), batchId = 2L)
    val control = tmpDir("it_tomb_ctl")
    deleteFirst(control)
    deleteSecond(control)
    val want = int8Served(control)
    val dir = faultyDir("it_tomb")
    deleteFirst(dir)
    refused(deleteSecond(dir)) {
      assert(local(s"$dir/tombstones/batch=1").isDirectory)
      assert(!local(s"$dir/tombstones/batch=2").exists())
    }
    deleteSecond(dir)
    assert(int8Served(dir) === want)
  }

  test("three-table publish: a refused swap in BM25 compact throws, " +
      "keeps batches and tombstones, and the re-run serves the " +
      "unfailed answer") {
    val d = tmpDir("it_docs")
    val words = Seq("hash", "join", "window", "agg", "stream", "dup")
    (0L until 18L).map { id =>
      val text = (0 until 6).map(i =>
        words(((id * 7 + i * 3) % words.size).toInt)).mkString(" ")
      (id, text, "en", "src0", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
    val docs = Tables.documents(spark, d)
    def grownWithDeletes(dir: String): Unit = {
      Search.buildIndex(spark, d, dir,
        docFilter = Some(col("doc_id") % 3 =!= 0))
      Search.appendBatch(spark, dir, docs.filter(col("doc_id") % 3 === 0),
        batchId = 1L)
      Search.deleteDocs(spark, dir, docs.filter(col("doc_id") % 4 === 1),
        batchId = 1L)
    }
    def served(dir: String): Seq[String] =
      (Search.bm25FromIndex(spark, dir).collect() ++
        spark.read.parquet(s"$dir/stats").collect())
        .map(_.toString).sorted.toSeq
    val control = tmpDir("it_bm25_ctl")
    grownWithDeletes(control)
    Search.compactDeletes(spark, control)
    val want = served(control)
    val dir = faultyDir("it_bm25")
    grownWithDeletes(dir)
    refused(Search.compactDeletes(spark, dir))(
      Seq("postings_batches", "termstats_batches", "stats_batches",
          "tombstones").foreach(t =>
        assert(local(s"$dir/$t/batch=1").isDirectory, t)))
    Search.compactDeletes(spark, dir)
    assert(!local(s"$dir/tombstones").exists())
    assertNoStaging(dir)
    assert(served(dir) === want)
  }

  test("batch-range compaction: a refused swap in compactIndex throws, " +
      "keeps the covered batch dirs, and the re-run leaves the " +
      "unfailed lake") {
    def lake(dir: String): Unit =
      Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 1L), (4L, "d", 2L))
        .toDF("doc_id", "text", "batch")
        .write.mode("overwrite").partitionBy("batch")
        .parquet(s"$dir/documents")
    def contents(dir: String): (Seq[String], Seq[String]) =
      (local(s"$dir/documents").list().filter(_.startsWith("batch="))
        .sorted.toSeq,
        spark.read.parquet(s"$dir/documents").collect()
          .map(_.toString).sorted.toSeq)
    val control = tmpDir("it_lake_ctl")
    lake(control)
    Streams.compactIndex(spark, control, upToBatch = 1L)
    val want = contents(control)
    assert(want._1 === Seq("batch=1", "batch=2"))
    val dir = faultyDir("it_lake")
    lake(dir)
    // batch=1 is the swap's own slot; the dir it absorbs must stay
    refused(Streams.compactIndex(spark, dir, 1L))(
      assert(local(s"$dir/documents/batch=0").isDirectory))
    Streams.compactIndex(spark, dir, 1L)
    assertNoStaging(dir)
    assert(contents(dir) === want)
  }

  test("the staged-publish protocol has one home: no rename in the " +
      "main sources outside IndexTable.scala") {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    val main = new File("src/main/scala")
    assert(main.isDirectory)
    val offenders = files(main)
      .filter(f => f.getName.endsWith(".scala") &&
        f.getName != "IndexTable.scala")
      .filter(f => java.nio.file.Files.readString(f.toPath)
        .contains(".rename("))
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
