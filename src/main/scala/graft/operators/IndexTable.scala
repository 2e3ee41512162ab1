package graft.operators

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The lifecycle every persisted index family shares — build a base
  * `<dir>/<table>`, grow it with `<table>_batches/batch=<id>` dirs,
  * erase keys through [[Tombstones]], and fold the side dirs back at
  * admin cadence (promote, compact, refit). A family supplies only
  * what differs: its table names, its key and partition columns, and
  * the DataFrames its merge stages. This object owns the rest.
  *
  * Staged publish, the one protocol behind [[promote]], [[compact]],
  * [[refit]] and [[compactRange]]:
  *  1. skip when nothing is pending and no ready marker exists;
  *  2. stage each table under `<dir>/__<op>_<table>_tmp/`;
  *  3. write the ready marker `<dir>/__<op>_<table>_ready`;
  *  4. swap each staged table into place;
  *  5. retire the batch dirs, plus the tombstones for a compact;
  *  6. remove the staging dir and the marker.
  * Staging and marker names are keyed by the op and the family's
  * primary (first) table, so families sharing an index dir never
  * collide. The stage always reads the UNSWAPPED base (swaps begin
  * only once the marker exists), and a re-run that finds the marker
  * skips straight to the swap — so a crash anywhere re-runs to
  * completion without double-counting, and a completed op re-runs as
  * a no-op. A filesystem that REFUSES an operation takes the same
  * path: a rename that returns false, or a delete that returns false
  * while its path still exists, throws an IOException naming the op,
  * table and path before any retire step, leaving the marker, the
  * staged tables and the batch dirs for the re-run to complete.
  */
object IndexTable {

  /** Where a stage writes: table name → its staged path. */
  type Stage = (String => String) => Unit

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(s, p).exists(p)
  }

  /** Base ∪ committed batches. Absent side dirs → the base alone, the
    * minimal one-scan plan. The base must exist: a missing one (a swap
    * still waiting for its re-run) fails the read rather than serving
    * the batches alone.
    */
  def union(s: SparkSession, dir: String, table: String): DataFrame = {
    val base = s.read.parquet(s"$dir/$table")
    if (!exists(s, s"$dir/${table}_batches")) base
    else base.unionByName(batches(s, dir, table))
  }

  /** The committed `<table>_batches/batch=*` rows, `batch` dropped. */
  def batches(s: SparkSession, dir: String, table: String): DataFrame = {
    val root = s"$dir/${table}_batches"
    s.read.option("basePath", root).parquet(root).drop("batch")
  }

  /** The LIVE row set: [[union]] minus the tombstoned `key`s. The
    * tombstones are erasure-request-sized, so the anti-join
    * broadcasts; with none pending the plan has no anti-join at all.
    */
  def live(s: SparkSession, dir: String, table: String,
      key: String): DataFrame = {
    val all = union(s, dir, table)
    Tombstones.read(s, dir).fold(all)(t =>
      all.join(broadcast(t.select(col(key))), Seq(key), "left_anti"))
  }

  /** Fold committed append batches into the base `tables`, retiring
    * `batches` (default: `<table>_batches` for each table). Pending
    * while the first batch dir exists.
    */
  def promote(s: SparkSession, dir: String, tables: Seq[String],
      batches: Seq[String] = Nil)(stage: Stage): Unit = {
    val retire = paths(dir,
      if (batches.nonEmpty) batches else tables.map(t => s"${t}_batches"))
    publish(s, dir, "promote", tables, exists(s, retire.head.toString),
      retire)(stage)
  }

  /** Fold pending deletions (and any append batches) into fresh base
    * `tables`, retiring the batch dirs and the tombstones. Pending
    * while a committed tombstone batch exists.
    */
  def compact(s: SparkSession, dir: String, tables: Seq[String])(
      stage: Stage): Unit =
    publish(s, dir, "compact", tables, Tombstones.pending(s, dir),
      paths(dir, tables.map(t => s"${t}_batches")) :+
        new Path(Tombstones.root(dir)))(stage)

  /** Rewrite `tables` from scratch; the batch dirs retire with the
    * swap (a refit subsumes promotion). Always pending.
    */
  def refit(s: SparkSession, dir: String, tables: Seq[String])(
      stage: Stage): Unit =
    publish(s, dir, "refit", tables, pending = true,
      paths(dir, tables.map(t => s"${t}_batches")))(stage)

  /** Fold every `<dir>/<table>/batch=<id>` with id ≤ `upTo` into ONE
    * `batch=<upTo>` dir (partitioned by `partitionCol` when given) —
    * the small-files pass for daily append cadence, the base table
    * untouched. The merged dir swaps into the `batch=<upTo>` slot,
    * then the other covered dirs retire. Pending while two or more
    * covered dirs exist. Run with appends quiesced and `upTo` at or
    * below the last committed batch.
    */
  def compactRange(s: SparkSession, dir: String, table: String,
      upTo: Long, partitionCol: Option[String] = None): Unit = {
    val root = new Path(s"$dir/$table")
    val fs = fsOf(s, root)
    if (!fs.exists(root)) return
    val slot = s"batch=$upTo"
    def covered: Seq[Path] = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch="))
      .map(_.getPath)
      .filter(_.getName.stripPrefix("batch=").toLong <= upTo)
    publish(s, dir, "compactRange", Seq(table), covered.size > 1,
      covered.filter(_.getName != slot), Some(new Path(root, slot))) { at =>
      val merged = s.read.option("basePath", root.toString)
        .parquet(covered.map(_.toString): _*)
        .drop("batch")
      partitionCol.fold(merged.write)(c =>
        merged.repartition(col(c)).write.partitionBy(c))
        .mode("overwrite").parquet(at(table))
    }
  }

  /** Move a fully written `staged` dir into its `slot` — the commit of
    * an append or tombstone batch whose staging dir is invisible to
    * partition discovery. Any previous content of the slot (a retried
    * batch id) is replaced whole.
    */
  def commit(s: SparkSession, staged: String, slot: String): Unit = {
    val dst = new Path(slot)
    val fs = fsOf(s, dst)
    val what = s"commit(${dst.getParent.getName})"
    fs.mkdirs(dst.getParent)
    remove(fs, what, dst)
    rename(fs, what, new Path(staged), dst)
  }

  private def paths(dir: String, names: Seq[String]): Seq[Path] =
    names.map(n => new Path(s"$dir/$n"))

  /** The staged publish (steps 1–6 of the protocol above). Each staged
    * table swaps into `<dir>/<table>`, or into `slot` when given (the
    * range compaction's one table); `retire` is evaluated after the
    * swap, so a re-run recomputes it.
    */
  private def publish(s: SparkSession, dir: String, op: String,
      tables: Seq[String], pending: Boolean, retire: => Seq[Path],
      slot: Option[Path] = None)(stage: Stage): Unit = {
    val fs = fsOf(s, new Path(dir))
    val primary = tables.head
    val what = s"$op($primary)"
    val ready = new Path(s"$dir/__${op}_${primary}_ready")
    val tmp = new Path(s"$dir/__${op}_${primary}_tmp")
    if (!pending && !fs.exists(ready)) return
    if (!fs.exists(ready)) {
      stage(t => s"$tmp/$t")
      fs.create(ready, true).close()
    }
    tables.foreach { t =>
      val staged = new Path(tmp, t)
      val dst = slot.getOrElse(new Path(s"$dir/$t"))
      if (fs.exists(staged)) {
        remove(fs, what, dst)
        rename(fs, what, staged, dst)
      }
    }
    retire.foreach(remove(fs, what, _))
    remove(fs, what, tmp)
    remove(fs, what, ready)
  }

  private def rename(fs: FileSystem, what: String, src: Path,
      dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"$what: rename $src -> $dst returned false")

  private def remove(fs: FileSystem, what: String, p: Path): Unit =
    if (!fs.delete(p, true) && fs.exists(p))
      throw new IOException(s"$what: delete $p returned false")
}
