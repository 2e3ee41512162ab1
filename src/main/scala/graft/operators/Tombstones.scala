package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Logical deletes for the persisted lake indexes — the GDPR-erasure
  * leg of the index lifecycle (build → append → promote/refit →
  * DELETE → compact). An erasure request must take effect without
  * rewriting a 100 TB index: the deleted keys land in a tiny
  * `tombstones/batch=<id>` side table, every serve path anti-joins it
  * (tombstones are erasure-request-sized, so the anti-join broadcasts),
  * and the admin-cadence compaction folds the deletions into a fresh
  * base and retires the tombstones — returning the serve to its
  * minimal no-anti-join plan.
  *
  * Shared by the index families that own a per-row key table:
  * [[ScalarQuant]] / [[BinaryQuant]] (vec_id-keyed codes/bits) and
  * [[Search]] (doc_id-keyed postings; its tombstones also carry the
  * deleted doc's length so the corpus scalars N / Σdl adjust by exact
  * subtraction at serve time). Batch dirs are overwritten whole and
  * keyed by `batchId`, so retries are exactly-once — the
  * [[ScalarQuant.sqAppendBatch]] convention.
  */
object Tombstones {

  private[operators] def root(indexDir: String) = s"$indexDir/tombstones"

  /** Record a delete batch: `rows` carries the keys to erase (plus any
    * per-key adjustment columns the family needs). The batch lands
    * whole under a dot-prefixed tmp dir — invisible to [[read]]'s
    * partition discovery — then [[IndexTable.commit]] moves it into its
    * `batch=<id>` slot, so a crash mid-write can never leave a torn
    * batch visible to a serve. Re-running the same batchId replaces
    * the slot whole — retries are exactly-once.
    */
  def append(s: SparkSession, indexDir: String, rows: DataFrame,
      batchId: Long): Unit = {
    val tmp = s"${root(indexDir)}/.batch_tmp_$batchId"
    rows.write.mode("overwrite").parquet(tmp)
    IndexTable.commit(s, tmp, s"${root(indexDir)}/batch=$batchId")
  }

  /** True when a committed delete batch exists. A dir holding only a
    * crashed append's dot-tmp has no COMMITTED batch — the serve must
    * treat it as no pending deletions.
    */
  def pending(s: SparkSession, indexDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root(indexDir))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) &&
      fs.listStatus(p).exists(_.getPath.getName.startsWith("batch="))
  }

  /** All committed delete batches, or None when the index has no
    * pending deletions — the serve paths skip the anti-join entirely
    * then, keeping the undeleted plan minimal.
    */
  def read(s: SparkSession, indexDir: String): Option[DataFrame] =
    readRaw(s, indexDir).map(_.drop("batch"))

  /** [[read]] keeping the `batch` partition column — for the families
    * whose serve-time adjustment is AGGREGATE-based (BM25's N/Σdl, the
    * LM's bigram counts) and therefore needs the fold watermark: only
    * batches NEWER than the stats table's recorded watermark subtract,
    * so a serve landing between a compaction's table swap and the
    * tombstone retire (or after a crash there) never double-subtracts.
    *
    * That window is why: [[IndexTable.compact]] retires the tombstones
    * AFTER the rewritten base is swapped in. For the anti-join-only
    * families (int8/bq/IVF/LSH/minhash/substring positions) it is safe
    * by construction — the leftover tombstones' keys are already
    * absent, and anti-joining an absent key is a no-op. An
    * aggregate-based adjustment (BM25 corpus scalars, LM counts) is
    * NOT covered by that argument, hence the watermark its compaction
    * writes into the stats table: folded batches stop subtracting the
    * instant the swapped table lands, tombstoned or not.
    */
  def readRaw(s: SparkSession, indexDir: String): Option[DataFrame] =
    if (pending(s, indexDir)) Some(s.read.parquet(root(indexDir)))
    else None
}
