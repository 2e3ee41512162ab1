package graft.operators

import graft.Tables
import graft.functions.Fns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** CDC apply — merge a changelog into a dimension snapshot. The
  * reference's aggregate upsert (S13, `clickhouse_etl.py:339-346`)
  * is delete-then-insert over recomputed aggregates; this is the
  * general form a warehouse needs: compact the changelog to one
  * last-writer-wins row per key, then a single keyed full-outer merge
  * against the base. Matched keys take the change's value, unmatched
  * base rows pass through, unmatched changes insert.
  *
  * Scale shape: the compaction is one entity-keyed window (the same
  * shuffle the merge needs, so at 100 TB the co-partitioning is
  * reused), the merge one key-equality full-outer join — both linear,
  * nothing broadcast-dependent. In a transactional lake format the
  * merge output is the MERGE INTO write; here it is emitted as the
  * resulting snapshot with each row's disposition.
  */
object Cdc {

  /** Generic last-writer-wins upsert: `changes` rows win over `base`
    * rows on `key`; `ordCols` define the writer order within a key.
    * Presence is tracked by explicit markers (`in_base`/`in_change`),
    * never by value-null checks — a change legitimately carrying NULL
    * must still win the merge.
    */
  def upsert(base: DataFrame, changes: DataFrame, key: String,
      valueCol: String, ordCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(ordCols.map(c => col(c).desc): _*)
    val latest = changes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .withColumnRenamed(valueCol, "new_value")
      .withColumn("in_change", lit(true))
    base.withColumn("in_base", lit(true))
      .join(latest, Seq(key), "full_outer")
  }

  // ------------------------------------------------------------------
  // Persisted CDC lake: the same merge as a grow-in-place lifecycle.
  // Layout mirrors the index lakes:
  //   lakeDir/base                      — dimension snapshot rows
  //   lakeDir/changes_batches/batch=<id> — per-batch LWW-compacted rows
  // Cross-batch precedence is the batch id (arrival order), within a
  // batch the (ts, event_id) writer order — so when batches respect
  // time order (a CDC stream does), the grown snapshot equals the
  // one-shot merge exactly. Every write is keyed by its batch id and
  // overwrites its own dir: checkpoint replay is exactly-once, the
  // contract every maintainer here shares.
  // ------------------------------------------------------------------

  /** Seed the lake's base snapshot: (key, value) rows, disposition
    * 'kept' until a change touches them.
    */
  def writeBase(s: SparkSession, lakeDir: String, base: DataFrame): Unit =
    base.select(col("key"), col("value"), lit("kept").as("disposition"))
      .write.mode("overwrite").parquet(s"$lakeDir/base")

  /** Land one changelog micro-batch of (key, value, ts, event_id)
    * rows: compact it last-writer-wins and overwrite this batch id's
    * own dir.
    */
  def appendBatch(s: SparkSession, lakeDir: String, changes: DataFrame,
      batchId: Long): Unit = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts").desc, col("event_id").desc)
    changes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("key"), col("value"))
      .write.mode("overwrite")
      .parquet(s"$lakeDir/changes_batches/batch=$batchId")
  }

  /** Current snapshot: base ∪ batch dirs, highest batch id wins per
    * key (base is batch −1); one key-partitioned window computes the
    * winner and both presence flags in a single shuffle. A key's
    * disposition reflects its full history — base dispositions
    * survive promotion, later changes upgrade them.
    */
  def snapshot(s: SparkSession, lakeDir: String): DataFrame =
    snapshotAt(s, lakeDir, Long.MaxValue)

  /** Time-travel read: the snapshot as of batch `asOfBatch` — batches
    * with a higher id are invisible, exactly the Delta/Iceberg
    * version-read semantics over this lake's batch log. `batch` is
    * the partition column of the changes dir, so the as-of filter is
    * STATIC partition pruning: a travel read scans only the batch
    * dirs it can see, never the full log. Valid over the un-promoted
    * window ([[promoteBatches]] folds history into base — after a
    * promote, earlier versions are gone, the usual lakehouse
    * vacuum/retention tradeoff).
    */
  def snapshotAt(s: SparkSession, lakeDir: String,
      asOfBatch: Long): DataFrame = {
    val base = s.read.parquet(s"$lakeDir/base")
      .select(col("key"), col("value"), col("disposition"),
        lit(-1L).as("batch"))
    val changes = s"$lakeDir/changes_batches"
    val all =
      if (IndexTable.exists(s, changes))
        base.unionByName(s.read.parquet(changes)
          .filter(col("batch").cast("long") <= asOfBatch)
          .select(col("key"), col("value"),
            lit(null).cast("string").as("disposition"),
            col("batch").cast("long").as("batch")))
      else base
    val byKey = Window.partitionBy(col("key"))
    val w = byKey.orderBy(col("batch").desc)
    all
      .withColumn("rn", row_number().over(w))
      .withColumn("in_base", max(when(col("batch") === -1L, 1)).over(byKey))
      .withColumn("in_change", max(when(col("batch") >= 0L, 1)).over(byKey))
      .withColumn("base_disp",
        max(when(col("batch") === -1L, col("disposition"))).over(byKey))
      .filter(col("rn") === 1)
      .select(col("key"), r4(col("value")).as("acctbal"),
        when(col("in_change").isNull, col("base_disp"))
          .when(col("in_base").isNull ||
            col("base_disp") === "inserted", "inserted")
          .otherwise("updated").as("disposition"))
  }

  /** Fold committed batches into base at admin cadence
    * ([[IndexTable.promote]]; batch dirs retire only after the swap).
    * The folded base keeps each key's disposition, so the promoted
    * snapshot answers exactly what the pre-promotion snapshot did.
    */
  def promoteBatches(s: SparkSession, lakeDir: String): Unit =
    IndexTable.promote(s, lakeDir, Seq("base"),
        batches = Seq("changes_batches"))(at =>
      snapshot(s, lakeDir)
        .select(col("key"), col("acctbal").as("value"),
          col("disposition"))
        .write.mode("overwrite").parquet(at("base")))

  /** Build the driver lake: customer base + the purchase changelog
    * landed as two time-ordered batches split at the timestamp
    * midpoint. Because batch order respects time order, the grown
    * snapshot must equal the one-shot [[applyPurchases]] merge — the
    * property `q_cdc_apply_served` pins against the SAME oracle.
    * Always rebuilt by the prepare hook (a fresh build can never
    * serve a stale format).
    */
  def prepareLake(s: SparkSession, d: String, lakeDir: String): Unit = {
    writeBase(s, lakeDir, Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("value")))
    val ch = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("value"),
        col("ts"), col("event_id"))
    val mm = ch.agg(min(col("ts")), max(col("ts"))).head()
    val mid = mm.getLong(0) / 2 + mm.getLong(1) / 2
    appendBatch(s, lakeDir, ch.filter(col("ts") <= mid), 0L)
    appendBatch(s, lakeDir, ch.filter(col("ts") > mid), 1L)
  }

  /** The driver-visible instance: customer account balances merged
    * with each customer's latest purchase value (user_id ≡ c_custkey),
    * emitting the post-merge snapshot with per-row disposition.
    */
  def applyPurchases(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("key"), col("c_acctbal"))
    val changes = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("value"),
        col("ts"), col("event_id"))
    upsert(base, changes, "key", "value", Seq("ts", "event_id"))
      .select(col("key"),
        r4(when(col("in_change"), col("new_value"))
          .otherwise(col("c_acctbal"))).as("acctbal"),
        when(col("in_base").isNull, "inserted")
          .when(col("in_change").isNull, "kept")
          .otherwise("updated").as("disposition"))
  }
}
