package graft

/** Plan inspector: prints the formatted physical plan of the named
  * queries (tools-only; not part of the driver contract).
  * Usage: runMain graft.ExplainPlans q1_pricing q3_shipping
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    // audit transparency: print the full candidate subtrees instead of
    // the opaque ExistingRDD scans the lazy lineage cuts leave behind.
    // GRAFT_EXPLAIN_KEEP_CHECKPOINTS=1 flips to the RUNTIME plan shape
    // (checkpoints materialized as ExistingRDD) — the view that shows
    // whether a checkpoint-preserved partitioning is actually reused
    // downstream (r17 substring layout work)
    if (!sys.env.contains("GRAFT_EXPLAIN_KEEP_CHECKPOINTS"))
      sys.props("graft.audit.noCheckpoint") = "true"
    val spark = Session.local(4)
    val names = if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // *_served queries read persisted index paths even at plan time —
    // prepare them (a job, but the audit prints the SERVE plan)
    if (names.exists(_.endsWith("_served")))
      SparkEntry.prepare(spark, "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .explain("formatted")
    }
    spark.stop()
  }
}
