package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared machinery for ITERATIVE driver loops (BPE trainer rounds,
  * PageRank/components fixpoints, k-means fits): many small sequential
  * jobs whose per-round cost is driver overhead, not data.
  */
object Iterate {

  /** Run `body` with adaptive query execution disabled, restoring the
    * caller's setting afterwards (r17, guide §1.2 step 3 applied to a
    * measured loop cost).
    *
    * Why: an iterative operator submits one vocabulary/rank-table-sized
    * query per round, tens of rounds per call. Each round's physical
    * layout is chosen EXPLICITLY by the operator (size-adaptive
    * coalesce before the loop — the partitioning AQE would otherwise
    * discover at runtime), so AQE has nothing left to adapt: its
    * per-query cost is pure driver-side re-planning. Measured on the
    * BPE trainer (16 argmax rounds over the checkpointed word table,
    * interleaved A/B in one JVM, r17 — OPTIMIZATION_r17.md): min
    * 2.36 s scoped-off vs 2.50 s kept — a small, consistent win once
    * the size-adaptive coalesce has already removed the rounds'
    * exchanges. The scope is NOT applied to loops whose rounds carry
    * real data exchanges: the same A/B on the graph fixpoints
    * (OPTIMIZATION_r17.md) measured AQE *helping* 1.2–2.0×
    * (q_components 2.05 s on vs 4.10 s off — runtime coalescing of the
    * per-round join shuffles is load-bearing there). Corpus-sized work
    * NEVER runs under this scope — callers flip it on around the
    * round loop only, after the corpus pass has materialized its
    * checkpoint.
    */
  def withoutAqe[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key, "true")
    s.conf.set(key, "false")
    try body finally s.conf.set(key, prev)
  }
}
