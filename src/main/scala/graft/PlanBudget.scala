package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Shared plan-shape counters for the standing exchange-budget gate
  * (`EntrySpec`) and its regeneration main ([[PlanBudget]]).
  */
object PlanAudit {
  private val shufflePat = java.util.regex.Pattern.compile(
    "Exchange (hashpartitioning|rangepartitioning)")

  /** Number of per-key (hash/range-partitioned) shuffle exchanges in
    * the physical plan. STRICTER than SCALE.md's "shuffles" column:
    * gen_scale.py's formatted-mode pattern also catches one-row
    * `Exchange SinglePartition` collapses, which are excluded here —
    * they carry scalars, not data, so the gate pins only the class
    * that moves rows (the two artifacts can legitimately disagree on
    * aggregate-collapse-only queries like q_embedding_outliers: budget
    * 0, SCALE table 3). Counted on the pre-execution plan string, so
    * nothing runs.
    */
  def shuffleCount(df: DataFrame): Int =
    shuffleCountIn(df.queryExecution.executedPlan.toString)

  /** Same count over an already-rendered plan string — lets callers
    * that check several plan properties share one rendering pass. */
  def shuffleCountIn(plan: String): Int = {
    val m = shufflePat.matcher(plan)
    var n = 0
    while (m.find()) n += 1
    n
  }
}

/** Regenerates `tools/plan_budget.json` — the pinned per-query shuffle
  * exchange counts the EntrySpec budget gate enforces. Run after any
  * intentional plan change (and after a driver testdata regen, which
  * can flip the conditional parallelism-floor repartitions):
  * `sbt "runMain graft.PlanBudget"`. The counts are config-sensitive,
  * so the session has SparkSuite's fixed 4 cores.
  */
object PlanBudget {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("tools/plan_budget.json")
    val spark = Session.local(4)
    SparkEntry.prepare(spark, sfDir)
    val entries = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        s"""  "$name": ${PlanAudit.shuffleCount(fn(spark, sfDir))}"""
    }
    Files.writeString(Paths.get(out),
      entries.mkString("{\n", ",\n", "\n}\n"))
    println(s"[plan-budget] wrote ${entries.size} entries to $out")
    spark.stop()
  }
}
