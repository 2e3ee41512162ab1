package graft

import org.apache.spark.sql.SparkSession

/** The one local session the tool mains and the test suites start
  * (`graft.Bench` keeps its own builder: its session is part of the
  * bench contract). `getOrCreate` hands back a session that is already
  * running, so suites sharing a JVM share one session.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, 4 when unset — the width `graft.Verify` and
    * `graft.Bench` have always read. `PlanBudget`, `ExplainPlans` and
    * `GoldenDump` ignore it and run at `SparkSuite`'s fixed 4: the
    * pinned plan counts and the plan audit were made at that width. */
  def cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cores]` with as many shuffle partitions as cores, UTC
    * session time, no UI and WARN logging. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
