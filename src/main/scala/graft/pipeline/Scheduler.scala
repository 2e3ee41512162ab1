package graft.pipeline

import graft.functions.Fns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Serving read path + scheduled orchestration (SURVEY.md §3.2/§3.3 —
  * dashboard.py:1080-1159 and scheduler.py behavior only).
  */
object Scheduler {

  /** The dashboard's data response shape: where each series came from
    * and the reference's sync-status ladder.
    */
  final case class ServingResult(
    monthlyJson: Option[String],
    daily: DataFrame,
    syncStatus: String, // "full" | "partial" | "out-of-sync"
    fromCache: Boolean)

  /** §3.2 fallback ladder: fresh cache → cached monthly JSON (but daily
    * ALWAYS re-queried live — the reference never reads its daily cache,
    * SURVEY §8.6); stale/missing cache → both live, status "partial";
    * no warehouse data at all → "out-of-sync".
    */
  def servingData(spark: SparkSession, paths: Pipeline.Paths,
      ttlSeconds: Int = 3600): ServingResult = {
    val obs =
      try Some(Warehouse.readObservations(spark, paths.observations))
      catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    obs match {
      case None =>
        ServingResult(None, spark.emptyDataFrame, "out-of-sync",
          fromCache = false)
      case Some(o) =>
        val daily = Serving.dailyAverages(o, 400)
          .withColumn("avg_temperature_f", cToF(col("avg_temperature_c")))
        Serving.readCacheIfFresh(spark, paths.cache, ttlSeconds) match {
          case Some(json) =>
            ServingResult(Some(json), daily, "full", fromCache = true)
          case None =>
            val monthly = Serving.monthlyAverages(o, 13)
            val overall = Serving.overallAverages(monthly)
            val json = Serving.cacheEnvelope(monthly, overall)
              .select(col("payload")).collect().headOption.map(_.getString(0))
            ServingResult(json, daily, "partial", fromCache = false)
        }
    }
  }

  /** §3.3: the three sync stages at their cadences, collapsed to a
    * deterministic batch loop (the streaming tier owns true continuous
    * execution; this is the scheduler-parity path, including the eager
    * first run of every stage and catch-log-continue error handling:
    * a failed stage is logged at WARN with its cause and counted, and
    * the loop goes on). `ticks` bounds the loop for tests; each tick
    * represents the scheduler's poll granularity. The `warehouse`
    * stage refreshes the daily and monthly tables and the `cache`
    * stage publishes the envelope, each from the warehouse's
    * observations; a tick whose `api` stage completed skips both, since
    * its full pass has just published all three from the same rows.
    * Returns the number of failed stage runs.
    */
  def runScheduled(spark: SparkSession, rawJsonPath: String,
      paths: Pipeline.Paths, ticks: Int,
      apiEveryTicks: Int = 1, warehouseEveryTicks: Int = 2,
      cacheEveryTicks: Int = 1): Int = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    var errors = 0
    (0 until ticks).foreach { t =>
      def guarded(stage: String)(body: => Unit): Boolean =
        try { body; true } catch {
          case NonFatal(e) =>
            errors += 1
            log.warn(s"runScheduled: $stage stage failed at tick $t; " +
              "continuing", e)
            false
        }
      def fromWarehouse(tables: Option[(String, String)],
          cache: Option[String]): Unit =
        Pipeline.publishRollup(
          Warehouse.readObservations(spark, paths.observations),
          tables, cache)
      // eager first run (t == 0) mirrors scheduler.py's startup pass
      val synced = t % apiEveryTicks == 0 &&
        guarded("api")(Pipeline.run(spark, rawJsonPath, paths))
      if (!synced && t % warehouseEveryTicks == 0)
        guarded("warehouse")(
          fromWarehouse(Some((paths.dailyAgg, paths.monthlyAgg)), None))
      if (!synced && t % cacheEveryTicks == 0)
        guarded("cache")(fromWarehouse(None, Some(paths.cache)))
    }
    errors
  }
}
