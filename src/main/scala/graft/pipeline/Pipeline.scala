package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-shot batch pipeline (SURVEY.md §3.1 run_pipeline.py behavior):
  * raw docs → lake(enrich) → warehouse(observations) → aggregates →
  * serving cache. Each stage is a pure DataFrame function; tier
  * boundaries are parquet dirs instead of external systems, so the only
  * physical boundaries are shuffle exchanges.
  */
object Pipeline {

  final case class Paths(root: String) {
    val rawLake     = s"$root/lake/raw"
    val enriched    = s"$root/lake/enriched"
    val observations = s"$root/warehouse/observations"
    val dailyAgg    = s"$root/warehouse/daily_aggregates"
    val monthlyAgg  = s"$root/warehouse/monthly_aggregates"
    val cache       = s"$root/serving/cache"
  }

  /** Full pipeline pass. Returns the serving monthly result for
    * inspection. `loadMode` mirrors the reference's incremental (append,
    * duplicate-tolerant — SURVEY §8.5) vs overwrite semantics.
    */
  def run(spark: SparkSession, rawJsonPath: String, paths: Paths,
      loadMode: String = "incremental"): DataFrame = {
    // Stage 1: API→lake (the fetch boundary is file-based here)
    val raw = Lake.readRaw(spark, rawJsonPath)
    Lake.append(raw, paths.rawLake)
    val enriched = Lake.enrich(raw)
    Lake.append(enriched, paths.enriched)

    // Stage 2: lake→warehouse (parity mode re-extracts everything, like
    // the reference; checkpointed incremental reads live in the
    // streaming tier)
    val docs = spark.read.schema(enriched.schema).parquet(paths.enriched)
    val obs = Warehouse.parseObservations(docs)
    Warehouse.writeObservations(obs, paths.observations, loadMode)

    // Stage 2 aggregates + stage 3 warehouse→serving cache, from one
    // rollup
    val allObs = Warehouse.readObservations(spark, paths.observations)
    publishRollup(allObs, Some((paths.dailyAgg, paths.monthlyAgg)),
      Some(paths.cache), loadMode)
    Serving.monthlyAverages(allObs, 12)
  }

  /** Compute the hourly→daily→monthly rollup (SURVEY A2→A4) of `obs`
    * once and publish from it: the daily and monthly aggregate tables
    * (A8/A9) when `tables` names their paths, and the serving envelope
    * of the latest 12 months (ST6) when `cache` names its path. Both
    * rollups stay persisted for the call, so `refreshAggregate`'s
    * `rows_loaded` count, the table writes and the envelope's two scans
    * of the months all read the cached rows instead of aggregating the
    * observations again.
    */
  def publishRollup(obs: DataFrame, tables: Option[(String, String)],
      cache: Option[String], loadMode: String = "incremental"): Unit = {
    val daily = Warehouse.dailyAggregates(obs).persist()
    val monthly = Warehouse.monthlyRollup(daily).persist()
    try {
      tables.foreach { case (dailyPath, monthlyPath) =>
        Warehouse.refreshAggregate(daily, dailyPath, 60, loadMode)
        Warehouse.refreshAggregate(monthly, monthlyPath, 60, loadMode)
      }
      cache.foreach { path =>
        val latest = Serving.latestMonths(monthly, 12)
        Serving.writeCache(
          Serving.cacheEnvelope(latest, Serving.overallAverages(latest)), path)
      }
    } finally {
      monthly.unpersist()
      daily.unpersist()
    }
  }
}
