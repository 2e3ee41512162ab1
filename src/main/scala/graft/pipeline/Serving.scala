package graft.pipeline

import graft.functions.Fns._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Serving tier: top-k reads, grand averages, JSON cache envelopes and
  * freshness (SURVEY.md §2.4 A5–A7, §2.6 T1/T2, §2.3 F4/F5/F13/F14,
  * §2.9 ST6 — redis_etl.py / dashboard.py behavior only).
  *
  * The Redis TTL cache becomes a written parquet "cache table" whose
  * rows carry `cache_timestamp`; freshness is a predicate against the
  * TTL, and the fallback ladder (cache → warehouse) mirrors the
  * dashboard's read path (SURVEY §3.2).
  */
object Serving {

  /** A6/T2 + F5: latest-N months, recomputed from raw observations
    * (NOT the stored monthly table — SURVEY §8.8), humidity capped at
    * read time only.
    */
  def monthlyAverages(obs: DataFrame, months: Int): DataFrame =
    latestMonths(Warehouse.monthlyAggregates(obs), months)

  /** T2 + F5 over already-computed monthly rows. */
  def latestMonths(monthly: DataFrame, months: Int): DataFrame =
    monthly
      .withColumn("avg_humidity_percent",
        capHumidity(col("avg_humidity_percent")))
      .orderBy(col("year").desc, col("month").desc)
      .limit(months)

  /** A5/T1 + F5: latest-N days recomputed from observations. */
  def dailyAverages(obs: DataFrame, days: Int): DataFrame =
    Warehouse.dailyAggregates(obs)
      .withColumn("avg_humidity_percent",
        capHumidity(col("avg_humidity_percent")))
      .orderBy(col("date").desc)
      .limit(days)

  /** A7 + P9: grand averages over monthly rows with the reference's
    * inconsistent-by-design filters — truthy (drops 0.0) for
    * temperature/rainfall, is-not-null for humidity (SURVEY §8.2).
    */
  def overallAverages(monthly: DataFrame): DataFrame =
    monthly.agg(
      r4(avg(when(truthy(col("avg_temperature_c")),
        col("avg_temperature_c")))).as("avg_temperature_c"),
      r4(sum(when(truthy(col("total_rainfall_mm")),
        col("total_rainfall_mm")))).as("total_rainfall_mm"),
      r4(avg(col("avg_humidity_percent"))).as("avg_humidity_percent"),
      count(lit(1)).as("period_months"))

  /** F13/F14/F10: the cache envelope — one JSON blob per refresh, with
    * version + timestamp, exactly the reference's Redis value shape.
    */
  def cacheEnvelope(monthly: DataFrame, overall: DataFrame): DataFrame = {
    val monthlyRows = monthly.agg(
      collect_list(struct(monthly.columns.toIndexedSeq.map(col): _*))
        .as("monthly_data"))
    monthlyRows.crossJoin(overall)
      .select(to_json(struct(
        date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("cache_timestamp"),
        concat(lit("v"), unix_timestamp(current_timestamp()))
          .as("data_version"),
        lit(1800).as("refresh_interval_sec"),
        lit("Stockton, CA").as("location"),
        struct(col("avg_temperature_c"), col("total_rainfall_mm"),
          col("avg_humidity_percent"), col("period_months"))
          .as("overall_averages"),
        col("monthly_data"))).as("payload"))
      .withColumn("cache_timestamp", current_timestamp())
  }

  /** ST6: write the cache table (TTL is metadata checked on read). */
  def writeCache(envelope: DataFrame, path: String): Unit =
    envelope.write.mode(SaveMode.Overwrite).parquet(path)

  /** ST6: freshness probe — Some(payload) if the cached envelope is
    * younger than ttlSeconds, else None (caller falls back to the
    * warehouse query, mirroring dashboard.py:1080-1141).
    */
  def readCacheIfFresh(spark: SparkSession, path: String,
      ttlSeconds: Int): Option[String] = {
    try {
      val fresh = spark.read.schema(WeatherSchemas.cacheEntry).parquet(path)
        .filter(col("cache_timestamp") >
          current_timestamp() - expr(s"INTERVAL $ttlSeconds SECONDS"))
        .select(col("payload"))
        .collect()
      fresh.headOption.map(_.getString(0))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }
  }
}
