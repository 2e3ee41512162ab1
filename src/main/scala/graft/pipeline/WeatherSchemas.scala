package graft.pipeline

import org.apache.spark.sql.types.{DataType, StructType}

/** Schemas for the reference's document data model (SURVEY.md §1.1 —
  * raw/enriched observation documents, nws_api_fetcher_v2.py:171-193 and
  * mongodb_etl.py:22-113; structure only, no code derived).
  *
  * The document tier is schema-on-read JSON; this explicit StructType is
  * what `spark.read.schema(...).json` needs to skip inference (a full
  * extra pass over the data at 100 TB) and to keep column pruning
  * effective — Spark only materializes the struct fields a query touches.
  * The warehouse and cache schemas do the same for the parquet tiers: a
  * read that passes them runs no footer-inference job.
  */
object WeatherSchemas {

  /** One GeoJSON observation feature, reduced to the fields the
    * pipeline consumes (clickhouse_etl.py:210-238 behavior).
    */
  val featureDdl: String =
    """STRUCT<
      |  properties: STRUCT<
      |    timestamp: STRING,
      |    station: STRING,
      |    temperature: STRUCT<value: DOUBLE>,
      |    precipitationLastHour: STRUCT<value: DOUBLE>,
      |    relativeHumidity: STRUCT<value: DOUBLE>,
      |    windSpeed: STRUCT<value: DOUBLE>,
      |    seaLevelPressure: STRUCT<value: DOUBLE>
      |  >
      |>""".stripMargin

  /** Raw weather document (lake tier). */
  val rawDocument: StructType = DataType.fromDDL(
    s"""
       |source_timestamp STRING,
       |source_database STRING,
       |data_quality STRING,
       |api_request_id STRING,
       |etl_batch_id STRING,
       |location STRUCT<
       |  city: STRING, state: STRING,
       |  latitude: DOUBLE, longitude: DOUBLE,
       |  grid_point: STRUCT<office: STRING, grid_x: INT, grid_y: INT>
       |>,
       |forecast STRUCT<properties: STRUCT<periods: ARRAY<STRUCT<
       |  name: STRING, temperature: DOUBLE>>>>,
       |observations ARRAY<$featureDdl>,
       |historical_observations ARRAY<$featureDdl>,
       |stations ARRAY<STRING>,
       |sync_type STRING,
       |metadata MAP<STRING, STRING>
       |""".stripMargin).asInstanceOf[StructType]

  /** Legacy daily-aggregate document (SURVEY §1.1; accepted on
    * extraction at clickhouse_etl.py:119-122).
    */
  val legacyDailyDocument: StructType = DataType.fromDDL(
    """date STRING, max_temp_c DOUBLE, min_temp_c DOUBLE, precip_mm DOUBLE
      |""".stripMargin).asInstanceOf[StructType]

  /** Warehouse observation row (SURVEY §1.2 weather_observations), in
    * the order `Warehouse.parseObservations` writes it, then the
    * `obs_date` partition column.
    */
  val observation: StructType = DataType.fromDDL(
    """timestamp TIMESTAMP, station_id STRING,
      |temperature_c DOUBLE, rainfall_mm DOUBLE, humidity_percent DOUBLE,
      |wind_speed_ms DOUBLE, pressure_pa DOUBLE,
      |source_timestamp TIMESTAMP, ingest_time_utc TIMESTAMP,
      |api_request_id STRING, etl_batch_id STRING, observation_id STRING,
      |obs_date DATE
      |""".stripMargin).asInstanceOf[StructType]

  /** Serving cache row (`Serving.cacheEnvelope`). */
  val cacheEntry: StructType = DataType.fromDDL(
    "payload STRING, cache_timestamp TIMESTAMP").asInstanceOf[StructType]
}
