package graft.pipeline

import graft.functions.Fns._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse tier: explode + parse documents into observation rows and
  * maintain the daily/monthly aggregate tables (SURVEY.md §2.1 S11–S13,
  * §2.2 P1/P3/P6/P10, §2.3 F6–F9/F12, §2.4 A2–A4/A8/A9 —
  * clickhouse_etl.py:98-456 behavior only).
  *
  * Scale notes: the parse is one generator (explode) + narrow
  * projections — pushdown prunes the document scan to just the two
  * observation arrays. Observation storage is partitioned by obs_date,
  * so the hierarchical aggregates and any date-ranged read prune
  * partitions; the delete+insert upsert of the reference becomes an
  * idempotent overwrite of the recomputed aggregate (no SummingMergeTree
  * double-counting trap, README.md:251-254).
  */
object Warehouse {

  /** S16: idempotent DDL bootstrap — external tables over the parquet
    * tier locations so the whole warehouse is SQL-addressable
    * (`spark.sql("SELECT ... FROM weather_observations")`), mirroring
    * the reference's CREATE-IF-NOT-EXISTS startup.
    */
  def bootstrapTables(spark: SparkSession, obsPath: String,
      dailyPath: String, monthlyPath: String): Unit = {
    Seq(
      "weather_observations" -> obsPath,
      "daily_weather_aggregates" -> dailyPath,
      "monthly_weather_aggregates" -> monthlyPath
    ).foreach { case (name, path) =>
      // a view (not an external table) so the partitioned observation
      // dirs get partition discovery on every read, and re-bootstrap
      // after a schema-evolving rewrite stays idempotent
      spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW $name
                   |AS SELECT * FROM parquet.`$path`""".stripMargin)
    }
  }

  /** P1+P3+P6+F1/F2/F6/F8/F9: one observation row per array element.
    * Null/unparseable timestamps are dropped (to_timestamp yields null);
    * unit conversions match the reference parser exactly.
    */
  def parseObservations(docs: DataFrame): DataFrame = {
    // raw docs (pre-enrichment) carry no ingest_time_utc yet — the
    // reference stamps it at load time in that case
    val ingest =
      if (docs.columns.contains("ingest_time_utc")) col("ingest_time_utc")
      else date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val exploded = docs.select(
      col("api_request_id"), col("etl_batch_id"),
      col("source_timestamp"), ingest.as("ingest_time_utc"),
      explode(concat(
        coalesce(col("observations"), array()),
        coalesce(col("historical_observations"), array()))).as("f"))
    val p = col("f.properties")
    exploded.select(
      to_timestamp(p.getField("timestamp")).as("timestamp"),
      urlTail(p.getField("station")).as("station_id"),
      kelvinToC(p.getField("temperature").getField("value"))
        .as("temperature_c"),
      metersToMm(p.getField("precipitationLastHour").getField("value"))
        .as("rainfall_mm"),
      p.getField("relativeHumidity").getField("value")
        .as("humidity_percent"),
      p.getField("windSpeed").getField("value").as("wind_speed_ms"),
      p.getField("seaLevelPressure").getField("value").as("pressure_pa"),
      to_timestamp(col("source_timestamp")).as("source_timestamp"),
      to_timestamp(col("ingest_time_utc")).as("ingest_time_utc"),
      col("api_request_id"), col("etl_batch_id"))
      .filter(col("timestamp").isNotNull)
      .withColumn("observation_id",
        synthKey(col("station_id"), col("timestamp")))
  }

  /** P10+F7+F12: legacy daily-aggregate documents → observation rows
    * (midpoint temperature estimate, clickhouse_etl.py:126-170).
    */
  def parseLegacyDaily(docs: DataFrame): DataFrame =
    docs.select(
      to_timestamp(to_date(col("date"), "yyyy-MM-dd")).as("timestamp"),
      lit("legacy").as("station_id"),
      midpoint(col("max_temp_c"), col("min_temp_c")).as("temperature_c"),
      col("precip_mm").as("rainfall_mm"),
      lit(null).cast("double").as("humidity_percent"),
      lit(null).cast("double").as("wind_speed_ms"),
      lit(null).cast("double").as("pressure_pa"),
      lit(null).cast("timestamp").as("source_timestamp"),
      lit(null).cast("timestamp").as("ingest_time_utc"),
      lit(null).cast("string").as("api_request_id"),
      lit(null).cast("string").as("etl_batch_id"))
      .filter(col("timestamp").isNotNull)
      .withColumn("observation_id",
        concat_ws("_", lit("daily"), col("station_id"),
          unix_timestamp(col("timestamp")).cast("long")))

  /** S11/S12: load observations, incremental (append) or overwrite
    * (the reference's TRUNCATE+INSERT), partitioned by date for pruning.
    */
  def writeObservations(obs: DataFrame, path: String,
      loadMode: String = "incremental"): Unit = {
    val mode =
      if (loadMode == "overwrite") SaveMode.Overwrite else SaveMode.Append
    // partition pruning by date + row-group clustering on (timestamp,
    // station_id) — the parquet analog of the reference warehouse's
    // MergeTree ORDER BY: min/max stats make time/station range reads
    // skip row groups
    obs.withColumn("obs_date", to_date(col("timestamp")))
      .sortWithinPartitions(col("obs_date"), col("timestamp"),
        col("station_id"))
      .write.partitionBy("obs_date").mode(mode).parquet(path)
  }

  /** Read with the known schema: no footer-inference job per read. A
    * missing path still throws `AnalysisException`.
    */
  def readObservations(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(WeatherSchemas.observation).parquet(path)

  /** S13 done surgically: delete observation rows by key, rewriting
    * ONLY the date partitions that contain a match (dynamic partition
    * overwrite). The reference's keyed `ALTER TABLE … DELETE`; at 100 TB
    * this touches a handful of partitions instead of the table. Also the
    * GDPR-style record-erasure shape for a partitioned lake.
    */
  def deleteObservations(spark: SparkSession, path: String,
      observationIds: Seq[String]): Long = {
    val all = readObservations(spark, path)
    val hit = org.apache.spark.sql.functions.col("observation_id")
      .isin(observationIds: _*)
    val affectedDates = all.filter(hit)
      .select(col("obs_date")).distinct().collect()
      .map(_.get(0))
    if (affectedDates.isEmpty) return 0L
    val affected =
      all.filter(col("obs_date").isin(affectedDates.toIndexedSeq: _*))
    val deleted = affected.filter(hit).count()
    // Dynamic overwrite only replaces partitions PRESENT in the output:
    // a date whose every row matches the delete set emits nothing, so its
    // directory would silently survive. Find those fully-emptied dates
    // (before the write mutates the source) and drop them explicitly.
    val survivingDates = affected.filter(!hit)
      .select(col("obs_date")).distinct().collect()
      .map(_.get(0)).toSet
    val emptiedDates = affectedDates.filterNot(survivingDates)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      affected.filter(!hit)
        .write.partitionBy("obs_date").mode(SaveMode.Overwrite)
        .parquet(path)
    } finally {
      prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf
          .unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    if (emptiedDates.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptiedDates.foreach { dte =>
        fs.delete(
          new org.apache.hadoop.fs.Path(root, s"obs_date=$dte"), true)
      }
    }
    deleted
  }

  /** A2: the hourly dedup-aggregate over observation rows — the quirk
    * ledger applies (SURVEY §8.1/§8.7): `temperature_c IS NOT NULL`
    * gates every metric; rainfall dedups via max-per-hour.
    */
  def hourlyAggregates(obs: DataFrame): DataFrame =
    obs.filter(col("temperature_c").isNotNull)
      .groupBy(
        to_date(col("timestamp")).as("date"),
        date_trunc("hour", col("timestamp")).as("hour"))
      .agg(
        avg(col("temperature_c")).as("avg_temperature_c"),
        max(col("rainfall_mm")).as("max_rainfall_per_hour"),
        avg(col("humidity_percent")).as("avg_humidity_percent"),
        max(col("temperature_c")).as("max_temperature_c"),
        min(col("temperature_c")).as("min_temperature_c"),
        count(lit(1)).as("observation_count"))

  /** A3: daily rollup (unweighted avg-of-hourly-avgs, sum of hourly
    * rainfall maxes).
    */
  def dailyAggregates(obs: DataFrame): DataFrame =
    hourlyAggregates(obs)
      .groupBy(col("date"))
      .agg(
        avg(col("avg_temperature_c")).as("avg_temperature_c"),
        sum(col("max_rainfall_per_hour")).as("total_rainfall_mm"),
        avg(col("avg_humidity_percent")).as("avg_humidity_percent"),
        max(col("max_temperature_c")).as("max_temperature_c"),
        min(col("min_temperature_c")).as("min_temperature_c"),
        sum(col("observation_count")).as("observation_count"))

  /** A4: monthly rollup over observation rows. */
  def monthlyAggregates(obs: DataFrame): DataFrame =
    monthlyRollup(dailyAggregates(obs))

  /** A4 from already-computed daily rows, so one daily rollup can feed
    * both tables.
    */
  def monthlyRollup(daily: DataFrame): DataFrame =
    daily
      .groupBy(year(col("date")).as("year"), month(col("date")).as("month"))
      .agg(
        avg(col("avg_temperature_c")).as("avg_temperature_c"),
        sum(col("total_rainfall_mm")).as("total_rainfall_mm"),
        avg(col("avg_humidity_percent")).as("avg_humidity_percent"),
        max(col("max_temperature_c")).as("max_temperature_c"),
        min(col("min_temperature_c")).as("min_temperature_c"),
        sum(col("observation_count")).as("observation_count"))

  /** A8/A9: refresh an aggregate table — recompute + audit columns +
    * idempotent overwrite (replaces the reference's keyed DELETE +
    * INSERT cycle, S13).
    *
    * T3 parity mode: the reference orders the aggregate SELECT before
    * inserting (`ORDER BY date DESC` / `ORDER BY year DESC, month
    * DESC`, clickhouse_etl.py:333,410) because ClickHouse storage
    * order is query-visible. Parquet's is not — a reader orders with
    * its own ORDER BY — so by default no sort is paid. Passing
    * `orderBy` reproduces the insert order anyway for consumers that
    * stream part files in sequence: the range-partitioned sort makes
    * part-file index order the global sort order, and rows within each
    * file follow it too.
    */
  def refreshAggregate(agg: DataFrame, path: String,
      syncIntervalMin: Int, loadMode: String,
      orderBy: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    val n = agg.count()
    val stamped = agg
      .withColumn("warehouse_load_time", current_timestamp())
      .withColumn("rows_loaded", lit(n).cast("int"))
      .withColumn("sync_interval_min", lit(syncIntervalMin).cast("int"))
      .withColumn("load_mode", lit(loadMode))
    val ordered =
      if (orderBy.isEmpty) stamped else stamped.orderBy(orderBy: _*)
    ordered.write.mode(SaveMode.Overwrite).parquet(path)
  }
}
