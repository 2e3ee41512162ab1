package graft

import graft.pipeline._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._

/** End-to-end weather pipeline on the §1.1 fixture docs: raw JSON →
  * lake → warehouse → aggregates → serving, asserted against
  * hand-computed goldens, including a duplicate-heavy batch (SURVEY §5.4).
  */
class PipelineSpec extends SparkSuite {

  private lazy val fixtureDir = {
    val dir = tmpDir("weather_fix")
    WeatherFixtures.writeJson(dir, "batch1.json",
      WeatherFixtures.standardBatch)
    dir
  }

  test("enrichment computes per-document metrics with conversions") {
    val raw = Lake.readRaw(spark, s"$fixtureDir/batch1.json")
    assert(raw.count() === 1)
    val m = Lake.enrich(raw).select("calculated_metrics.*").collect().head
    // temps: 35.0 (Kelvin), 35.0 (dup), 100.0 (boundary stays), 26.85
    // (300 K, null-ts feature still counts in per-doc metrics), 25.5,
    // 17.0 (290.15 K)
    assert(m.getAs[Int]("temperature_count") === 6)
    // rainfall: 0.5, 0.5, 1.0, 2.5, 1.0 (0.001 m → 1.0 stays? 0.001 < 1
    // → ×1000 = 1.0), 3.0
    assert(m.getAs[Int]("rainfall_count") === 6)
    val expTemps = Seq(35.0, 35.0, 100.0, 26.85, 25.5, 17.0)
    assert(math.abs(m.getAs[Double]("avg_temperature_c") -
      expTemps.sum / expTemps.size) < 1e-9)
    val expRain = Seq(0.5, 0.5, 1.0, 2.5, 1.0, 3.0)
    assert(math.abs(m.getAs[Double]("total_rainfall_mm") -
      expRain.sum) < 1e-9)
    assert(m.getAs[Int]("humidity_count") === 5)
    assert(m.getAs[Int]("observation_count") === 7) // incl. null-ts row
  }

  test("forecast summary keeps first 7 periods with F→C conversion") {
    val raw = Lake.readRaw(spark, s"$fixtureDir/batch1.json")
    val f = Lake.enrich(raw)
      .select(explode(col("forecast_summary")).as("p"))
      .select("p.name", "p.temperature_f", "p.temperature_c").collect()
    assert(f.length === 2)
    assert(f.head.getAs[String]("name") === "Today")
    assert(math.abs(f.head.getAs[Double]("temperature_c") -
      (95.0 - 32) * 5 / 9) < 1e-9)
  }

  test("observation parse drops null timestamps, converts, keys rows") {
    val raw = Lake.readRaw(spark, s"$fixtureDir/batch1.json")
    val obs = Warehouse.parseObservations(raw)
    val rows = obs.collect()
    assert(rows.length === 6) // 7 features minus the null-timestamp one
    val byStation = rows.groupBy(_.getAs[String]("station_id"))
    assert(byStation.keySet === Set("KSCK", "KSJC"))
    // Kelvin converted at parse too
    val ksck = rows.filter(r => r.getAs[String]("observation_id")
      .startsWith("KSCK_"))
    assert(ksck.exists(r =>
      math.abs(r.getAs[Double]("temperature_c") - 35.0) < 1e-9))
    // null temperature survives parse (P4 filters happen at agg time)
    assert(rows.count(_.isNullAt(rows.head.fieldIndex("temperature_c")))
      === 1)
  }

  test("full pipeline run produces capped monthly serving rows") {
    val paths = Pipeline.Paths(tmpDir("weather_pipe"))
    val monthly = Pipeline.run(spark,
      s"$fixtureDir/batch1.json", paths).collect()
    // fixture spans 2026-07 and 2026-08
    assert(monthly.length === 2)
    monthly.foreach { r =>
      val h = r.getAs[Double]("avg_humidity_percent")
      assert(h <= 100.0) // read-time cap (120 input would exceed)
    }
    // null-temperature observation row excluded everywhere (§8.7)
    val total = monthly.map(_.getAs[Long]("observation_count")).sum
    assert(total === 5) // 6 parsed minus 1 null-temperature
    // cache envelope is fresh & parseable
    val payload = Serving.readCacheIfFresh(spark, paths.cache, 3600)
    assert(payload.isDefined)
    assert(payload.get.contains("\"overall_averages\""))
    assert(Serving.readCacheIfFresh(spark, paths.cache, 0).isEmpty)
  }

  test("T3 ordered aggregate insert: orderBy parity mode writes the " +
    "reference's date-DESC order into the part files") {
    import spark.implicits._
    val path = tmpDir("ordered_agg")
    val agg = Seq.tabulate(50)(i =>
        (java.sql.Date.valueOf(f"2026-03-${i % 28 + 1}%02d"), i * 1.5))
      .toDF("date", "avg_temperature_c")
      .repartition(8) // scrambled input partitioning
    Warehouse.refreshAggregate(agg, path, 60, "full_refresh",
      orderBy = Seq(desc("date")))
    // global order = part-file index order × within-file row order
    val parts = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val dates = parts.flatMap(p =>
      spark.read.parquet(p.getPath).select("date").collect()
        .map(_.getDate(0).toString))
    assert(dates.length === 50)
    assert(dates.toSeq === dates.sortBy(identity).reverse.toSeq,
      "part files must stream back in descending date order")
    // the default path stays sort-free (no parity cost unless asked)
    Warehouse.refreshAggregate(agg, path, 60, "full_refresh")
    assert(spark.read.parquet(path).count() === 50)
  }

  test("incremental re-run duplicates observations; hourly agg masks " +
    "metric values (SURVEY §8.5 parity)") {
    val paths = Pipeline.Paths(tmpDir("weather_dup"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    val before = Warehouse.readObservations(spark, paths.observations)
    val aggBefore = Warehouse.dailyAggregates(before)
      .select("date", "avg_temperature_c", "total_rainfall_mm")
      .collect().toSet
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths) // second sync
    val after = Warehouse.readObservations(spark, paths.observations)
    // re-extract-all: the 2nd sync re-parses BOTH enriched docs (12 rows)
    // and appends them to the 6 already stored
    assert(after.count() === before.count() * 3)
    val aggAfter = Warehouse.dailyAggregates(after)
      .select("date", "avg_temperature_c", "total_rainfall_mm")
      .collect().toSet
    assert(aggBefore === aggAfter) // dedup-by-aggregation holds
  }

  test("DDL bootstrap makes warehouse tables SQL-addressable (S16)") {
    val paths = Pipeline.Paths(tmpDir("weather_sql"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    Warehouse.bootstrapTables(spark, paths.observations,
      paths.dailyAgg, paths.monthlyAgg)
    val n = spark.sql(
      "SELECT count(*) FROM weather_observations WHERE temperature_c " +
        "IS NOT NULL").collect().head.getLong(0)
    assert(n === 5)
    // idempotent re-bootstrap
    Warehouse.bootstrapTables(spark, paths.observations,
      paths.dailyAgg, paths.monthlyAgg)
    assert(spark.sql("SELECT count(*) FROM daily_weather_aggregates")
      .collect().head.getLong(0) >= 2)
  }

  test("serving fallback ladder: full from cache, partial when stale, " +
    "out-of-sync when empty (§3.2, §8.6)") {
    val paths = Pipeline.Paths(tmpDir("weather_serve"))
    // no data at all
    val none = Scheduler.servingData(spark, paths)
    assert(none.syncStatus === "out-of-sync" && none.monthlyJson.isEmpty)
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    // fresh cache → full, monthly from cache, daily still live
    val full = Scheduler.servingData(spark, paths)
    assert(full.syncStatus === "full" && full.fromCache)
    assert(full.monthlyJson.get.contains("overall_averages"))
    assert(full.daily.columns.contains("avg_temperature_f"))
    assert(full.daily.count() >= 2) // §8.6: live daily series
    // expired cache → partial, recomputed json
    val partial = Scheduler.servingData(spark, paths, ttlSeconds = 0)
    assert(partial.syncStatus === "partial" && !partial.fromCache)
    assert(partial.monthlyJson.get.contains("overall_averages"))
  }

  test("scheduled loop runs staged syncs with catch-continue (§3.3)") {
    val paths = Pipeline.Paths(tmpDir("weather_sched"))
    val errors = Scheduler.runScheduled(spark,
      s"$fixtureDir/batch1.json", paths, ticks = 2)
    assert(errors === 0)
    // two API syncs ran → re-extract-all duplication (2 docs → 6 + 12)
    assert(Warehouse.readObservations(spark, paths.observations)
      .count() === 18)
    // bad input path → errors counted, each logged at WARN with its
    // stage, tick and cause, loop continues. The capture sits on the
    // root config: Logger.addAppender would leave a non-additive config
    // behind that silences the Scheduler logger for the rest of the JVM.
    val logged = collection.mutable.ArrayBuffer.empty[(Level, String,
      Throwable)]
    val capture = new AbstractAppender("scheduler-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName == Scheduler.getClass.getName)
          logged.synchronized {
            logged += ((e.getLevel, e.getMessage.getFormattedMessage,
              e.getThrown))
          }
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    val bad =
      try Scheduler.runScheduled(spark,
        s"$fixtureDir/missing.json", paths, ticks = 2)
      finally {
        root.removeAppender(capture.getName)
        ctx.updateLoggers()
        capture.stop()
      }
    assert(bad === 2)
    // the API stage fails on both ticks; warehouse and cache still run
    assert(logged.map(r => (r._1, r._2)).toSeq === Seq(0, 1).map(t =>
      (Level.WARN, s"runScheduled: api stage failed at tick $t; continuing")))
    assert(logged.forall(_._3.getMessage.contains("missing.json")))
  }

  test("scheduler cache stage publishes the envelope when the api " +
    "stage fails (§3.3)") {
    val paths = Pipeline.Paths(tmpDir("weather_sched_cache"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(paths.cache))
    assert(Serving.readCacheIfFresh(spark, paths.cache, 3600).isEmpty)
    val errors = Scheduler.runScheduled(spark,
      s"$fixtureDir/missing.json", paths, ticks = 1)
    assert(errors === 1) // the api stage; warehouse and cache succeed
    val payload = Serving.readCacheIfFresh(spark, paths.cache, 3600)
    assert(payload.exists(_.contains("\"monthly_data\"")))
  }

  test("a completed api stage is the tick's only rollup: the daily " +
    "table is not rewritten after the cache") {
    val paths = Pipeline.Paths(tmpDir("weather_sched_once"))
    assert(Scheduler.runScheduled(spark,
      s"$fixtureDir/batch1.json", paths, ticks = 1) === 0)
    val loaded = spark.read.parquet(paths.dailyAgg)
      .agg(max("warehouse_load_time")).head().getTimestamp(0)
    val cached = spark.read.parquet(paths.cache)
      .select("cache_timestamp").head().getTimestamp(0)
    assert(!loaded.after(cached), s"daily loaded $loaded, cached $cached")
  }

  test("one run's tables and cached months equal an independent " +
    "recompute from the observations") {
    val paths = Pipeline.Paths(tmpDir("weather_rollup"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    val obs = Warehouse.readObservations(spark, paths.observations)
    // same keys, exact non-double values, doubles within 1e-9
    def sameRows(got: Seq[Map[String, Any]], want: Seq[Map[String, Any]],
        key: Seq[String]): Unit = {
      def byKey(rs: Seq[Map[String, Any]]) =
        rs.map(r => key.map(r(_)) -> r).toMap
      val (g, w) = (byKey(got), byKey(want))
      assert(g.size === got.size && g.keySet === w.keySet)
      for ((k, wr) <- w; (c, wv) <- wr) (g(k)(c), wv) match {
        case (a: Double, b: Double) =>
          assert(math.abs(a - b) < 1e-9, s"$k $c: $a vs $b")
        case (a, b) => assert(a === b, s"$k $c")
      }
    }
    def maps(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect().toSeq
        .map(r => cols.zip(r.toSeq).toMap)
    val metrics = Seq("avg_temperature_c", "total_rainfall_mm",
      "avg_humidity_percent", "max_temperature_c", "min_temperature_c",
      "observation_count")
    Seq(
      (paths.dailyAgg, Warehouse.dailyAggregates(obs), Seq("date")),
      (paths.monthlyAgg, Warehouse.monthlyAggregates(obs),
        Seq("year", "month"))
    ).foreach { case (path, want, key) =>
      val table = spark.read.parquet(path)
      val n = table.count()
      assert(n > 0)
      assert(table.select("rows_loaded").distinct().collect()
        .map(_.getInt(0)).toSeq === Seq(n))
      sameRows(maps(table, key ++ metrics), maps(want, key ++ metrics), key)
    }
    // the cached envelope's months, parsed back in the live rows' schema
    val live = Serving.monthlyAverages(obs, 12)
    val payload = Serving.readCacheIfFresh(spark, paths.cache, 3600).get
    val months = spark.range(1).select(explode(from_json(lit(payload),
      new org.apache.spark.sql.types.StructType().add("monthly_data",
        org.apache.spark.sql.types.ArrayType(live.schema)))
      .getField("monthly_data")).as("m")).select("m.*")
    val cols = Seq("year", "month") ++ metrics
    val (cached, want) = (maps(months, cols), maps(live, cols))
    sameRows(cached, want, Seq("year", "month"))
  }

  test("observation and cache tables are written in their known schemas") {
    val paths = Pipeline.Paths(tmpDir("weather_schemas"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    def fields(t: org.apache.spark.sql.types.StructType) =
      t.fields.toSeq.map(f => f.name -> f.dataType)
    // one part file's footer, read without partition discovery
    def footer(dir: String) = {
      val part = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(_.toString.endsWith(".parquet")).findFirst().get
      spark.read.parquet(part.toString).schema
    }
    assert(fields(footer(paths.observations)) :+
      ("obs_date" -> org.apache.spark.sql.types.DateType) ===
      fields(WeatherSchemas.observation))
    assert(fields(spark.read.parquet(paths.observations).schema) ===
      fields(WeatherSchemas.observation))
    assert(fields(footer(paths.cache)) === fields(WeatherSchemas.cacheEntry))
  }

  test("late-arriving batch lands in earlier days after recompute (ST4)") {
    val paths = Pipeline.Paths(tmpDir("weather_late"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    val before = Warehouse.dailyAggregates(
      Warehouse.readObservations(spark, paths.observations))
      .collect().map(r => r.getAs[java.sql.Date]("date").toString ->
        r.getAs[Long]("observation_count")).toMap
    // a second batch carrying only LATE observations (an earlier day)
    val lateDir = tmpDir("weather_late_fix")
    val lateDoc = WeatherFixtures.rawDoc("batch_late", Seq(
      """{"properties": {"timestamp": "2026-07-30T12:00:00+00:00",
        | "station": "https://api.example.test/stations/KSCK",
        | "temperature": {"value": 301.15},
        | "precipitationLastHour": {"value": 0.002},
        | "relativeHumidity": {"value": 40.0},
        | "windSpeed": {"value": 1.0},
        | "seaLevelPressure": {"value": 101000.0}}}"""
        .stripMargin.replaceAll("\n", " ")), Seq())
    WeatherFixtures.writeJson(lateDir, "late.json", Seq(lateDoc))
    Pipeline.run(spark, s"$lateDir/late.json", paths)
    val after = Warehouse.dailyAggregates(
      Warehouse.readObservations(spark, paths.observations))
      .collect().map(r => r.getAs[java.sql.Date]("date").toString ->
        r.getAs[Long]("observation_count")).toMap
    // the new earlier day appears; full recompute rebuilt it from scratch
    assert(!before.contains("2026-07-30"))
    assert(after("2026-07-30") === 1L)
    // stage 2 re-extracts everything, so existing days double (parity
    // §8.5) — but they are still present and aggregated consistently
    assert(before.keySet.subsetOf(after.keySet))
  }

  test("keyed delete rewrites only the affected date partitions (S13)") {
    val paths = Pipeline.Paths(tmpDir("weather_del"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    val before = Warehouse.readObservations(spark, paths.observations)
    val total = before.count()
    val victim = before
      .filter(col("obs_date") === "2026-07-31")
      .select("observation_id").collect().head.getString(0)
    val untouchedDateCount =
      before.filter(col("obs_date") === "2026-08-01").count()
    val deleted = Warehouse.deleteObservations(spark,
      paths.observations, Seq(victim))
    assert(deleted === 1L)
    val after = Warehouse.readObservations(spark, paths.observations)
    assert(after.count() === total - 1)
    assert(after.filter(col("observation_id") === victim).count() === 0)
    // the other partition is intact
    assert(after.filter(col("obs_date") === "2026-08-01").count()
      === untouchedDateCount)
    // deleting a non-existent key is a no-op
    assert(Warehouse.deleteObservations(spark, paths.observations,
      Seq("nope_123")) === 0L)
    assert(Warehouse.readObservations(spark, paths.observations).count()
      === total - 1)
  }

  test("keyed delete drops a fully-emptied date partition (S13)") {
    val paths = Pipeline.Paths(tmpDir("weather_del_all"))
    Pipeline.run(spark, s"$fixtureDir/batch1.json", paths)
    val before = Warehouse.readObservations(spark, paths.observations)
    val total = before.count()
    // every observation_id of one date — dynamic overwrite alone would
    // emit no rows for it and leave the directory (and rows) behind
    val victims = before.filter(col("obs_date") === "2026-07-31")
      .select("observation_id").collect().map(_.getString(0)).toSeq
    assert(victims.nonEmpty)
    val otherCount =
      before.filter(col("obs_date") =!= "2026-07-31").count()
    val deleted = Warehouse.deleteObservations(spark,
      paths.observations, victims)
    assert(deleted === victims.size.toLong)
    val after = Warehouse.readObservations(spark, paths.observations)
    assert(after.count() === total - victims.size)
    assert(after.filter(col("obs_date") === "2026-07-31").count() === 0)
    assert(after.count() === otherCount)
    // the partition directory itself is gone, not just empty
    val dir = new java.io.File(
      s"${paths.observations}/obs_date=2026-07-31")
    assert(!dir.exists())
  }

  test("quality gate quarantines implausible rows with reasons") {
    import spark.implicits._
    val obs = Seq(
      (Some("2026-08-01 10:00:00"), Some(25.0), Some(1.0), Some(50.0)),
      (Some("2026-08-01 11:00:00"), Some(300.0), Some(1.0), Some(50.0)),
      (Some("2026-08-01 12:00:00"), Some(25.0), Some(-2.0), Some(120.0)),
      (None, Some(25.0), None, None),
      (Some("2026-08-01 13:00:00"), None, None, None))
      .toDF("ts", "temperature_c", "rainfall_mm", "humidity_percent")
      .select(col("ts").cast("timestamp").as("timestamp"),
        col("temperature_c"), col("rainfall_mm"), col("humidity_percent"))
    val (valid, quarantine) = Quality.split(obs)
    assert(valid.count() === 1)
    assert(quarantine.count() === 4)
    val reasons = Quality.report(obs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons === Map(
      "temperature_implausible" -> 1L, "rainfall_negative" -> 1L,
      "humidity_out_of_bounds" -> 1L, "missing_timestamp" -> 1L,
      "all_metrics_null" -> 1L))
  }

  test("legacy daily documents parse via midpoint fallback") {
    import spark.implicits._
    val legacy = Seq(
      ("2026-07-01", Some(30.0), Some(10.0), Some(1.2)),
      ("2026-07-02", Some(28.0), None, None))
      .toDF("date", "max_temp_c", "min_temp_c", "precip_mm")
    val rows = Warehouse.parseLegacyDaily(legacy).collect()
    assert(rows.length === 2)
    assert(rows.head.getAs[Double]("temperature_c") === 20.0)
    assert(rows(1).getAs[Double]("temperature_c") === 28.0)
  }
}
