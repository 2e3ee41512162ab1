package graft

import graft.functions.Fns._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is exposed as a named query over the
  * driver testdata, with a DuckDB-equivalent oracle in [[oracleSql]].
  * Cross-engine determinism rules used throughout:
  *  - double AVGs rounded to 4 dp with the epsilon nudge (`r4`);
  *  - large money SUMs accumulated in DECIMAL(18,6) (exact,
  *    order-independent) and emitted as DOUBLE in both engines;
  *  - counts/min/max left exact;
  *  - no raw nanosecond timestamps emitted (Spark truncates parquet ns to
  *    micros; DuckDB keeps ns) — always bucketed to date/hour first.
  */
object SparkEntry {

  /** Exact order-independent money sum: accumulate in DECIMAL(18,6)
    * (exact integers underneath, immune to summation-order fp drift),
    * then emit as double — both engines produce the nearest double of
    * the same exact decimal, and double avoids decimal-precision
    * metadata mismatches in the comparator.
    */
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_monthly_topk")(spark, "/root/testdata/sf0.001")

  /** Build-once prepare hook for the `*_served` queries: persists the
    * lake indexes they read (see [[graft.registry.TextQueries.prepare]])
    * plus the bucketed, z-ordered, CDC and graph-edge lakes. Verify,
    * VerifyOne, Bench, BenchOne, GoldenDump, ExplainPlans, PlanBudget
    * and EntrySpec call this before executing registry queries;
    * construction stays job-free.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    graft.registry.TextQueries.prepare(spark, sfDir)
    graft.operators.Relational.prepareBucketed(spark, sfDir,
      s"${graft.registry.TextQueries.indexRoot(sfDir)}/bucketed")
    graft.operators.Relational.prepareZordered(spark, sfDir,
      s"${graft.registry.TextQueries.indexRoot(sfDir)}/zorder_lineitem")
    graft.operators.Cdc.prepareLake(spark, sfDir,
      s"${graft.registry.TextQueries.indexRoot(sfDir)}/cdc")
    graft.operators.Graph.prepareEdges(spark, sfDir,
      s"${graft.registry.TextQueries.indexRoot(sfDir)}/edges")
  }

  /** True when `name`'s query function reads a [[prepare]]-built lake
    * artifact (the `*_served` convention, plus the streaming snapshot
    * row) — single-query runners use this to decide whether to build.
    */
  def needsPrepare(name: String): Boolean =
    name.endsWith("_served") || name == "q_stream_hourly" ||
      name == "q_stream_sessions" || name == "q_stream_join" ||
      name == "q_stream_sliding" ||
      name == "q_bm25_index_stats" || name == "q_ppl_model_stats" ||
      // the graph family reads the edge lists prepare persisted
      name == "q_pagerank" || name == "q_triangles" ||
      name == "q_khop" || name == "q_cheapest_path" ||
      name == "q_components"

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    hierarchyQueries ++
      graft.registry.RelationalQueries.queries ++
      graft.registry.TextQueries.queries ++
      graft.registry.ExtrasQueries.queries ++
      graft.registry.TpcHQueries.queries

  private def hierarchyQueries
      : Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference-parity hierarchy (SURVEY §2.4 A2–A7, §2.6 T1/T2/T4) ----
    "q_hourly_agg" -> ((s, d) => {
      Hierarchy.hourly(Tables.events(s, d))
        .select(col("date"), col("hr"),
          r4(col("avg_value")).as("avg_value"),
          col("max_value"), col("min_value"), col("n_obs"))
    }),
    // the Structured Streaming tier under the driver gate: prepare ran
    // the windowed hourly aggregate as a checkpointed AvailableNow
    // stream and snapshotted the final state; this row reads the
    // snapshot and must hash-match the BATCH q_hourly_agg oracle
    "q_stream_hourly" -> ((s, d) => {
      s.read.parquet(
          s"${graft.registry.TextQueries.indexRoot(d)}/stream_hourly")
        .select(to_date(col("hour_start")).as("date"),
          hour(col("hour_start")).as("hr"),
          r4(col("avg_value")).as("avg_value"),
          col("max_value"), col("min_value"), col("n_obs"))
    }),
    // second streaming row: native SESSION WINDOWS (gap-merged state)
    // run by prepare as a checkpointed AvailableNow stream; this reads
    // the snapshot, derives the per-user session ordinal from the
    // session START (a window over the session-sized snapshot, not
    // the corpus), and must hash-match the BATCH q_sessionize oracle
    "q_stream_sessions" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val snap = s.read.parquet(
        s"${graft.registry.TextQueries.indexRoot(d)}/stream_sessions")
      snap.select(col("user_id"),
          (row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("session_start"))) - 1).cast("int")
            .as("session_idx"),
          col("n_events"), col("first_event_id"),
          r4(col("session_value")).as("session_value"))
    }),
    // fourth streaming row: the sliding-window snapshot bucketed to
    // (date, hr) must hash-match the BATCH q_sliding oracle
    "q_stream_sliding" -> ((s, d) => {
      s.read.parquet(
          s"${graft.registry.TextQueries.indexRoot(d)}/stream_sliding")
        .select(to_date(col("window_start")).as("date"),
          hour(col("window_start")).as("hr"),
          r4(col("avg_value")).as("avg_value"),
          col("max_value"), col("n_obs"))
    }),
    // third streaming row: the STREAM-STREAM interval join's snapshot
    // (purchases x same-user clicks in the preceding hour) must
    // hash-match the batch interval join
    "q_stream_join" -> ((s, d) => {
      s.read.parquet(
          s"${graft.registry.TextQueries.indexRoot(d)}/stream_join")
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          col("value"))
    }),
    "q_daily_rollup" -> ((s, d) => {
      Hierarchy.daily(Tables.events(s, d))
        .select(col("date"),
          r4(col("avg_value")).as("avg_value"),
          r4(col("sum_hourly_max")).as("sum_hourly_max"),
          col("max_value"), col("min_value"), col("n_obs"))
    }),
    "q_monthly_rollup" -> ((s, d) => {
      Hierarchy.monthly(Tables.events(s, d))
        .select(col("yr"), col("mon"),
          r4(col("avg_value")).as("avg_value"),
          r4(col("sum_hourly_max")).as("sum_hourly_max"),
          col("max_value"), col("min_value"), col("n_obs"))
    }),
    "q_daily_topk" -> ((s, d) => {
      Hierarchy.dailyTopK(Tables.events(s, d), 7)
        .select(col("date"),
          r4(col("avg_value")).as("avg_value"),
          r4(col("avg_value_capped")).as("avg_value_capped"),
          col("max_value"), col("n_obs"))
    }),
    "q_monthly_topk" -> ((s, d) => {
      Hierarchy.monthlyTopK(Tables.events(s, d), 12)
        .select(col("yr"), col("mon"),
          r4(col("avg_value")).as("avg_value"),
          r4(col("avg_value_capped")).as("avg_value_capped"),
          col("max_value"), col("n_obs"))
    }),
    "q_grand_avg" -> ((s, d) => {
      Hierarchy.grandAverages(Tables.events(s, d))
        .select(
          r4(col("overall_avg_value")).as("overall_avg_value"),
          r4(col("total_sum")).as("total_sum"),
          r4(col("overall_avg_max")).as("overall_avg_max"),
          col("total_obs"), col("period_months"))
    }),
    "q_latest_record" -> ((s, d) =>
      Hierarchy.latestRecord(Tables.events(s, d))),
    "q_time_rollup" -> ((s, d) =>
      Hierarchy.timeRollup(Tables.events(s, d))),

    // ---- scalar-function surface (SURVEY §2.3 F1–F5, F12) ----
    "q_conversions" -> ((s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        r4(kelvinToC(col("value"))).as("kelvin_to_c"),
        r4(metersToMm(col("value") / 100)).as("meters_to_mm"),
        r4(fToC(col("value"))).as("f_to_c"),
        r4(cToF(col("value"))).as("c_to_f"),
        r4(capHumidity(col("value"))).as("capped"))
    }),

    // F15 complete: the dashboard display envelope — integer-rounded
    // overall temperature in F plus the verbatim ±8 hi/lo estimate
    // (dashboard.py:668,678-679), over the grand-averages row scoped to
    // the latest 13 months exactly as the dashboard fallback does
    // (get_monthly_averages(13), dashboard.py:1107)
    "q_display_envelope" -> ((s, d) => {
      val tempF = cToF(col("overall_avg_value"))
      Hierarchy.grandAverages(Tables.events(s, d), latestMonths = Some(13))
        .select(
        displayRound(tempF).as("temp_f"),
        hiEstimate(tempF).as("temp_high"),
        loEstimate(tempF).as("temp_low"),
        displayRound(col("total_sum")).as("total_display"),
        col("period_months"))
    }),

    // ---- TPC-H-ish relational core (SURVEY §2.4/§2.5 generalization) ----
    "q1_pricing" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(to_date(col("l_shipdate")) <= lit("1998-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r4(sum(col("l_quantity"))).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          r4(avg(col("l_quantity"))).as("avg_qty"),
          r4(avg(col("l_extendedprice"))).as("avg_price"),
          r4(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Every `round(x, n)` is rewritten to `round(1e-9 + x, n)` to mirror
    * `Fns.r4`'s half-boundary nudge (see its scaladoc): both engines
    * shift identically, so values sitting on an exact rounding boundary
    * — common with discrete decimal inputs — round the same way
    * regardless of summation-order drift.
    */
  def oracleSql: Map[String, String] =
    (hierarchyOracle ++
      graft.registry.RelationalQueries.oracle ++
      graft.registry.TextQueries.oracle ++
      graft.registry.ExtrasQueries.oracle ++
      graft.registry.TpcHQueries.oracle)
      .view.mapValues(_.replace("round(", "round(1e-9 + ")).toMap

  private def hierarchyOracle: Map[String, String] = hierarchyOracleBase +
    // the streaming snapshot must answer the batch oracle exactly —
    // same rows, same rounding — or the gate fails
    ("q_stream_hourly" -> hierarchyOracleBase("q_hourly_agg")) +
      // the session-window snapshot must answer the batch sessionize
      // oracle — same sessions, same per-user ordinals
      ("q_stream_sessions" ->
        graft.registry.RelationalQueries.oracle("q_sessionize")) +
      // the stream-stream join snapshot vs the batch interval join;
      // comparisons truncate to MICROSECONDS (ns-schema-proof — the
      // stream side's ts_event is micros in either physical schema)
      ("q_stream_join" ->
        """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
          | p.user_id, p.value
          |FROM events p JOIN events c
          | ON p.event_type = 'purchase' AND c.event_type = 'click'
          | AND p.user_id = c.user_id
          | AND (epoch_ns(c.ts) // 1000)
          |   >= (epoch_ns(p.ts) // 1000) - 3600000000
          | AND (epoch_ns(c.ts) // 1000)
          |   <= (epoch_ns(p.ts) // 1000)""".stripMargin) +
      // the sliding-window snapshot answers the batch oracle
      ("q_stream_sliding" ->
        graft.registry.ExtrasQueries.oracle("q_sliding"))

  private lazy val hierarchyOracleBase: Map[String, String] = Map(
    "q_hourly_agg" ->
      """SELECT CAST(ts AS DATE) AS date, CAST(hour(ts) AS INT) AS hr,
        | round(avg(value), 4) AS avg_value, max(value) AS max_value,
        | min(value) AS min_value, count(*) AS n_obs
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,
    "q_daily_rollup" ->
      """SELECT date, round(avg(avg_value), 4) AS avg_value,
        | round(sum(max_value), 4) AS sum_hourly_max,
        | max(max_value) AS max_value, min(min_value) AS min_value,
        | CAST(sum(n_obs) AS BIGINT) AS n_obs
        |FROM (
        |  SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr,
        |   avg(value) AS avg_value, max(value) AS max_value,
        |   min(value) AS min_value, count(*) AS n_obs
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |GROUP BY date""".stripMargin,
    "q_monthly_rollup" ->
      """SELECT CAST(year(date) AS INT) AS yr, CAST(month(date) AS INT) AS mon,
        | round(avg(avg_value), 4) AS avg_value,
        | round(sum(sum_hourly_max), 4) AS sum_hourly_max,
        | max(max_value) AS max_value, min(min_value) AS min_value,
        | CAST(sum(n_obs) AS BIGINT) AS n_obs
        |FROM (
        |  SELECT date, avg(avg_value) AS avg_value,
        |   sum(max_value) AS sum_hourly_max, max(max_value) AS max_value,
        |   min(min_value) AS min_value, sum(n_obs) AS n_obs
        |  FROM (
        |    SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr,
        |     avg(value) AS avg_value, max(value) AS max_value,
        |     min(value) AS min_value, count(*) AS n_obs
        |    FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |  GROUP BY date)
        |GROUP BY 1, 2""".stripMargin,
    "q_daily_topk" ->
      """SELECT date, round(avg_value, 4) AS avg_value,
        | round(CASE WHEN avg_value IS NOT NULL AND avg_value > 0
        |        THEN least(avg_value, 100.0) ELSE avg_value END, 4)
        |   AS avg_value_capped,
        | max_value, n_obs
        |FROM (
        |  SELECT date, avg(avg_value) AS avg_value,
        |   max(max_value) AS max_value,
        |   CAST(sum(n_obs) AS BIGINT) AS n_obs
        |  FROM (
        |    SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr,
        |     avg(value) AS avg_value, max(value) AS max_value,
        |     count(*) AS n_obs
        |    FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |  GROUP BY date)
        |ORDER BY date DESC LIMIT 7""".stripMargin,
    "q_monthly_topk" ->
      """SELECT CAST(yr AS INT) AS yr, CAST(mon AS INT) AS mon,
        | round(avg_value, 4) AS avg_value,
        | round(CASE WHEN avg_value IS NOT NULL AND avg_value > 0
        |        THEN least(avg_value, 100.0) ELSE avg_value END, 4)
        |   AS avg_value_capped,
        | max_value, n_obs
        |FROM (
        |  SELECT year(date) AS yr, month(date) AS mon,
        |   avg(avg_value) AS avg_value, max(max_value) AS max_value,
        |   CAST(sum(n_obs) AS BIGINT) AS n_obs
        |  FROM (
        |    SELECT date, avg(avg_value) AS avg_value,
        |     max(max_value) AS max_value, sum(n_obs) AS n_obs
        |    FROM (
        |      SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr,
        |       avg(value) AS avg_value, max(value) AS max_value,
        |       count(*) AS n_obs
        |      FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |    GROUP BY date)
        |  GROUP BY 1, 2)
        |ORDER BY yr DESC, mon DESC LIMIT 12""".stripMargin,
    "q_grand_avg" ->
      """SELECT
        | round(sum(CASE WHEN avg_value IS NOT NULL AND avg_value <> 0
        |            THEN avg_value END) / count(*), 4) AS overall_avg_value,
        | round(CAST(sum(CAST(sum_hourly_max AS DECIMAL(18,6))) AS DOUBLE),
        |    4) AS total_sum,
        | round(avg(max_value), 4) AS overall_avg_max,
        | CAST(sum(n_obs) AS BIGINT) AS total_obs,
        | count(*) AS period_months
        |FROM (
        |  SELECT year(date) AS yr, month(date) AS mon,
        |   avg(avg_value) AS avg_value,
        |   sum(sum_hourly_max) AS sum_hourly_max,
        |   max(max_value) AS max_value, sum(n_obs) AS n_obs
        |  FROM (
        |    SELECT date, avg(avg_value) AS avg_value,
        |     sum(max_value) AS sum_hourly_max,
        |     max(max_value) AS max_value, sum(n_obs) AS n_obs
        |    FROM (
        |      SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr,
        |       avg(value) AS avg_value, max(value) AS max_value,
        |       min(value) AS min_value, count(*) AS n_obs
        |      FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |    GROUP BY date)
        |  GROUP BY 1, 2)""".stripMargin,
    "q_latest_record" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin,
    "q_time_rollup" ->
      """SELECT CAST(year(ts) AS INT) AS yr, CAST(month(ts) AS INT) AS mon,
        | CAST(ts AS DATE) AS date, CAST(hour(ts) AS INT) AS hr,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | max(value) AS max_value, min(value) AS min_value,
        | count(*) AS n_obs
        |FROM events WHERE value IS NOT NULL
        |GROUP BY ROLLUP (1, 2, 3, 4)""".stripMargin,
    // "+ 0.0" on the signed conversions launders DuckDB's -0.0 when a
    // value lands within 5e-5 below zero (Spark's BigDecimal round
    // never signs zero; the driver hashes raw values)
    "q_conversions" ->
      """SELECT event_id,
        | round(CASE WHEN value > 100 THEN value - 273.15 ELSE value END, 4)
        |   + 0.0 AS kelvin_to_c,
        | round(CASE WHEN value / 100 < 1 THEN (value / 100) * 1000
        |       ELSE value / 100 END, 4) + 0.0 AS meters_to_mm,
        | round((value - 32) * 5 / 9, 4) + 0.0 AS f_to_c,
        | round(value * 9 / 5 + 32, 4) + 0.0 AS c_to_f,
        | round(CASE WHEN value IS NOT NULL AND value > 0
        |        THEN least(value, 100.0) ELSE value END, 4) + 0.0
        |   AS capped
        |FROM events""".stripMargin,
    "q_display_envelope" ->
      """SELECT CAST(round(temp_f_raw) AS BIGINT) AS temp_f,
        | CAST(round(temp_f_raw + 8) AS BIGINT) AS temp_high,
        | CAST(round(temp_f_raw - 8) AS BIGINT) AS temp_low,
        | CAST(round(total_sum) AS BIGINT) AS total_display,
        | period_months
        |FROM (
        |  SELECT (sum(CASE WHEN avg_value IS NOT NULL AND avg_value <> 0
        |           THEN avg_value END) / count(*)) * 9 / 5 + 32
        |     AS temp_f_raw,
        |   CAST(sum(CAST(sum_hourly_max AS DECIMAL(18,6))) AS DOUBLE)
        |     AS total_sum,
        |   count(*) AS period_months
        |  FROM (
        |    SELECT year(date) AS yr, month(date) AS mon,
        |     avg(avg_value) AS avg_value,
        |     sum(sum_hourly_max) AS sum_hourly_max
        |    FROM (
        |      SELECT date, avg(avg_value) AS avg_value,
        |       sum(max_value) AS sum_hourly_max
        |      FROM (
        |        SELECT CAST(ts AS DATE) AS date, hour(ts) AS hr,
        |         avg(value) AS avg_value, max(value) AS max_value
        |        FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |      GROUP BY date)
        |    GROUP BY 1, 2
        |    ORDER BY yr DESC, mon DESC LIMIT 13))""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
        |   AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |   AS DOUBLE) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_extendedprice), 4) AS avg_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin
  )
}
