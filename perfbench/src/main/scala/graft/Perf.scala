package graft

import graft.perf._
import org.apache.spark.sql.SparkSession

/** End-to-end benchmark beside [[Bench]] (which it leaves alone):
  * drives the weather pipeline and the index layer (the curation
  * stream and the served rows) through their public entry points on
  * `local[4]`, one closed-loop client, and prints every metric by name
  * with its unit and sample count. The last stdout line is one JSON
  * object: `correct`, `attempted`, `failed` and the end-to-end metrics
  * (`--trace 0`) or the per-layer metrics (`--trace 1`).
  *
  * Usage: `graft.Perf --workload weather|index --seed N --seconds S
  * --trace 0|1 --work DIR` — `python3 perfbench/run.py` builds the
  * classpath and fills in `--work`. Each window runs at least `seconds`
  * and at least a workload's minimum operation count.
  */
object Perf {
  val Cores = 4

  /** The end-to-end metrics BENCHMARK.json declares, in its order. The
    * fresh time of a weather batch runs from fetch start to cache
    * written, of an index micro-batch from landing to commit; a read
    * is one dashboard read or one served-row call.
    */
  val EndToEnd: Seq[String] = Seq("setup_s", "fresh_p50_s", "read_p50_s")

  val SparkLayers: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.sql_executions" -> "count",
    "spark.planning_s" -> "s", "spark.exec_run_s" -> "s",
    "spark.exec_cpu_s" -> "s", "spark.driver_share" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** The per-layer metrics each workload measures, beside the `spark.*`
    * ones both do.
    */
  val LayersOf: Map[String, Seq[(String, String)]] = Map(
    "weather" -> (Seq("sources.HttpSource.fetch_s" -> "s") ++
      Seq("pipeline.Lake", "pipeline.Warehouse").flatMap(m => Seq(
        s"$m.self_s" -> "s", s"$m.rows_written" -> "count",
        s"$m.files_written" -> "count")) ++
      Seq("pipeline.Serving.self_s" -> "s",
        "pipeline.Serving.cache_hit_ratio" -> "ratio",
        "pipeline.Scheduler.tick_s" -> "s")),
    "index" -> (
      Seq("add_batch_s", "query_planning_s", "wal_commit_s", "trigger_s")
        .map(m => s"streaming.Streams.$m" -> "s") ++
      Attribution.LegNames.flatMap(l => Seq(
        s"streaming.Streams.leg.$l.self_s" -> "s",
        s"streaming.Streams.leg.$l.jobs" -> "count")) ++
      IndexWorkload.BuildSteps.map(b => s"operators.build.$b.s" -> "s") ++
      IndexWorkload.MaintSteps.map(m => s"operators.maint.$m.s" -> "s") ++
      IndexWorkload.Rows.map(_._3).distinct.sorted.flatMap(f => Seq(
        s"registry.serve.$f.p50_s" -> "s",
        s"registry.serve.$f.jobs_per_call" -> "count"))))

  /** The per-layer metrics BENCHMARK.json declares, in its order. */
  val PerLayer: Seq[String] =
    (SparkLayers ++ LayersOf("weather") ++ LayersOf("index")).map(_._1)

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "weather" -> (ctx => new WeatherWorkload(ctx).run()),
    "index" -> (ctx => new IndexWorkload(ctx).run()))

  /** An outcome with zeros for the layers of the other workloads. */
  def withLayersNotRun(out: Outcome): Outcome =
    out.copy(metrics = out.metrics ++ Layers.notRun(out.workload,
      LayersOf.toSeq.filter(_._1 != out.workload).flatMap(_._2)))

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perf")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; " +
        s"known: ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val work = new java.io.File(need("work")).getAbsolutePath
    val spark = session(work)
    val ctx = Ctx(spark, workload, need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", work)
    val out =
      try withLayersNotRun(run(ctx))
      finally spark.stop()
    ctx.log("stopped")
    out.report.foreach(println)
    println(out.json(if (ctx.trace) PerLayer else EndToEnd))
    if (!out.correct) sys.exit(1)
  }
}
