package graft.perf

import graft.Perf
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks, at tiny sizes: generators are seeded,
  * every workload emits every declared metric with its unit and sample
  * count, a perturbed expectation is caught, and the traced span tree
  * nests.
  */
class PerfSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = {
    new java.io.File(System.getProperty("java.io.tmpdir")).mkdirs()
    java.nio.file.Files.createTempDirectory("perfspec").toFile.getAbsolutePath
  }
  private lazy val spark: SparkSession = Perf.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Util.deleteTree(new java.io.File(work))
  }

  private def ctx(workload: String, seed: Long = 7L) =
    Ctx(spark, workload, seed, seconds = 0.1, trace = true,
      work = s"$work/$workload-$seed")

  /** Every declared metric is in the result lines; the workload's own
    * ones have a unit, a sample count and a value.
    */
  private def assertDeclared(raw: Outcome): Outcome = {
    val out = Perf.withLayersNotRun(raw)
    val byName = out.metrics.map(m => m.name -> m).toMap
    val own = Perf.EndToEnd ++
      (Perf.SparkLayers ++ Perf.LayersOf(out.workload)).map(_._1)
    (Perf.EndToEnd ++ Perf.PerLayer).foreach { k =>
      val m = byName.getOrElse(k, fail(s"${out.workload} did not emit $k"))
      assert(m.unit.nonEmpty, s"$k: $m")
      if (own.contains(k))
        assert(m.n >= 1 && !m.value.isNaN, s"$k: $m")
    }
    assert(byName("trace.span_misfits").value == 0.0)
    Seq(Perf.EndToEnd, Perf.PerLayer).foreach { keys =>
      val line = out.json(keys)
      keys.foreach(k => assert(line.contains(s""""$k": {"value": """)))
    }
    assert(out.correct, out.checks.filterNot(_.ok).mkString("; "))
    out
  }

  test("generators: the same seed gives the same bytes, another seed others") {
    def w(seed: Long) = WeatherGen.digest(WeatherGen.batches(seed, 3, 20, 10))
    def c(seed: Long) = CorpusGen.digest(CorpusGen.docs(seed, 300))
    assert(w(1) == w(1) && w(1) != w(2))
    assert(c(1) == c(1) && c(1) != c(2))
  }

  test("weather generator: the FIXTURES §1.1 edge mix is present") {
    val fs = WeatherGen.batches(3, 3).flatMap(_.features)
    val temps = fs.flatMap(_.temperature)
    val rain = fs.flatMap(_.precipitation)
    assert(temps.exists(_ > 100) && temps.exists(t => t < 100) && temps.contains(100.0))
    assert(rain.exists(_ < 1) && rain.exists(_ > 1) && rain.contains(1.0))
    assert(fs.exists(_.temperature.isEmpty) && fs.exists(_.precipitation.isEmpty) &&
      fs.exists(_.humidity.isEmpty) && fs.exists(_.wind.isEmpty) &&
      fs.exists(_.pressure.isEmpty))
    assert(fs.exists(_.timestamp.isEmpty))
    assert(fs.flatMap(_.humidity).exists(_ > 100))
    val keyed = fs.filter(_.timestamp.isDefined).map(f => (f.station, f.timestamp))
    assert(keyed.distinct.size < keyed.size, "no duplicate features")
    assert(fs.size == 3 * (WeatherGen.Observations +
      WeatherGen.HistoryDays * WeatherGen.HistoryPerDay))
  }

  test("corpus generator: near-dups, PII and probe hits at their rates") {
    val ds = CorpusGen.docs(5, 2000)
    def rate(p: CorpusDoc => Boolean) = ds.count(p).toDouble / ds.size
    assert(math.abs(rate(_.nearDupOf.isDefined) - CorpusGen.NearDupRate) < 0.02)
    assert(math.abs(rate(_.hasPii) - CorpusGen.PiiRate) < 0.02)
    assert(rate(_.probeHit) > 0.01)
    assert(ds.filter(_.hasPii).forall(_.text.contains(" contact ")))
  }

  test("stats: the tail is the highest percentile leaving ten samples beyond") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  test("tracer: children fit inside parents; self time excludes them") {
    val tr = new Tracer
    tr.span("outer") {
      Thread.sleep(20)
      tr.span("inner")(Thread.sleep(30))
    }
    val outer = tr.named("outer").head
    val inner = tr.named("inner").head
    assert(inner.parent == outer.id && tr.misfits.isEmpty)
    assert(math.abs(tr.selfSeconds(outer) - (outer.seconds - inner.seconds)) < 1e-6)
    // an event that starts inside `inner` is clipped into it
    assert(tr.adopt("sql:x", inner.startNs + 1000, inner.endNs + 5000000L))
    val x = tr.named("sql:x").head
    assert(x.parent == inner.id && x.endNs == inner.endNs && tr.misfits.isEmpty)
  }

  test("attribution: module from the innermost program frame; stream legs " +
    "from the directories their executions write") {
    val cs = Seq("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)",
      "graft.perf.WeatherWorkload.fetch(WeatherWorkload.scala:9)",
      "graft.pipeline.Lake$.append(Lake.scala:79)",
      "graft.pipeline.Pipeline$.run(Pipeline.scala:30)").mkString("\n")
    assert(Attribution.module(cs).contains("pipeline.Lake"))
    assert(Attribution.module("graft.sources.HttpPartitionReader.next(H.scala:1)")
      .contains("sources.HttpSource"))
    assert(Attribution.module("graft.perf.Util$.noop(Ctx.scala:1)").isEmpty)
    val execs = Seq(
      SqlExec(1, 1, 0, 100, "", "root"),
      SqlExec(2, 1, 1, 2, "", "Scan parquet"),
      SqlExec(3, 1, 3, 4, "", "Insert file:/w/idx/bm25/postings_batches"),
      SqlExec(4, 1, 5, 6, "", "Insert file:/w/idx/bq/words_batches"))
    assert(Attribution.streamLegs(execs,
      Seq("/w/idx/bm25" -> "bm25", "/w/idx/bq" -> "bq")) ==
      Map(2L -> "bm25", 3L -> "bm25", 4L -> "bq"))
  }

  test("spark trace: the drain waits for every end event, then counts") {
    val st = new SparkTrace(spark)
    st.attach()
    try {
      Util.noop(spark.range(1000).selectExpr("id % 7 as k").groupBy("k").count())
      st.drain()
      val w = st.work()
      assert(w.jobs >= 1 && w.tasks >= 1 && st.sqlExecutions.nonEmpty)
    } finally st.detach()
  }

  test("weather: every declared metric, oracle checks pass, a perturbed " +
    "expectation is caught") {
    val w = new WeatherWorkload(ctx("weather"), observations = 12,
      historyPerDay = 5)
    val out = assertDeclared(w.run())
    Seq("rows_per_s", "sources.HttpSource.attempts_per_url",
      "pipeline.Scheduler.errors_swallowed")
      .foreach(k => assert(out.metrics.exists(_.name == k), k))
    assert(out.metrics.find(_.name == "pipeline.Serving.cache_hit_ratio")
      .get.value == 1.0)
    val expect = w.landed(0)
    val b = expect.last
    val dropped = b.doc.features.indexWhere(f =>
      f.timestamp.isDefined && f.temperature.isDefined)
    val perturbed = expect.updated(1, b.copy(doc = b.doc.copy(
      features = b.doc.features.patch(dropped, Nil, 1))))
    val root = new java.io.File(s"$work/weather-7/weather/ops/op0").getAbsolutePath
    assert(w.oracleChecks(root, "op 0", expect).forall(_.ok))
    assert(w.oracleChecks(root, "op 0", perturbed).exists(!_.ok))
  }

  test("index: every declared metric and every lifecycle check; a " +
    "perturbed served answer is caught") {
    val w = new IndexWorkload(ctx("index"), baseDocs = 300, vectors = 120,
      docsPerBatch = 30)
    val out = assertDeclared(w.run())
    assert(out.checks.size == IndexWorkload.Rows.size + 5)
    Attribution.LegNames.foreach(l => assert(out.metrics.exists(m =>
      m.name == s"streaming.Streams.leg.$l.jobs" && m.value > 0), l))
    val twins = IndexWorkload.Rows.map { case (r, twin, _) =>
      r -> Util.rowsHash(graft.SparkEntry.queries(twin)(spark, w.corpusDir))
    }.toMap
    assert(w.twinChecks(twins).forall(_.ok))
    val (row, h) = twins.head
    assert(w.twinChecks(twins.updated(row, h.reverse)).exists(!_.ok))
  }
}
