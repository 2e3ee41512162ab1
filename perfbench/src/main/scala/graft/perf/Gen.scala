package graft.perf

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Seeded input generators. They run before any timed window, and the
  * program only ever sees what they produce (HTTP bodies, parquet
  * files). The same seed yields the same bytes; see [[WeatherGen.digest]]
  * and [[CorpusGen.digest]].
  */
object Gen {
  def sha256(chunks: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    chunks.foreach(c => md.update(c.getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  def jsonNum(v: Option[Double]): String = v.fold("null")(_.toString)
}

/** One observation feature as generated (the oracle's view of it). */
final case class Feature(station: String, timestamp: Option[String],
    tsMonth: Option[(Int, Int)], temperature: Option[Double],
    precipitation: Option[Double], humidity: Option[Double],
    wind: Option[Double], pressure: Option[Double]) {
  def json: String = {
    def q(v: Option[Double]) = s"""{"value":${Gen.jsonNum(v)}}"""
    s"""{"properties":{"timestamp":${timestamp.fold("null")(Gen.jsonString)},""" +
      s""""station":${Gen.jsonString(s"https://api.weather.gov/stations/$station")},""" +
      s""""temperature":${q(temperature)},""" +
      s""""precipitationLastHour":${q(precipitation)},""" +
      s""""relativeHumidity":${q(humidity)},""" +
      s""""windSpeed":${q(wind)},"seaLevelPressure":${q(pressure)}}}"""
  }
}

/** The one station document a batch fetches. */
final case class StationDoc(station: String, features: IndexedSeq[Feature],
    json: String)

/** One batch: the document of the station that answers the fetch,
  * whose first request is answered with a 503.
  */
final case class WeatherBatch(index: Int, batchId: String, doc: StationDoc) {
  def features: IndexedSeq[Feature] = doc.features
}

/** Weather station documents in the shape of the reference fetcher's
  * (SURVEY §6): per batch one raw document of the first station that
  * answers, with up to 100 recent observations (the `limit` default)
  * and a 7-day history of up to 1000 rows a day (the day-chunk size).
  * The features carry the FIXTURES §1.1 edge mix: Kelvin and Celsius
  * temperatures (with the 100 boundary), precipitation in metres and
  * millimetres (with the 1 boundary), nulls in every quantity,
  * features without a timestamp, humidity above 100, and recent
  * observations that reappear in the history. The reference gives no
  * failure rate; every batch's URL answers its first request with a
  * 503, so each fetch pays one retry.
  */
object WeatherGen {
  val Observations = 100
  val HistoryDays = 7
  val HistoryPerDay = 1000
  /** The reference's candidate stations, tried in order. */
  val Stations: IndexedSeq[String] = IndexedSeq("KSCK", "KMOD", "KSAC")

  def batches(seed: Long, nBatches: Int, observations: Int = Observations,
      historyPerDay: Int = HistoryPerDay): IndexedSeq[WeatherBatch] =
    (0 until nBatches).map { b =>
      val rnd = new scala.util.Random(seed * 1000003L + b)
      val batchId = s"batch_${seed}_$b"
      val st = Stations(rnd.nextInt(Stations.size))
      val obs = (0 until observations).map(_ => feature(rnd, st))
      // recent observations reappear in the history (duplicate features)
      val nDup = math.max(1, observations / 20)
      val hist = (0 until HistoryDays * historyPerDay - nDup)
        .map(_ => feature(rnd, st)) ++
        (0 until nDup).map(_ => obs(rnd.nextInt(obs.size)))
      WeatherBatch(b, batchId,
        StationDoc(st, obs ++ hist, docJson(rnd, seed, b, st, obs, hist)))
    }

  private def pick[A](rnd: scala.util.Random, xs: (Double, () => A)*): A = {
    val u = rnd.nextDouble()
    var acc = 0.0
    xs.find { case (p, _) => acc += p; u < acc }.getOrElse(xs.last)._2()
  }

  private def round2(x: Double): Double = math.rint(x * 100) / 100

  private def feature(rnd: scala.util.Random, station: String): Feature = {
    // the last ten days before the fetch (2026-08-25 to 2026-09-03),
    // minute resolution, UTC: one station's recent observations
    val k = rnd.nextInt(10)
    val (month, day) = if (k < 7) (8, 25 + k) else (9, k - 6)
    val ts =
      if (rnd.nextDouble() < 0.03) None
      else Some(f"2026-$month%02d-$day%02dT${rnd.nextInt(24)}%02d:" +
        f"${rnd.nextInt(60)}%02d:00+00:00")
    val temp = pick[Option[Double]](rnd,
      0.05 -> (() => None),
      0.02 -> (() => Some(100.0)),
      0.48 -> (() => Some(round2(283.0 + rnd.nextDouble() * 30))),
      0.45 -> (() => Some(round2(5.0 + rnd.nextDouble() * 35))))
    val precip = pick[Option[Double]](rnd,
      0.10 -> (() => None),
      0.03 -> (() => Some(1.0)),
      0.57 -> (() => Some(math.rint(rnd.nextDouble() * 9000) / 10000.0)),
      0.30 -> (() => Some(round2(1.0 + rnd.nextDouble() * 20))))
    val hum = pick[Option[Double]](rnd,
      0.05 -> (() => None),
      0.05 -> (() => Some(round2(100.0 + rnd.nextDouble() * 10))),
      0.90 -> (() => Some(round2(10.0 + rnd.nextDouble() * 85))))
    val wind =
      if (rnd.nextDouble() < 0.05) None else Some(round2(rnd.nextDouble() * 15))
    val pres =
      if (rnd.nextDouble() < 0.05) None
      else Some(round2(99000 + rnd.nextDouble() * 4000))
    Feature(station, ts, ts.map(_ => (2026, month)), temp, precip, hum,
      wind, pres)
  }

  private def docJson(rnd: scala.util.Random, seed: Long, b: Int,
      station: String, obs: IndexedSeq[Feature],
      hist: IndexedSeq[Feature]): String = {
    val periods = (1 to 9).map { p =>
      s"""{"name":"Period $p","temperature":${60 + rnd.nextInt(45)}.0}"""
    }.mkString(",")
    val reqId = s"req_${seed}_${b}_$station"
    s"""{"source_timestamp":"2026-09-01T00:00:00Z",""" +
      s""""source_database":"NWS_API","data_quality":"raw",""" +
      s""""api_request_id":"$reqId","etl_batch_id":"batch_${seed}_$b",""" +
      s""""location":{"city":"Stockton","state":"CA","latitude":37.9577,""" +
      s""""longitude":-121.2908,"grid_point":{"office":"STO",""" +
      s""""grid_x":40,"grid_y":60}},""" +
      s""""forecast":{"properties":{"periods":[$periods]}},""" +
      s""""hourly_forecast":null,""" +
      s""""observations":[${obs.map(_.json).mkString(",")}],""" +
      s""""historical_observations":[${hist.map(_.json).mkString(",")}],""" +
      s""""stations":[${Stations.map(Gen.jsonString).mkString(",")}],""" +
      s""""sync_type":"full",""" +
      s""""metadata":{"team_name":"Team Supra","data_source":"NWS_API",""" +
      s""""sync_type":"full"}}"""
  }

  /** Fingerprint of everything the program would be served. */
  def digest(bs: Seq[WeatherBatch]): String =
    Gen.sha256(bs.iterator.map(_.doc.json))
}

/** One generated document, with what the generator put into it. */
final case class CorpusDoc(docId: Long, text: String, lang: String,
    source: String, embedding: Array[Float], nearDupOf: Option[Long],
    hasPii: Boolean, probeHit: Boolean)

/** A curation corpus in the shape of the sf0.1 `documents` and
  * `embeddings` tables: 10-100 words drawn uniformly from their
  * 30-word vocabulary, 41% of documents in `en` and the rest spread
  * over four other languages, 20 sources, 64-d embeddings in [-1, 1];
  * with fixed rates of near duplicates (a copy of a recent document
  * with one word changed and the same embedding), PII (an e-mail
  * address or a phone number appended) and contamination (one of the
  * probe 13-grams inserted).
  */
object CorpusGen {
  val NearDupRate = 0.05
  val PiiRate = 0.06
  val ProbeRate = 0.03
  val Dim = 64
  val ProbeLen = 13

  /** The sf0.1 `documents` vocabulary. */
  val Vocab: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash",
    "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Langs = Seq("de", "es", "fr", "zh")

  val Probes = 4

  def probes(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    (0 until Probes).map(_ =>
      Seq.fill(ProbeLen)(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
  }

  def docs(seed: Long, n: Int): IndexedSeq[CorpusDoc] = {
    val rnd = new scala.util.Random(seed)
    val ps = probes(seed).map(_.split(" ").toIndexedSeq)
    val out = new scala.collection.mutable.ArrayBuffer[CorpusDoc](n)
    (0 until n).foreach { i =>
      val near = if (i > 0 && rnd.nextDouble() < NearDupRate)
        Some(out(math.max(0, i - 1 - rnd.nextInt(math.min(i, 50))))) else None
      val words0: IndexedSeq[String] = near match {
        case Some(src) =>
          val w = src.text.split(" ").takeWhile(_ != "contact").toIndexedSeq
          w.updated(rnd.nextInt(w.size), Vocab(rnd.nextInt(Vocab.size)))
        case None =>
          IndexedSeq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size)))
      }
      val probe = rnd.nextDouble() < ProbeRate
      val words =
        if (!probe) words0
        else {
          val at = rnd.nextInt(words0.size + 1)
          words0.take(at) ++ ps(rnd.nextInt(ps.size)) ++ words0.drop(at)
        }
      val pii = rnd.nextDouble() < PiiRate
      // contacts come from a small pool, as boilerplate footers do
      val tail =
        if (!pii) ""
        else if (rnd.nextBoolean()) s" contact user${rnd.nextInt(10)}@mail.example.com"
        else f" contact 555-010-${rnd.nextInt(10)}%04d"
      val emb = near.map(_.embedding).getOrElse(
        Array.fill(Dim)((rnd.nextInt(2000001) - 1000000) / 1e6f))
      val text = words.mkString(" ") + tail
      val hit = ps.exists(p => words.indexOfSlice(p) >= 0)
      val lang = if (rnd.nextDouble() < 0.41) "en" else Langs(rnd.nextInt(Langs.size))
      out += CorpusDoc(i.toLong, text, lang,
        s"src${rnd.nextInt(20)}", emb, near.map(_.docId), pii, hit)
    }
    out.toIndexedSeq
  }

  /** The program's `documents` table of `ds`, and its `embeddings`
    * table of the first `vectors` of them (vec_id = doc_id).
    */
  def writeTables(spark: org.apache.spark.sql.SparkSession,
      ds: Seq[CorpusDoc], vectors: Int, dir: String): Unit = {
    import spark.implicits._
    ds.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ds.take(vectors).map(d => (d.docId, d.embedding.toSeq, (d.docId % 10).toInt))
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def digest(ds: Seq[CorpusDoc]): String =
    Gen.sha256(ds.iterator.map(d =>
      s"${d.docId}\t${d.text}\t${d.lang}\t${d.source}\t" +
        d.embedding.mkString(",") + "\n"))
}
