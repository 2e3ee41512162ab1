package graft.perf

import java.lang.management.{ManagementFactory, MemoryType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** What a workload runs with. `seconds` is the least wall time its
  * timed window measures; whole operations are never cut short.
  */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Boolean, work: String) {
  private val t0 = System.nanoTime()

  /** Progress on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit =
    System.err.println(f"perf ${(System.nanoTime() - t0) / 1e9}%7.1fs $workload: $msg")

  def dir(name: String): String = {
    val f = new java.io.File(work, name)
    f.mkdirs()
    f.getAbsolutePath
  }
}

/** A reported number. `n` is its sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int,
    note: String = "")

/** An output check; a failed one fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

final case class Outcome(workload: String, metrics: Seq[Metric],
    attempted: Long, failed: Long, checks: Seq[Check]) {
  def correct: Boolean = checks.forall(_.ok) && failed == 0

  def report: Seq[String] =
    checks.map(c => s"check ${if (c.ok) "ok  " else "FAIL"} ${c.name}: ${c.detail}") ++
      metrics.map { m =>
        val v = if (m.value.isNaN) "n/a" else m.value.toString
        s"metric $workload.${m.name} = $v ${m.unit} (n=${m.n})" +
          (if (m.note.nonEmpty) s" [${m.note}]" else "")
      } ++ Seq(s"attempted $attempted failed $failed " +
        s"fail_ratio ${if (attempted > 0) failed.toDouble / attempted else 0.0}")

  /** The result line: exactly the metrics named in `keys`. */
  def json(keys: Seq[String]): String = {
    val byName = metrics.map(m => m.name -> m).toMap
    val ms = keys.map { k =>
      val m = byName.getOrElse(k,
        throw new IllegalStateException(s"$workload did not measure $k"))
      s""""$k": {"value": ${if (m.value.isNaN) "null" else m.value.toString}, "unit": "${m.unit}"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Util {
  /** Materialize a frame without collecting it (`.count()` would let
    * the optimizer prune the work).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Order-independent fingerprint of a result. */
  def rowsHash(df: DataFrame): String =
    Gen.sha256(df.collect().map(_.toString).sorted.iterator.map(_ + "\n"))

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since [[resetHeapPeak]], in MB. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def copyTree(from: java.io.File, to: java.io.File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      from.listFiles().foreach(c => copyTree(c, new java.io.File(to, c.getName)))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  /** Names of the `batch=<id>` directories directly under `path`. */
  def batchDirs(path: String): Seq[String] =
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("batch=")).sorted
}
