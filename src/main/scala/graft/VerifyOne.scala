package graft
import java.nio.file.{Files, Paths}

/** Tools-only fast loop: `runMain graft.VerifyOne <sfDir> <outDir> <q>...`
  * dumps just the named queries (plus their oracle SQL) in Verify's
  * exact format so tools/check_oracle.py can compare a subset without
  * re-running the whole suite.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.drop(2)
    val spark = Session.local(Session.cores)
    new java.io.File(outDir).mkdirs()
    if (names.exists(SparkEntry.needsPrepare)) SparkEntry.prepare(spark, sfDir)
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
