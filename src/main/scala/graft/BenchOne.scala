package graft

/** Single-query timer (tools-only): `runMain graft.BenchOne <query>...`
  * runs each named query 3× at sf0.1 on `SPARK_GRAFT_CPUS` cores
  * (default 4) and prints wall times — first run shows plan/codegen
  * cost, later runs steady state.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cores)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark.read.parquet(s"$d/region.parquet").count() // warm
    if (args.exists(_.endsWith("_served"))) SparkEntry.prepare(spark, d)
    args.foreach { q =>
      (1 to 3).foreach { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, d).count()
        println(f"$q: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
