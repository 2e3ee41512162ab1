package graft

/** Golden-oracle generator (tools-only): prints a registered query's
  * rows as `(v, v, ...)` VALUES tuples for pinning into a registry
  * golden (the pattern behind q_simhash_pairs / q_ann_lsh /
  * q_lang_id_confusion). Usage:
  * `runMain graft.GoldenDump <query> [sfDir]` — sorted row order, SQL
  * literal quoting for strings. The output is a STARTING POINT: the
  * author still chooses column casts in the VALUES wrapper.
  */
object GoldenDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = Session.local(4)
    if (name.endsWith("_served")) SparkEntry.prepare(spark, dir)
    val df = SparkEntry.queries(name)(spark, dir)
    println(df.schema.treeString)
    val rows = df.collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case null => "NULL"
          case s: String => "'" + s.replace("'", "''") + "'"
          case v => v.toString
        }
      }.mkString("(", ",", ")")
    }.sorted
    println(rows.mkString(",\n"))
    println(s"-- ${rows.length} rows")
    spark.stop()
  }
}
