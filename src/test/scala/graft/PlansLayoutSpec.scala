package graft

import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Storage-layout tests. */
class PlansLayoutSpec extends SparkSuite {

  test("bucketed tables join without a shuffle exchange") {
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a previous JVM may have left the managed location behind with a
      // fresh in-memory catalog that no longer knows the table
      val loc = java.nio.file.Paths.get(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Layout.writeBucketed(
      Tables.orders(spark, sf()).select("o_orderkey", "o_totalprice"),
      "orders_b", "o_orderkey", 4)
    Layout.writeBucketed(
      Tables.lineitem(spark, sf())
        .select("l_orderkey", "l_quantity")
        .withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", 4)
    val joined = Layout.bucketedJoin(spark, "lineitem_b", "orders_b",
      "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    // correctness: equals the plain join
    val expected = Tables.lineitem(spark, sf()).join(
      Tables.orders(spark, sf()),
      col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() === expected)
  }

  test("q_bucketed_join_served: fact-fact join plans with zero fact " +
    "exchanges and matches the plain-join rollup") {
    val root = graft.registry.TextQueries.indexRoot(sf())
    graft.operators.Relational.prepareBucketed(spark, sf(),
      s"$root/bucketed")
    val q = graft.operators.Relational.bucketedRevenue(spark)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
      !plan.contains("Exchange hashpartitioning(l_orderkey"),
      s"bucketed fact join still shuffles a fact side:\n$plan")
    val plain = Tables.orders(spark, sf())
      .join(Tables.lineitem(spark, sf()),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(graft.functions.Fns.dsum(
        col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
    assert(q.collect().map(_.toSeq).toSet ===
      plain.collect().map(_.toSeq).toSet)
  }

  test("partitioned+sorted layout prunes partitions in the plan") {
    val root = tmpDir("graft_layout")
    val ev = Tables.events(spark, sf())
      .withColumn("date", to_date(col("ts_event")))
      .select("event_id", "date", "value")
    Layout.writePartitionedSorted(ev, s"$root/events", "date",
      Seq("event_id"))
    val pruned = spark.read.parquet(s"$root/events")
      .filter(col("date") === "2024-01-05")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    // partition filter present on the scan (pruning, not a data filter)
    assert(scan.contains("PartitionFilters"))
  }

  test("z-ordered layout: zValue interleaves bits, rectangle bounds " +
      "reach the scan as PushedFilters on BOTH columns, result is " +
      "layout-independent") {
    // 0b101 ⨉ 0b011 → a bits at even positions, b bits at odd:
    // a=5 (101), b=3 (011) → z = 1·1 + 1·2 + 0·4 + 1·8 + 1·16 + 0·32 = 27
    val z = spark.range(1)
      .select(Layout.zValue(lit(5), lit(3), 3)).head().getLong(0)
    assert(z === 27L)
    val root = tmpDir("graft_zorder")
    Layout.writeZordered(Tables.lineitem(spark, sf()),
      s"$root/li_z", "l_orderkey", "l_partkey", partitions = 4)
    // the scan metadata string truncates at 100 chars by default,
    // which hides the second pushed bound from the assertion
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val q = graft.operators.Relational.zorderRectangle(
      spark, s"$root/li_z", sf())
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(l_orderkey") &&
      scan.contains("GreaterThanOrEqual(l_partkey"),
      s"rectangle bounds not pushed:\n$scan")
    // same answer as the raw-layout scan
    val raw = Tables.lineitem(spark, sf())
    val st = raw.agg(min(col("l_orderkey")), max(col("l_orderkey")),
      min(col("l_partkey")), max(col("l_partkey"))).head()
    val (loO, hiO, loP, hiP) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val expected = raw.where(
      col("l_orderkey").between(loO + (hiO - loO) / 4,
        loO + (hiO - loO) / 2) &&
        col("l_partkey").between(loP + (hiP - loP) / 4,
          loP + (hiP - loP) / 2)).count()
    assert(q.head().getLong(0) === expected)
  }
}
