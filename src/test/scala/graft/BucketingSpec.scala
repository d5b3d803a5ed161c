package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale strategy pin: bucketed tables make repeated fact-dimension
  * joins exchange-free (co-located by join key at write time) — the
  * standard 100 TB layout for tables joined on the same key every query.
  * This spec documents and verifies the mechanism end-to-end on the test
  * corpus: bucketed orders ⋈ customer plans with ZERO shuffle exchanges,
  * while the unbucketed join needs them. */
class BucketingSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark

  test("bucketed join on the bucket key plans without shuffle exchanges") {
    val sf = GraftSpark.sf
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try bucketedJoinCheck(sf)
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  private def bucketedJoinCheck(sf: String): Unit = {
    import org.apache.spark.sql.functions._
    val orders = Tables.load(spark, sf, "orders")
    val customer = Tables.load(spark, sf, "customer")

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    // in-memory catalog forgets tables between sessions but leaves the
    // managed locations behind — clear them
    Seq("orders_b", "customer_b").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    orders.write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    customer.write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")

    // AQE wraps the plan in AdaptiveSparkPlanExec; execute first, then
    // count exchanges in the finalized plan
    def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    }

    val bucketed = spark.table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")
    val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name")

    assert(shuffles(plain) >= 2, "unbucketed SMJ should exchange both sides")
    assert(shuffles(bucketed) == 0,
      s"bucketed join should be exchange-free:\n${bucketed.queryExecution.executedPlan}")
    // and of course the same answer
    assert(bucketed.count() == plain.count())
  }

  test("layout_bucketed_join: SMJ over standing buckets, one exchange total") {
    Tables.register(spark, GraftSpark.sf)
    val df = graft.layout.Layout.bucketedJoin(spark, GraftSpark.sf)
    val rows = df.collect()
    // AQE's toString prints Final AND Initial plans — keep the final only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    // the ONLY hash exchange is the 5-group aggregate above the join;
    // both join inputs read pre-bucketed (the layout's whole point).
    // (orderBy adds a rangepartitioning exchange; that's the output
    // sort, not join machinery.)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1, s"want 1 hash exchange (agg only), got $hashExchanges:\n$plan")
    // equality vs the plain unbucketed spelling
    val plain = spark.sql(
      """SELECT o_orderpriority AS priority, COUNT(*) AS n,
        |       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
        |           AS BIGINT)) AS revenue_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(rows.toSeq == plain.toSeq)
    assert(rows.nonEmpty)
  }

  test("dpp join: fact scan carries a dynamic partition filter") {
    val sf = GraftSpark.sf
    val df = layout.Layout.dppJoin(spark, sf)
    val rows = df.collect()
    assert(rows.length == 3, rows.mkString("; "))
    // the partitioned fact scan must be pruned by a DYNAMIC filter fed
    // from the broadcast dim — not a static literal list, not a full scan
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in plan:\n${plan.take(3000)}")
    // and the pruning actually cut the scan: of the many day partitions
    // in the standing layout, only the dim's 3 days are read
    val dirs = new java.io.File(layout.Layout.partitionedEvents(spark, sf))
      .listFiles().count(f => f.isDirectory && f.getName.startsWith("d="))
    assert(dirs > 3, s"layout must have many day partitions, got $dirs")
    // unwrap AQE stages to reach the physical scans
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numPartitions").map(_.value))
    assert(scanned.contains(3L),
      s"fact scan should read exactly 3 partitions, metrics: $scanned")
  }
}
