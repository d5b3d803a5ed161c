package graft

import graft.relational.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Salted join/agg: identical results to the plain operators, and the
  * heavy key's rows actually spread across partitions. */
class SkewSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark

  private lazy val skewed = {
    import spark.implicits._
    // 90% of rows share key 7; 10% spread over 100 keys
    (1 to 20000).map { i =>
      val k = if (i % 10 != 0) 7L else (i % 100).toLong
      (k, s"payload_$i")
    }.toDF("k", "payload")
  }

  private lazy val dim = {
    import spark.implicits._
    (0L to 100L).map(k => (k, s"dim_$k")).toDF("dk", "name")
  }

  test("salted join returns exactly the plain join's rows") {
    val plain = skewed.join(dim, skewed("k") === dim("dk"))
      .select("k", "payload", "name")
    val salted = Skew.saltedJoin(skewed, dim, "k", "dk", salt = 8)
      .select("k", "payload", "name")
    assert(plain.count() == 20000)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("salting spreads the heavy key across partitions") {
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
      df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
    val byKey = maxPartitionRows(skewed.repartition(8, col("k")))
    val bySalt = maxPartitionRows(
      skewed.withColumn("_salt", pmod(abs(hash(col("k"), col("payload"))), lit(8)))
        .repartition(8, col("k"), col("_salt")))
    // heavy key = 18k rows: all in one partition by key; ~2.2k+tail by salt
    assert(byKey >= 18000L, s"expected heavy partition, got $byKey")
    assert(bySalt <= byKey / 3, s"salting should spread: $bySalt vs $byKey")
  }

  test("salted count equals plain count per key") {
    val plain = skewed.groupBy("k").agg(count(lit(1)).as("n"))
    val salted = Skew.saltedCount(skewed, "k", 8)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("AQE splits the skewed partition at runtime (skew=true SMJ)") {
    // manual salting (above) is the pre-planned answer; AQE's skew-join
    // is the runtime one — the 100 TB posture is both: salt what you
    // KNOW is skewed, let AQE catch what you didn't. Thresholds lowered
    // so the 20k-row fixture's heavy key qualifies as skewed.
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = skewed.join(dim.hint("merge"), skewed("k") === dim("dk"))
        .select("k", "payload", "name")
      val n = df.count()
      assert(n == skewed.count()) // every fact row matches exactly one dim row
      val joined = skewed.join(dim.hint("merge"), skewed("k") === dim("dk"))
      joined.collect() // AQE finalizes the plan only at execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n${plan.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
