package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session shape every main and spec runs under, and the
  * `noop`-sink timing the bench mains share. */
class HarnessSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark

  test("session shape: shuffle partitions = cpus, UTC, AQE on, UI off") {
    assert(spark.sparkContext.master == s"local[${GraftSpark.cpus}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("timeNoop executes the frame as exactly one job") {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(1 to 8, 4).toDF("x")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // earlier specs' queued events must not reach the new listener
    Harness.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val sec = Harness.timeNoop(df)
      Harness.drainListeners(spark)
      assert(jobs.get == 1)
      assert(sec > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
