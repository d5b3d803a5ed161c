package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session shape every main (and the test session) runs under —
  * `local[cpus]`, shuffle partitions = cpus, AQE on, UTC, UI off, WARN
  * logging — plus the `noop`-sink timing the bench mains share.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds to build `df` and fully execute it through the `noop`
    * sink (a `count()` would let Catalyst skip projection work). `df` is
    * by-name, so the time includes building it — for a registered query,
    * any jobs its function fires eagerly. */
  def timeNoop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Block until every queued listener event has been delivered, so a
    * listener's state can be read deterministically. `listenerBus` is
    * private[spark] (public in bytecode), hence the reflection. */
  def drainListeners(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass
      .getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
