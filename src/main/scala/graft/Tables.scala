package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-table catalog: registers the driver-generated parquet tables
  * (TESTDATA.md) as temp views so queries can be expressed in Spark SQL
  * with the same table names the DuckDB oracle sees.
  *
  * Scale note: at 100 TB these would be catalog tables partitioned on
  * their natural keys; temp-view registration here is metadata-only
  * (one parquet footer read per table) and does not materialize data.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Loading a table also installs [[graft.plans.ScanRebalanceRule]]
    * (idempotent): a plan-aware optimizer rule that repartitions
    * split-starved parquet scans — but only under expensive per-row
    * work, so scan-bound sketch/aggregate plans keep map-side combine.
    * See ScanRebalance.scala for the full design rationale. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.plans.ScanRebalance.install(spark)
    loadRaw(spark, dir, name)
  }

  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects. Read it as raw nanos (legacy long mode)
    * and floor-convert to a microsecond TimestampType column — matching
    * what the DuckDB oracle sees after `CAST(ts AS TIMESTAMP)`. */
  private def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // scope the legacy-nanos flag to this read: leaking it session-wide
      // would make OTHER tables' nanos columns arrive silently as longs
      val key = "spark.sql.legacy.parquet.nanosAsLong"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try {
        val raw = spark.read.parquet(path(dir, name))
        // (read is lazy, but the schema — where the flag matters — is
        // resolved eagerly by spark.read.parquet)
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000)"))
        else raw
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    } else spark.read.parquet(path(dir, name))
  }

  private val lastDir =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every table that exists in `dir` as a temp view. Skipped
    * when this session's views already point at `dir` (temp views are
    * session-global, so only the LAST dir registered counts) — repeated
    * query invocations then skip the ten footer reads + view creations.
    * The memo is set only once every view registered: a load that throws
    * leaves it cleared, so the next call retries instead of serving a
    * mix of views from `dir` and the previous dir. */
  def register(spark: SparkSession, dir: String): Unit =
    if (lastDir.get(spark) != dir) {
      lastDir.remove(spark)
      names.foreach { n =>
        if (new java.io.File(path(dir, n)).exists())
          load(spark, dir, n).createOrReplaceTempView(n)
      }
      lastDir.put(spark, dir)
    }

  /** Lift a SQL string into the driver's query signature. */
  def sql(q: String): (SparkSession, String) => DataFrame =
    (spark, dir) => { register(spark, dir); spark.sql(q) }
}
