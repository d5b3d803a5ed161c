package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs: the [[Harness]] shape at 4 cores. */
object GraftSpark {
  val cpus: Int = 4
  lazy val spark: SparkSession = Harness.session(cpus)
  val sf: String = "/root/testdata/sf0.001"
}
