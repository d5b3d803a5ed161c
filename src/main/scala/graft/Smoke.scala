package graft

/** Dev-only smoke: print every test table's Spark-side schema + a row. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    if (args.contains("registry")) {
      val q = SparkEntry.queries.keySet
      val o = SparkEntry.oracleSql.keySet
      println(s"== registry queries=${q.size} oracles=${o.size} " +
        s"rows_only=${(q -- o).toSeq.sorted.mkString(",")}")
      val orphans = o -- q
      require(orphans.isEmpty, s"oracles without queries: $orphans")
      return
    }
    val spark = Harness.session(Harness.cpus)
    if (args.contains("entry"))
      println(s"== entry rows=${SparkEntry.entry(spark).count()}")
    else Tables.names.foreach { n =>
      try {
        val df = Tables.load(spark, dir, n)
        println(s"== $n: ${df.schema.simpleString}")
        df.show(2, truncate = 60)
      } catch {
        case scala.util.control.NonFatal(e) => println(s"== $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
