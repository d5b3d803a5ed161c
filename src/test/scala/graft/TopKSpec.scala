package graft

import graft.relational.TopK
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Grouped top-k heap aggregate: equality with the window spelling,
  * heap correctness under random fire, and the plan shape that makes
  * it the 100 TB choice (partial ObjectHashAggregate, no Window, no
  * full-data exchange). */
class TopKSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark
  import GraftSpark._

  test("topk_grouped equals the window spelling on the test tables") {
    Tables.register(spark, sf)
    val agg = TopK.grouped(spark, sf).collect()
    val win = spark.sql(TopK.windowSql).collect()
    assert(agg.nonEmpty && agg.toSeq == win.toSeq)
  }

  test("heap matches sort-take on random data incl. ties and n < k") {
    val rnd = new Random(42)
    import spark.implicits._
    // heavy ties (values drawn from 10 distinct doubles) force the
    // id tie-break path; group 'tiny' has fewer rows than k
    val rows = (1 to 5000).map { i =>
      val g = if (i % 997 == 0) "tiny" else s"g${i % 7}"
      (g, rnd.nextInt(10) * 1.5, i.toLong)
    }
    val df = rows.toDF("g", "v", "id").repartition(13)
    val topk = udaf(new TopK.GroupedTopK(TopK.K),
      Encoders.product[TopK.TopKIn])
    val got = df.groupBy("g").agg(topk(col("v"), col("id")).as("t"))
      .selectExpr("g", "inline(zip_with(t.vs, t.ids, (v, i) -> struct(v, i)))")
      .as[(String, Double, Long)].collect().toSet
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.map(r => (g, r._2, r._3))
        .sortBy { case (_, v, id) => (-v, id) }.take(TopK.K)
    }.toSet
    assert(got == want)
  }

  test("plan: partial heap aggregate, no Window, no per-group sort") {
    Tables.register(spark, sf)
    val plan = TopK.grouped(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_groupedtopk") ||
      plan.toLowerCase.contains("partial"), plan.take(2000))
    assert(!plan.contains("Window"), "window operator must not appear")
  }
}
