package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants of `q38_window_distribution_binned` over
  * randomized order sets — shapes the TPC-H fixture cannot produce:
  * degenerate per-priority extents (all prices equal → one bin, the
  * lo = hi division guard), single-row priorities (the GREATEST(n−1,1)
  * guard), tie-heavy distributions, and tiny corpora. Each case runs
  * the registered SQL on a real session (own temp-view catalog — the
  * CusumPropsSpec isolation lesson) and checks, against an in-Scala
  * exact model:
  *   - per-bin counts total each priority's rows; bins within [0, 64);
  *   - quartile ∈ [1, 4], pr/cd ∈ [0, 1e6], cd ≥ pr, cd of the last
  *     bin = 1e6 exactly;
  *   - the tolerance THEOREM the fixture spec only samples: for every
  *     row, |pr_binned − pr_exact| and |cd_binned − cd_exact| are
  *     bounded by that priority's largest bin share (+ integer-div
  *     slack), with pr/cd_exact from the (price, key) total order. */
class BinnedDistPropsSpec extends AnyFunSuite {

  private lazy val spark = GraftSpark.spark.newSession()

  private val genOrders: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(1, 300)
    rows <- Gen.listOfN(n, for {
      pri <- Gen.oneOf("1-URGENT", "2-HIGH")
      // cents; a narrow domain forces heavy ties and near-empty bins
      c <- Gen.frequency(
        3 -> Gen.choose(0L, 1000000L),
        1 -> Gen.choose(0L, 40L),
        1 -> Gen.const(777L))
    } yield (pri, c))
  } yield rows

  private def runCase(rows: List[(String, Long)]): Unit = {
    import spark.implicits._
    val df = rows.zipWithIndex.map { case ((pri, cents), i) =>
      (i.toLong, pri, cents / 100.0)
    }.toDF("o_orderkey", "o_orderpriority", "o_totalprice")
    df.createOrReplaceTempView("orders")
    val out = spark.sql(
      graft.relational.Relational.q38BinnedSparkSqlForTest).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // in-Scala exact model
    val byPri = rows.zipWithIndex
      .map { case ((pri, cents), i) => (pri, cents, i.toLong) }
      .groupBy(_._1)
    val extents = byPri.view.mapValues { vs =>
      (vs.map(_._2).min, vs.map(_._2).max) }.toMap
    def binOf(pri: String, c: Long): Long = {
      val (lo, hi) = extents(pri)
      (c - lo) * 64 / (hi - lo + 1)
    }
    out.foreach { case (_, bin, _, q, pr, cd) =>
      assert(bin >= 0 && bin < 64, s"bin $bin out of range")
      assert(q >= 1 && q <= 4, s"quartile $q out of range")
      assert(pr >= 0 && pr <= 1000000 && cd >= 0 && cd <= 1000000)
      assert(cd >= pr, s"cd $cd < pr $pr")
    }
    byPri.foreach { case (pri, vs) =>
      val bins = out.filter(_._1 == pri)
      assert(bins.map(_._3).sum == vs.size, s"$pri counts off")
      val last = bins.maxBy(_._2)
      assert(last._6 == 1000000L, s"$pri last-bin cd ${last._6}")
      val n = vs.size
      val maxShare = bins.map(_._3).max.toDouble / n
      // exact per-row pr/cd under the (cents, key) total order
      val sorted = vs.sortBy(v => (v._2, v._3))
      sorted.zipWithIndex.foreach { case ((_, cents, _), idx) =>
        val prE = if (n == 1) 0.0 else idx.toDouble / (n - 1)
        val cdE = (idx + 1).toDouble / n
        val b = binOf(pri, cents)
        val row = bins.find(_._2 == b)
          .getOrElse(fail(s"$pri missing bin $b"))
        val tol = maxShare + 2e-3
        assert(math.abs(row._5 / 1e6 - prE) <= tol,
          s"$pri bin $b pr ${row._5 / 1e6} vs $prE (tol $tol)")
        assert(math.abs(row._6 / 1e6 - cdE) <= tol,
          s"$pri bin $b cd ${row._6 / 1e6} vs $cdE (tol $tol)")
      }
    }
  }

  test("binned distribution invariants hold on randomized order sets") {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(genOrders) { rows => runCase(rows); true })
    assert(res.passed, res.status.toString)
  }

  test("degenerate extents: all prices equal collapse to one full bin") {
    runCase(List.fill(40)(("1-URGENT", 5000L)))
  }

  test("single-row priority exercises the n-1 guard") {
    runCase(List(("1-URGENT", 123L)))
  }
}
