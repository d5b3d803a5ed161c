package graft

import graft.load.{Composite, Fuse, PixelFold, Trend}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants of the per-pixel OLS trend fold: the
  * mergeability claim (any partition of the observations into partial
  * buffers merges to the single-pass result BIT-FOR-BIT on integer
  * inputs), exact recovery of noiseless linear series, the
  * minimum-observations / zero-variance guards, and the Theil–Sen
  * rechunk sibling. */
class TrendPropsSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    check(Prop.forAll(ga) { a => f(a); true })

  /** Reduced case count for properties whose every case runs real
    * Spark jobs (the driver-local properties keep the full 100). */
  private def forAllN[A](n: Int, ga: Gen[A])(f: A => Unit): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n),
      Prop.forAll(ga) { a => f(a); true })
    assert(res.passed, res.status.toString)
  }

  /** Run the fold over one single-pixel plane per (t, v), with the
    * observation list split into `cuts` partial buffers that are then
    * merged — cuts = Nil means one buffer (the reference). */
  private def fit(obs: Seq[(Double, Double)], cuts: Seq[Int] = Nil)
      : (Double, Double, Int) = {
    val agg = new Trend.PixelTrend
    val groups =
      if (cuts.isEmpty) Seq(obs)
      else {
        val bounds = (0 +: cuts.sorted :+ obs.length).distinct
        bounds.zip(bounds.tail).map { case (a, b) => obs.slice(a, b) }
      }
    val bufs = groups.map { g =>
      g.foldLeft(agg.zero) { case (b, (t, v)) =>
        agg.reduce(b, PixelFold.In(t, Fuse.encode(Array(v), "float64"),
          "float64", Double.NaN, 1, 1))
      }
    }
    val out = agg.finish(bufs.reduce(agg.merge))
    if (out.slope.isEmpty) (Double.NaN, Double.NaN, 0)
    else (out.slope(0), out.icept(0), out.count(0))
  }

  test("any partition of observations merges to the one-pass result") {
    val gen = for {
      n <- Gen.choose(2, 24)
      vs <- Gen.listOfN(n, Gen.choose(0, 4000))
      nCuts <- Gen.choose(0, 4)
      cuts <- Gen.listOfN(nCuts, Gen.choose(1, math.max(1, n - 1)))
    } yield (vs.map(_.toDouble), cuts)
    forAll(gen) { case (vs, cuts) =>
      // integer days + integer values: sums are order-exact, so the
      // merged fit must equal the single-buffer fit BIT-FOR-BIT
      val obs = vs.zipWithIndex.map { case (v, t) => (t.toDouble, v) }
      val one = fit(obs)
      val merged = fit(obs, cuts)
      assert(one == merged,
        s"merge changed the fit: $one vs $merged (cuts=$cuts)")
    }
  }

  test("noiseless linear series recover slope and intercept exactly") {
    val gen = for {
      a <- Gen.choose(-1000, 1000)
      b <- Gen.choose(-50, 50)
      n <- Gen.choose(2, 30)
    } yield (a, b, n)
    forAll(gen) { case (a, b, n) =>
      val obs = (0 until n).map(t => (t.toDouble, (a + b * t).toDouble))
      val (slope, icept, cnt) = fit(obs)
      assert(cnt == n)
      assert(slope == b.toDouble, s"slope $slope != $b")
      assert(icept == a.toDouble, s"icept $icept != $a")
    }
  }

  test("fewer than 2 observations, or zero time variance, yield NaN") {
    val (s1, i1, c1) = fit(Seq((3.0, 42.0)))
    assert(s1.isNaN && i1.isNaN && c1 == 1)
    // two observations at the SAME day: den = 0
    val (s2, i2, c2) = fit(Seq((3.0, 42.0), (3.0, 43.0)))
    assert(s2.isNaN && i2.isNaN && c2 == 2)
  }

  /** Tile frame with one 1×1 plane per (day, value) for the Theil–Sen
    * operator (which consumes the Load tiles schema). `bounded` runs
    * the default state budget, otherwise `Long.MaxValue` (one slice per
    * tile: the whole-tile groups). */
  private def tsFit(obs: Seq[(Int, Double)], bounded: Boolean,
                    maxPairs: Int = 0)
      : (Double, Double) = {
    val spark = GraftSpark.spark
    import spark.implicits._
    val rows = obs.map { case (day, v) =>
      ("red", day, 0, 0, new java.sql.Timestamp(day * 86400000L),
        Fuse.encode(Array(v), "float64"), "float64", Double.NaN, 1, 1)
    }
    val tiles = rows.toDF("band", "tIdx", "ty", "tx", "time",
      "data", "dtype", "nodata", "width", "height")
    val out = Trend.theilSenAcrossTime(spark, tiles, 0L,
        planesPerTile = obs.length,
        stateBudgetBytes =
          if (bounded) Composite.DefaultStateBudgetBytes else Long.MaxValue,
        maxPairsPerPixel = maxPairs)
      .selectExpr("slope[0]", "icept[0]").head()
    (out.getDouble(0), out.getDouble(1))
  }

  test("theil-sen recovers noiseless lines exactly and shrugs off one outlier") {
    val gen = for {
      a <- Gen.choose(-500, 500)
      b <- Gen.choose(-20, 20)
      n <- Gen.choose(5, 10)
      bad <- Gen.choose(0, 4)
      spike <- Gen.choose(5000, 50000)
    } yield (a, b, n, bad, spike)
    forAllN(12, gen) { case (a, b, n, bad, spike) =>
      val clean = (0 until n).map(t => (t, (a + b * t).toDouble))
      val (s0, i0) = tsFit(clean, bounded = false)
      assert(s0 == b.toDouble && i0 == a.toDouble,
        s"clean line: ($s0, $i0) != ($b, $a)")
      // one corrupted observation: the clean pairwise slopes (a strict
      // majority for n >= 5) all equal b exactly, so the median holds
      val dirty = clean.updated(bad % n, (bad % n, spike.toDouble))
      val (s1, _) = tsFit(dirty, bounded = false)
      assert(s1 == b.toDouble, s"one outlier moved the slope: $s1 != $b")
    }
  }

  test("theil-sen pair cap: no-op above T(T-1)/2, exact on clean lines " +
      "below it, deterministic") {
    val gen = for {
      a <- Gen.choose(-200, 200)
      b <- Gen.choose(-15, 15)
      n <- Gen.choose(5, 12)
      vs <- Gen.listOfN(n, Gen.choose(0, 3000))
    } yield (a, b, n, vs.map(_.toDouble))
    forAllN(8, gen) { case (a, b, n, vs) =>
      val allPairs = n * (n - 1) / 2
      // cap >= all pairs: bit-identical to the exact estimator
      val arbitrary = vs.zipWithIndex.map { case (v, t) => (t, v) }
      assert(tsFit(arbitrary, bounded = false) ==
        tsFit(arbitrary, bounded = false, maxPairs = allPairs),
        "a non-binding cap must not change the estimate")
      // clean line: every pair slope is b, so ANY subsample median is b
      val clean = (0 until n).map(t => (t, (a + b * t).toDouble))
      val (sc, ic) = tsFit(clean, bounded = false, maxPairs = 3)
      assert(sc == b.toDouble && ic == a.toDouble,
        s"capped clean line: ($sc, $ic) != ($b, $a)")
      // deterministic: the stride subsample has no RNG
      assert(tsFit(arbitrary, bounded = false, maxPairs = 4) ==
        tsFit(arbitrary, bounded = false, maxPairs = 4))
    }
  }

  test("theil-sen bounded (sliced) path equals the full-tile path") {
    val gen = for {
      n <- Gen.choose(3, 9)
      vs <- Gen.listOfN(n, Gen.choose(0, 3000))
    } yield vs.map(_.toDouble)
    forAllN(12, gen) { vs =>
      val obs = vs.zipWithIndex.map { case (v, t) => (t, v) }
      assert(tsFit(obs, bounded = false) == tsFit(obs, bounded = true))
    }
  }

  test("slope is invariant under a value offset; intercept shifts by it") {
    val gen = for {
      n <- Gen.choose(3, 16)
      vs <- Gen.listOfN(n, Gen.choose(0, 1000))
      off <- Gen.choose(1, 500)
    } yield (vs.map(_.toDouble), off.toDouble)
    forAll(gen) { case (vs, off) =>
      val obs = vs.zipWithIndex.map { case (v, t) => (t.toDouble, v) }
      val shifted = obs.map { case (t, v) => (t, v + off) }
      val (s0, i0, _) = fit(obs)
      val (s1, i1, _) = fit(shifted)
      assert(s0 == s1, "value offset must not change the slope")
      assert(math.abs((i1 - i0) - off) < 1e-9,
        "intercept must shift by the offset")
    }
  }
}
