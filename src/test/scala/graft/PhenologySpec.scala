package graft

import graft.load.{Fuse, Phenology, PixelFold}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants of the per-pixel peak-of-season fold:
  * partition-invariant merges (any split of the observations into
  * partial buffers yields the single-pass result bit-for-bit),
  * argmax-with-earliest-tie semantics against a direct fold, and the
  * zero-valid guard. */
class PhenologySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    check(Prop.forAll(ga) { a => f(a); true })

  /** One single-pixel plane per (day, value), optionally split into
    * partial buffers at `cuts` before merging. */
  private def fit(obs: Seq[(Double, Double)], cuts: Seq[Int] = Nil)
      : (Double, Double, Int) = {
    val agg = new Phenology.PixelPeak
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
    if (out.peak.isEmpty) (Double.NaN, -1.0, 0)
    else (out.peak(0), out.day(0), out.count(0))
  }

  test("any partition of observations merges to the one-pass result") {
    val gen = for {
      n <- Gen.choose(1, 24)
      vs <- Gen.listOfN(n, Gen.choose(0, 50)) // small range forces ties
      nCuts <- Gen.choose(0, 4)
      cuts <- Gen.listOfN(nCuts, Gen.choose(1, math.max(1, n - 1)))
    } yield (vs.map(_.toDouble), cuts)
    forAll(gen) { case (vs, cuts) =>
      val obs = vs.zipWithIndex.map { case (v, t) => (t.toDouble, v) }
      val one = fit(obs)
      val parts = fit(obs, cuts)
      assert(one == parts, s"split $cuts diverged: $parts != $one")
    }
  }

  test("peak is the max value; ties break to the EARLIEST day") {
    val gen = for {
      n <- Gen.choose(1, 30)
      vs <- Gen.listOfN(n, Gen.choose(0, 10))
    } yield vs.map(_.toDouble)
    forAll(gen) { vs =>
      val obs = vs.zipWithIndex.map { case (v, t) => (t.toDouble, v) }
      val (peak, day, cnt) = fit(obs)
      val mx = vs.max
      assert(peak == mx && cnt == vs.length)
      assert(day == vs.indexOf(mx).toDouble,
        s"tie must pick the first attaining day: $day != ${vs.indexOf(mx)}")
    }
  }

  test("zero valid observations yield NaN peak and day -1") {
    val agg = new Phenology.PixelPeak
    val b = agg.reduce(agg.zero,
      PixelFold.In(0.0, Fuse.encode(Array(Double.NaN), "float64"),
        "float64", Double.NaN, 1, 1))
    val out = agg.finish(b)
    assert(out.peak(0).isNaN && out.day(0) == -1.0 && out.count(0) == 0)
    // nodata-coded values are invalid too
    val b2 = agg.reduce(agg.zero,
      PixelFold.In(0.0, Fuse.encode(Array(7.0), "float64"),
        "float64", 7.0, 1, 1))
    val out2 = agg.finish(b2)
    assert(out2.peak(0).isNaN && out2.day(0) == -1.0 && out2.count(0) == 0)
  }
}
