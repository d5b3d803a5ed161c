package graft

import graft.load.{Fuse, Harmonic, PixelFold}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the per-pixel harmonic-fit fold: exact recovery of a
  * noiseless `a + b·cq + c·sq` series, bit-for-bit mergeability on
  * integer inputs, and the n≥3 / singular-system guards. */
class HarmonicSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  /** Fit one single-pixel plane per (cq, sq, v) observation, split into
    * `cuts` partial buffers then merged (Nil = one buffer); the
    * observation index stands in for its epoch seconds. */
  private def fit(obs: Seq[(Double, Double, Double)], cuts: Seq[Int] = Nil)
      : (Double, Double, Double, Int) = {
    val agg = new Harmonic.PixelHarmonic(
      obs.zipWithIndex.map { case ((cq, sq, _), i) => i.toLong -> (cq, sq) }
        .toMap)
    val indexed = obs.zipWithIndex
    val groups =
      if (cuts.isEmpty) Seq(indexed)
      else {
        val bounds = (0 +: cuts.sorted :+ obs.length).distinct
        bounds.zip(bounds.tail).map { case (a, b) => indexed.slice(a, b) }
      }
    val bufs = groups.map { g =>
      g.foldLeft(agg.zero) { case (b, ((_, _, v), i)) =>
        agg.reduce(b, PixelFold.In(i.toDouble,
          Fuse.encode(Array(v), "float64"), "float64", Double.NaN, 1, 1))
      }
    }
    val out = agg.finish(bufs.reduce(agg.merge))
    if (out.level.isEmpty) (Double.NaN, Double.NaN, Double.NaN, 0)
    else (out.level(0), out.cosB(0), out.sinB(0), out.count(0))
  }

  private def basisAt(days: Seq[Int], period: Double = 8.0) =
    days.map(t => Harmonic.basisOf(t.toDouble, period))

  test("noiseless a + b·cq + c·sq series is recovered exactly") {
    val gen = for {
      a <- Gen.choose(-500, 4000)
      b <- Gen.choose(-3, 3)
      c <- Gen.choose(-3, 3)
      n <- Gen.choose(3, 8)
    } yield (a, b, c, n)
    check(Prop.forAll(gen) { case (a, b, c, n) =>
      val bs = basisAt(0 until n)
      val obs = bs.map { case (cq, sq) =>
        (cq, sq, a + b * cq + c * sq) }
      val (level, cosB, sinB, cnt) = fit(obs)
      // integer-exact sums → the Cramer solve is exact rational
      // arithmetic in doubles; noiseless inputs recover coefficients
      // to double precision
      cnt == n && math.abs(level - a) < 1e-6 &&
        math.abs(cosB - b) < 1e-9 && math.abs(sinB - c) < 1e-9
    })
  }

  test("any partition of observations merges bit-for-bit") {
    val gen = for {
      n <- Gen.choose(3, 16)
      vs <- Gen.listOfN(n, Gen.choose(0, 4000))
      nCuts <- Gen.choose(0, 4)
      cuts <- Gen.listOfN(nCuts, Gen.choose(1, math.max(1, n - 1)))
    } yield (vs, cuts)
    check(Prop.forAll(gen) { case (vs, cuts) =>
      val bs = basisAt(vs.indices)
      val obs = bs.zip(vs).map { case ((cq, sq), v) => (cq, sq, v.toDouble) }
      val one = fit(obs)
      val split = fit(obs, cuts)
      // bit-for-bit: integer sums are order-exact, finish is identical
      (one._1 == split._1 || (one._1.isNaN && split._1.isNaN)) &&
        (one._2 == split._2 || (one._2.isNaN && split._2.isNaN)) &&
        (one._3 == split._3 || (one._3.isNaN && split._3.isNaN)) &&
        one._4 == split._4
    })
  }

  test("fewer than 3 observations, or a singular basis, yields NaN") {
    val bs = basisAt(Seq(0, 1))
    val two = fit(bs.map { case (cq, sq) => (cq, sq, 100.0) })
    assert(two._1.isNaN && two._4 == 2)
    // three observations at the SAME day: rank-1 system, det = 0
    val (cq, sq) = Harmonic.basisOf(2.0, 8.0)
    val degenerate = fit(Seq.fill(3)((cq, sq, 250.0)))
    assert(degenerate._1.isNaN && degenerate._4 == 3)
  }
}
