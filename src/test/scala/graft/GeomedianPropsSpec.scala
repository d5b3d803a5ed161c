package graft

import graft.load.Composite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants of the geomedian math (the fixed-iteration
  * Weiszfeld solve behind `Composite.geomedianAcrossTime` and the MAD
  * layers): the implementation is iterative and hash-anchored on one
  * fixture, so pin the algebra on random observation stacks too, and
  * pin the blocked solver to a per-pixel scalar replay bit for bit. */
class GeomedianPropsSpec extends AnyFunSuite {
  import Composite.{JointStack, Weiszfeld}

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    check(Prop.forAll(ga) { a => f(a); true })

  private val Iters = 8
  private val Eps = 1e-7

  /** Random observation stack: m vectors of nb bands, values in a range
    * that keeps relative float error well under the tolerances. */
  private val stackGen: Gen[Array[Array[Double]]] = for {
    nb <- Gen.chooseNum(1, 4)
    m <- Gen.chooseNum(1, 12)
    vals <- Gen.listOfN(m * nb, Gen.chooseNum(-1000.0, 1000.0))
  } yield vals.grouped(nb).map(_.toArray).toArray

  /** One pixel's stack as the kernels take it: observation t, band b =
    * obs(t)(b), every one valid. */
  private def onePixel(obs: Array[Array[Double]]): JointStack =
    JointStack(obs.head.length, obs.map(_.map(v => Array(v))),
      obs.map(_.map(_ => Double.NaN)))

  /** The solve of `n` pixels of `s` in blocks of `blk`. */
  private def solver(s: JointStack, n: Int, blk: Int,
                     eps: Double = Eps): Weiszfeld =
    new Weiszfeld(s, n, Iters, eps, blk)

  private def solve(obs: Array[Array[Double]]): Array[Double] =
    Composite.geomedianKernel(solver(onePixel(obs), 1, 1))._1.map(_(0))

  /** The scalar Weiszfeld the blocked solver replaces — the oracle of
    * the bit-identity properties: x⁰ = component mean of
    * `obs(0 until m)`, then xᵏ⁺¹ = Σ wₜ·pₜ / Σ wₜ with
    * wₜ = 1/max(‖xᵏ−pₜ‖, eps), every fold time- then band-ascending;
    * m = 1 returns the observation itself. */
  private def weiszfeld(obs: Array[Array[Double]], m: Int, nb: Int,
                        iters: Int, eps: Double): Array[Double] = {
    if (m == 1) return java.util.Arrays.copyOf(obs(0), nb)
    val x = new Array[Double](nb)
    var b = 0
    while (b < nb) {
      var s = 0.0; var t = 0
      while (t < m) { s += obs(t)(b); t += 1 }
      x(b) = s / m
      b += 1
    }
    var k = 0
    while (k < iters) {
      val wts = new Array[Double](m)
      var t = 0
      while (t < m) {
        var d2 = 0.0; var b2 = 0
        while (b2 < nb) {
          val dd = obs(t)(b2) - x(b2); d2 += dd * dd; b2 += 1
        }
        wts(t) = 1.0 / math.max(math.sqrt(d2), eps)
        t += 1
      }
      var den = 0.0
      t = 0
      while (t < m) { den += wts(t); t += 1 }
      b = 0
      while (b < nb) {
        var num = 0.0; t = 0
        while (t < m) { num += obs(t)(b) * wts(t); t += 1 }
        x(b) = num / den
        b += 1
      }
      k += 1
    }
    x
  }

  private def medianOf(vals: Array[Double]): Double = {
    val v = vals.sorted
    val m = v.length
    if (m % 2 == 1) v(m / 2) else (v(m / 2 - 1) + v(m / 2)) / 2.0
  }

  /** Per-pixel scalar replay of both kernels: the complete observations
    * of each pixel (time-ascending), the scalar solve, the three MADs. */
  private def replay(s: JointStack, n: Int, eps: Double)
      : (Array[Array[Double]], Array[Array[Double]], Array[Int]) = {
    val nb = s.nb
    val geo = Array.fill(nb)(new Array[Double](n))
    val mads = Array.fill(3)(new Array[Double](n))
    val cnt = new Array[Int](n)
    for (i <- 0 until n) {
      val obs = s.px.indices.filter(t => (0 until nb).forall { b =>
        val v = s.px(t)(b)(i); !(v.isNaN || v == s.nodata(t)(b))
      }).map(t => Array.tabulate(nb)(b => s.px(t)(b)(i))).toArray
      val m = obs.length
      cnt(i) = m
      if (m == 0) {
        (geo ++ mads).foreach(_(i) = Double.NaN)
      } else {
        val x = weiszfeld(obs, m, nb, Iters, eps)
        for (b <- 0 until nb) geo(b)(i) = x(b)
        var xn2 = 0.0
        for (b <- 0 until nb) xn2 += x(b) * x(b)
        val xn = math.sqrt(xn2)
        mads(0)(i) = medianOf(obs.map { p =>
          var d2 = 0.0
          for (b <- 0 until nb) { val d = p(b) - x(b); d2 += d * d }
          math.sqrt(d2)
        })
        mads(1)(i) = medianOf(obs.map { p =>
          var dot = 0.0; var pn2 = 0.0
          for (b <- 0 until nb) { dot += p(b) * x(b); pn2 += p(b) * p(b) }
          val den = math.sqrt(pn2) * xn
          if (den == 0.0) 0.0 else 1.0 - dot / den
        })
        mads(2)(i) = medianOf(obs.map { p =>
          var num = 0.0; var den = 0.0
          for (b <- 0 until nb) {
            num += math.abs(p(b) - x(b)); den += math.abs(p(b) + x(b))
          }
          if (den == 0.0) 0.0 else num / den
        })
      }
    }
    (geo, mads, cnt)
  }

  /** A random multi-pixel group of decoded planes, mixed validity:
    * `nb` bands over up to 33 times, some (time, band) planes missing,
    * in shuffled order; per plane a nodata value that also occurs among
    * the pixels, NaN holes, up to 97% invalid. Pixel 0 has no complete
    * observation; pixel 1, when n > 1, at most one. */
  private case class Group(nb: Int, n: Int, planes: Array[Composite.Plane],
                           maxBlock: Int)

  private val Bands = Seq("b0", "b1", "b2", "b3")

  private val groupGen: Gen[Group] = for {
    nb <- Gen.chooseNum(1, 4)
    nt <- Gen.frequency(1 -> Gen.const(1), 4 -> Gen.chooseNum(1, 33))
    n <- Gen.chooseNum(1, 90)
    invalid <- Gen.oneOf(0.0, 0.3, 0.7, 0.97)
    dropPlane <- Gen.oneOf(0.0, 0.1)
    maxBlock <- Gen.oneOf(Gen.const(512), Gen.const(37), Gen.chooseNum(1, 100))
    seed <- Gen.long
  } yield {
    val rnd = new scala.util.Random(seed)
    val single = if (nt > 0) rnd.nextInt(nt) else 0
    val planes = for {
      t <- 0 until nt
      b <- 0 until nb
      if rnd.nextDouble() >= dropPlane
    } yield {
      val nodata = if (rnd.nextBoolean()) 0.0 else -9999.0
      val px = Array.tabulate(n) { i =>
        val hole = (i == 0 && b == 0) || (i == 1 && t != single) ||
          rnd.nextDouble() < invalid
        if (hole) { if (rnd.nextBoolean()) Double.NaN else nodata }
        else rnd.nextInt(20) match {
          case 0 => -0.0
          case 1 => 0.0
          case 2 => rnd.nextInt(5).toDouble // ties across times
          case _ => rnd.nextDouble() * 2000.0 - 1000.0
        }
      }
      Composite.Plane(Bands(b), t, t.toLong, px, nodata)
    }
    Group(nb, n, rnd.shuffle(planes).toArray, maxBlock)
  }

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def stackOf(g: Group): JointStack =
    JointStack(g.planes, Bands.take(g.nb))

  /** Both blocked kernels equal the scalar replay of `s`, raw bits. */
  private def assertReplayed(s: JointStack, n: Int, blk: Int,
                             eps: Double): Array[Int] = {
    val (geo, mads, cnt) = replay(s, n, eps)
    val (bGeo, bCnt) = Composite.geomedianKernel(solver(s, n, blk, eps))
    val (emad, smad, bcmad, mCnt) =
      Composite.geomadKernel(solver(s, n, blk, eps))
    assert(bCnt.sameElements(cnt) && mCnt.sameElements(cnt))
    geo.indices.foreach(b => assert(bits(bGeo(b)) == bits(geo(b)), s"band $b"))
    Seq(emad, smad, bcmad).zip(mads).zipWithIndex.foreach {
      case ((got, want), l) => assert(bits(got) == bits(want), s"MAD $l")
    }
    cnt
  }

  test("blocked geomedian and geomad equal the per-pixel scalar replay bit for bit") {
    forAll(groupGen) { g =>
      val cnt = assertReplayed(stackOf(g), g.n, g.maxBlock, Eps)
      assert(cnt(0) == 0 && (g.n == 1 || cnt(1) <= 1))
    }
  }

  test("bit-identity holds down to the smallest eps with a finite 1/eps") {
    // every pixel's valid observations come in pairs p, −p (some p = 0),
    // so its iterates sit exactly on the zero vector, where an invalid
    // time's weight is 1/eps masked by 0.0
    val gen = for {
      nb <- Gen.chooseNum(1, 4)
      pairs <- Gen.chooseNum(1, 8)
      n <- Gen.chooseNum(1, 40)
      blk <- Gen.chooseNum(1, 16)
      eps <- Gen.oneOf(1e-7, 1e-300, java.lang.Math.nextUp(1.0 / Double.MaxValue))
      seed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(seed)
      val px = Array.fill(2 * pairs, nb)(new Array[Double](n))
      for (i <- 0 until n; k <- 0 until pairs) {
        val hole = rnd.nextDouble() < 0.4
        for (b <- 0 until nb) {
          val v = if (rnd.nextInt(4) == 0) 0.0 else rnd.nextInt(2001) - 1000.0
          px(2 * k)(b)(i) = if (hole && b == 0) Double.NaN else v
          px(2 * k + 1)(b)(i) = if (hole) -9999.0 else -v
        }
      }
      (JointStack(nb, px, Array.fill(2 * pairs, nb)(-9999.0)), n, blk, eps)
    }
    forAll(gen) { case (s, n, blk, eps) =>
      assert(!(1.0 / eps).isInfinite)
      assertReplayed(s, n, blk, eps)
    }
  }

  test("a pixel's result does not depend on its position in the block") {
    val gen = for {
      g <- groupGen
      r <- Gen.chooseNum(0, 89)
    } yield (g, r % g.n)
    forAll(gen) { case (g, r) =>
      val s = stackOf(g)
      def rot(a: Array[Double]) = a.drop(r) ++ a.take(r)
      val rs = s.copy(px = s.px.map(_.map(rot)))
      val (geo, cnt) = Composite.geomedianKernel(solver(s, g.n, g.maxBlock))
      val (rGeo, rCnt) =
        Composite.geomedianKernel(solver(rs, g.n, g.maxBlock))
      val (emad, _, _, _) = Composite.geomadKernel(solver(s, g.n, g.maxBlock))
      val (rEmad, _, _, _) =
        Composite.geomadKernel(solver(rs, g.n, g.maxBlock))
      assert((cnt.drop(r) ++ cnt.take(r)).sameElements(rCnt))
      geo.indices.foreach(b => assert(bits(rot(geo(b))) == bits(rGeo(b))))
      assert(bits(rot(emad)) == bits(rEmad))
    }
  }

  test("the solver's block scratch fits the stack's planes and its byte share") {
    for (tc <- 1 to 40; nb <- 1 to 4; n <- Seq(1, 2, 7, 64, 512, 16384);
         cap <- Seq(0L, 4096L, 1L << 20, Long.MaxValue)) {
      val blk = Composite.blockFor(tc, nb, n, cap)
      assert(blk >= 1 && blk <= math.min(512, n))
      val scratch = solver(JointStack(nb, Array.fill(tc, nb)(new Array(n)),
        Array.fill(tc, nb)(0.0)), n, blk).scratchBytes
      assert(scratch == 8L * blk * (tc * (nb + 1) + 2 * nb + 4))
      assert(blk == 1 || (scratch <= 8L * tc * nb * n && scratch <= cap),
        s"tc=$tc nb=$nb n=$n cap=$cap: block $blk scratch $scratch")
    }
    // the 128² tile of 16 times × 2 bands solves in full blocks under the
    // default budget's scratch share
    assert(Composite.blockFor(16, 2, 128 * 128,
      Composite.DefaultStateBudgetBytes / Composite.ScratchShare) == 512)
  }

  test("m = 1: the geomedian of a single observation is that observation") {
    forAll(stackGen.map(s => Array(s.head))) { obs =>
      assert(solve(obs).sameElements(obs.head))
    }
  }

  test("translation equivariance: gm(p + c) = gm(p) + c") {
    val gen = for {
      obs <- stackGen
      c <- Gen.chooseNum(-500.0, 500.0)
    } yield (obs, c)
    forAll(gen) { case (obs, c) =>
      val base = solve(obs)
      val shifted = solve(obs.map(_.map(_ + c)))
      base.indices.foreach { b =>
        // distances (hence Weiszfeld weights) are translation-invariant;
        // only float summation order differs
        assert(math.abs(shifted(b) - (base(b) + c)) <= 1e-6,
          s"band $b: ${shifted(b)} vs ${base(b) + c} (c=$c)")
      }
    }
  }

  test("permutation invariance: observation order only perturbs float tails") {
    forAll(stackGen) { obs =>
      val base = solve(obs)
      val perm = solve(obs.reverse)
      base.indices.foreach { b =>
        assert(math.abs(perm(b) - base(b)) <= 1e-6,
          s"band $b: ${perm(b)} vs ${base(b)}")
      }
    }
  }

  test("convexity: every geomedian component lies in the observations' bbox") {
    forAll(stackGen) { obs =>
      val x = solve(obs)
      x.indices.foreach { b =>
        val lo = obs.map(_(b)).min
        val hi = obs.map(_(b)).max
        // x⁰ is the mean and every iterate is a convex combination of
        // the observations, so containment is exact up to float error
        assert(x(b) >= lo - 1e-9 && x(b) <= hi + 1e-9,
          s"band $b: ${x(b)} outside [$lo, $hi]")
      }
    }
  }

  test("geomedian descends: Σ‖x−p‖ no worse than the mean start point") {
    forAll(stackGen) { obs =>
      def cost(x: Array[Double]): Double =
        obs.map(p => math.sqrt(p.indices.map(b =>
          (p(b) - x(b)) * (p(b) - x(b))).sum)).sum
      val gm = cost(solve(obs))
      val nb = obs.head.length
      val mean = Array.tabulate(nb)(b => obs.map(_(b)).sum / obs.length)
      // Weiszfeld descends from x⁰ = mean; the 1/eps weight clamp makes
      // it non-strict when an iterate lands ON an observation — allow
      // ~1e-6 relative slack (observed wobble ≲ 1e-7 relative). Beating
      // every MEMBER is only guaranteed at convergence, not after 8
      // fixed iterations, so that is deliberately not asserted.
      assert(gm <= cost(mean) * (1 + 1e-6) + 1e-9,
        s"$gm > mean cost ${cost(mean)}")
    }
  }

  test("MAD layers are non-negative; zero-spread stacks give zero EMAD/BCMAD") {
    forAll(stackGen) { obs =>
      val m = obs.length
      val (emad, smad, bcmad, cnt) =
        Composite.geomadKernel(solver(onePixel(obs), 1, 1))
      assert(cnt(0) == m)
      assert(emad(0) >= 0.0 && bcmad(0) >= 0.0)
      // 1 − cos ≥ 0 up to float error (cos ≤ 1 always)
      assert(smad(0) >= -1e-12)

      // identical observations: geomedian = the point, all deviations 0
      val same = onePixel(Array.fill(m)(obs(0)))
      val (e0, s0, b0, _) = Composite.geomadKernel(solver(same, 1, 1))
      assert(math.abs(e0(0)) <= 1e-9 && math.abs(b0(0)) <= 1e-9 &&
        math.abs(s0(0)) <= 1e-9)
    }
  }
}
