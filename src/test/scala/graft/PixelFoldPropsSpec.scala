package graft

import graft.load.{Anomaly, Composite, Fuse, Harmonic, Phenology, PixelFold, Trend}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck invariants shared by the five mergeable per-pixel folds
  * (composite, OLS trend, harmonic fit, peak argmax, anomaly
  * statistics): any split of the observations into partial buffers,
  * merged in any order, gives the one-pass buffer bit-for-bit; and the
  * streaming standing-state commit of random batch splits, in random
  * arrival order and with replayed batches, lands the batch fold's
  * buffers. Values are small integers (exact sums, forced argmax ties)
  * with NaN and nodata holes. */
class PixelFoldPropsSpec extends AnyFunSuite {

  private val Nodata = 7777.0
  private val Width = 3

  /** Epoch seconds of day `d` → the harmonic fit's milli-unit basis. */
  private val basis: Map[Long, (Double, Double)] =
    (0 until 32).map(d => d * 86400L -> Harmonic.basisOf(d, 8.0)).toMap

  /** A fold with its plane scalar: from a day number (the driver-free
    * property) and as the tile-frame column (the Spark property). */
  private final class Case(val name: String, val fold: PixelFold[_],
                           val tOf: Int => Double, val t: Column)

  private val folds = Seq(
    new Case("composite", new Composite.PixelComposite, _ => 0.0, lit(0.0)),
    new Case("trend", new Trend.PixelTrend, _.toDouble, PixelFold.dayOf(0L)),
    new Case("harmonic", new Harmonic.PixelHarmonic(basis),
      d => d * 86400.0, unix_timestamp(col("time"))),
    new Case("peak", new Phenology.PixelPeak, _.toDouble,
      PixelFold.dayOf(0L)),
    new Case("stats", new Anomaly.PixelStats, _ => 0.0, lit(0.0)))

  private def check(n: Int, prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  private val pixel: Gen[Double] = Gen.frequency(
    6 -> Gen.choose(0, 50).map(_.toDouble),
    1 -> Gen.const(Nodata),
    1 -> Gen.const(Double.NaN))

  /** Observations: one `Width`-pixel plane per day 0 until n. */
  private def observations(maxN: Int): Gen[Seq[Array[Double]]] = for {
    n <- Gen.choose(1, maxN)
    obs <- Gen.listOfN(n, Gen.listOfN(Width, pixel).map(_.toArray))
  } yield obs

  private def in(t: Double, px: Array[Double]) =
    PixelFold.In(t, Fuse.encode(px, "float64"), "float64", Nodata, Width, 1)

  /** Bit-level equality of two buffers (NaN planes included). */
  private def same(a: PixelFold.Buf, b: PixelFold.Buf): Boolean =
    java.util.Arrays.equals(a.n, b.n) && a.planes.length == b.planes.length &&
      a.planes.indices.forall(p =>
        java.util.Arrays.equals(a.planes(p), b.planes(p))) &&
      a.width == b.width && a.height == b.height

  /** Cut `xs` at `cuts` into non-empty runs. */
  private def split[A](xs: Seq[A], cuts: Seq[Int]): Seq[Seq[A]] = {
    val bounds = (0 +: cuts.filter(c => c > 0 && c < xs.length).sorted
      :+ xs.length).distinct
    bounds.zip(bounds.tail).map { case (a, b) => xs.slice(a, b) }
  }

  test("any split of the observations into partial buffers merges to " +
      "the one-pass buffer (all five folds)") {
    val gen = for {
      obs <- observations(24)
      cuts <- Gen.listOf(Gen.choose(1, 23))
      seed <- Gen.long
    } yield (obs, cuts, seed)
    check(100, Prop.forAll(gen) { case (obs, cuts, seed) =>
      folds.forall { c =>
        val fold = c.fold
        val byDay = obs.zipWithIndex
        def foldAll(xs: Seq[(Array[Double], Int)]) =
          xs.foldLeft(fold.zero) { case (b, (px, d)) =>
            fold.reduce(b, in(c.tOf(d), px))
          }
        val one = foldAll(byDay)
        // partial buffers (plus an empty one) merged in a random order
        val parts = split(byDay, cuts).map(foldAll) :+ fold.zero
        val merged = new scala.util.Random(seed).shuffle(parts)
          .reduce(fold.merge)
        assert(same(one, merged), s"${c.name}: split $cuts diverged")
        true
      }
    })
  }

  test("standing-state commits of random batch splits, in random order " +
      "and with replays, land the batch fold's buffers") {
    val spark = GraftSpark.spark
    import spark.implicits._
    val gen = for {
      f <- Gen.choose(0, folds.length - 1)
      obs <- observations(8)
      // which of the two tiles (tx 0 / 1) each observation covers
      txs <- Gen.listOfN(obs.length, Gen.oneOf(Seq(0), Seq(1), Seq(0, 1)))
      cuts <- Gen.listOf(Gen.choose(1, 7))
      seed <- Gen.long
      replay <- Gen.oneOf(true, false)
    } yield (f, obs, txs, cuts, seed, replay)
    // no shrinking: every case runs Spark jobs
    check(8, Prop.forAllNoShrink(gen) { case (f, obs, txs, cuts, seed, replay) =>
      val c = folds(f)
      val fold = c.fold
      val t = c.t
      val rows = obs.zip(txs).zipWithIndex.flatMap { case ((px, ts), d) =>
        ts.map(tx => ("red", d, 0, tx, new java.sql.Timestamp(d * 86400000L),
          Fuse.encode(px, "float64"), "float64", Nodata, Width, 1))
      }
      def tiles(rs: Seq[(String, Int, Int, Int, java.sql.Timestamp,
          Array[Byte], String, Double, Int, Int)]) =
        rs.toDF("band", "tIdx", "ty", "tx", "time", "data", "dtype",
          "nodata", "width", "height")
      def byKey(bufs: Array[(String, Int, Int, PixelFold.Buf)]) =
        bufs.map(r => (r._1, r._2, r._3) -> r._4).toMap
      val want = byKey(PixelFold.byTile(spark, tiles(rows), fold, t).collect())
      val path = java.nio.file.Paths.get(
        TmpLanding.fresh("graft_fold_state", "props")).resolve("state").toString
      val batches = new scala.util.Random(seed).shuffle(split(rows, cuts))
      batches.zipWithIndex.foreach { case (b, id) =>
        val cur = PixelFold.byTile(spark, tiles(b), fold, t)
        rasterops.RasterQueries.commitMerge(spark, path, id.toLong, cur, fold)
        // an at-least-once retry of the same batch is a no-op
        if (replay)
          rasterops.RasterQueries.commitMerge(spark, path, id.toLong, cur, fold)
      }
      val got = byKey(spark.read.parquet(path)
        .as[(String, Int, Int, PixelFold.Buf)].collect())
      assert(got.keySet == want.keySet, s"${c.name}: keys ${got.keySet}")
      want.foreach { case (k, b) =>
        assert(same(got(k), b), s"${c.name}: tile $k diverged")
      }
      true
    })
  }
}
