package graft

import graft.load.{Fuse, TemporalFill}
import org.scalatest.funsuite.AnyFunSuite

/** Temporal gap-fill: time-weighted linear interpolation for interior
  * gaps, nearest-valid carry at the edges, NaN when never observed. */
class TemporalFillSpec extends AnyFunSuite {
  import GraftSpark.spark

  test("interior interp, edge carry, and never-observed pixels") {
    import spark.implicits._
    // three 2x2 planes at NON-uniform times t=0,10,40; nodata=0.
    // pixel stories (t0/t1/t2):
    //   p0: 100/0/400 -> interior gap at t=10: 100 + 300*10/40 = 175
    //   p1: 0/50/80   -> missing first: carry next (50)
    //   p2: 70/30/0   -> missing last: carry prev (30)
    //   p3: 0/0/0     -> never observed: NaN throughout
    val ts = Seq(0L, 10L, 40L).map(s => new java.sql.Timestamp(s * 1000))
    val rows = Seq(
      ("b", 0, 0, 0, ts(0), Fuse.encode(Array(100.0, 0.0, 70.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 1, 0, 0, ts(1), Fuse.encode(Array(0.0, 50.0, 30.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2),
      ("b", 2, 0, 0, ts(2), Fuse.encode(Array(400.0, 80.0, 0.0, 0.0), "uint16"),
        "uint16", 0.0, 2, 2)
    ).toDF("band", "tIdx", "ty", "tx", "time", "data", "dtype", "nodata",
      "width", "height")
    val out = TemporalFill.fillAcrossTime(spark, rows, timeDepth = 3)
      .orderBy("tIdx").collect()
    assert(out.length == 3)
    def plane(i: Int): Seq[Double] =
      out(i).getAs[scala.collection.Seq[Double]]("filled").toSeq
    assert(plane(0) == Seq(100.0, 50.0, 70.0) :+ plane(0)(3)
      && plane(0)(3).isNaN)
    assert(plane(1)(0) == 175.0) // the time-weighted interior fill
    assert(plane(1)(1) == 50.0 && plane(1)(2) == 30.0 && plane(1)(3).isNaN)
    assert(plane(2)(0) == 400.0 && plane(2)(1) == 80.0
      && plane(2)(2) == 30.0 && plane(2)(3).isNaN)
    assert(out.map(_.getAs[Int]("n_filled")).toSeq == Seq(1, 1, 1))
  }

  test("no gaps means no fills and identity planes") {
    import spark.implicits._
    val ts = Seq(0L, 86400L).map(s => new java.sql.Timestamp(s * 1000))
    val rows = Seq(
      ("b", 0, 0, 0, ts(0), Fuse.encode(Array(1.0, 2.0), "uint16"),
        "uint16", 0.0, 2, 1),
      ("b", 1, 0, 0, ts(1), Fuse.encode(Array(3.0, 4.0), "uint16"),
        "uint16", 0.0, 2, 1)
    ).toDF("band", "tIdx", "ty", "tx", "time", "data", "dtype", "nodata",
      "width", "height")
    val out = TemporalFill.fillAcrossTime(spark, rows, timeDepth = 2)
      .orderBy("tIdx").collect()
    assert(out.map(_.getAs[Int]("n_filled")).toSeq == Seq(0, 0))
    assert(out(0).getAs[scala.collection.Seq[Double]]("filled").toSeq ==
      Seq(1.0, 2.0))
    assert(out(1).getAs[scala.collection.Seq[Double]]("filled").toSeq ==
      Seq(3.0, 4.0))
  }

  test("same-time planes fill in (time, tIdx) order, whatever the arrival order") {
    import spark.implicits._
    // groupby="id" can give two planes one timestamp: tIdx 0 and 1 both
    // at t=0 with different values, then a gap at t=10 that carries the
    // last valid value before it — tIdx 1's 20, in either input order
    val ts = Seq(0L, 0L, 10L).map(s => new java.sql.Timestamp(s * 1000))
    val rows = Seq(
      ("b", 0, 0, 0, ts(0), Fuse.encode(Array(10.0), "uint16"),
        "uint16", 0.0, 1, 1),
      ("b", 1, 0, 0, ts(1), Fuse.encode(Array(20.0), "uint16"),
        "uint16", 0.0, 1, 1),
      ("b", 2, 0, 0, ts(2), Fuse.encode(Array(0.0), "uint16"),
        "uint16", 0.0, 1, 1))
    def filled(in: Seq[(String, Int, Int, Int, java.sql.Timestamp,
        Array[Byte], String, Double, Int, Int)]) =
      TemporalFill.fillAcrossTime(spark,
        in.toDF("band", "tIdx", "ty", "tx", "time", "data", "dtype",
          "nodata", "width", "height").coalesce(1), timeDepth = 3)
        .orderBy("tIdx").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("filled").toSeq).toSeq
    val forward = filled(rows)
    assert(forward == filled(rows.reverse))
    assert(forward == Seq(Seq(10.0), Seq(20.0), Seq(20.0)))
  }
}
