package graft.load

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One per-pixel fold over a tile's time planes: the shared plumbing of
  * the MERGEABLE across-time operators (mean/min/max/count composite,
  * OLS trend, harmonic fit, peak-of-season argmax, anomaly statistics)
  * and of the streaming standing states built from them.
  *
  * The state of one (band, ty, tx) is a [[PixelFold.Buf]]: a
  * valid-count plane plus `k` double planes, each starting at the
  * fold's [[init]] value, sized from the first tile. [[reduce]] checks
  * the tile shape, decodes the plane, turns NaN and nodata pixels into
  * NaN and counts the rest, then hands the whole plane to the fold's
  * [[add]]; [[merge]] adds the counts and hands the planes to
  * [[mergePlanes]]. The hooks take whole planes, so each fold's pixel
  * loop is its own monomorphic loop. A fold keeps only its initial
  * values, its plane update, its merge rule and its [[result]].
  *
  * Partial buffers combine associatively, so [[PixelFold.byTile]] runs
  * as a Spark `Aggregator` with map-side partial aggregation: the
  * exchange carries one buffer per (band, ty, tx) per input partition,
  * never the time planes, and state stays bounded at any archive
  * depth. The streaming standing states are the same buffers, merged
  * by [[PixelFold.mergeByTile]].
  */
abstract class PixelFold[O] extends Serializable {
  import PixelFold.{Buf, In}

  /** The initial value of each of the `k` planes. */
  protected def init: Array[Double]

  /** Fold one plane into the planes `s`: `px` is NaN at every invalid
    * pixel (its count is already taken), `t` is the plane's scalar. */
  protected def add(s: Array[Array[Double]], px: Array[Double],
                    t: Double): Unit

  /** Merge the planes `c` into `a`; every plane is additive unless a
    * fold says otherwise. */
  protected def mergePlanes(a: Array[Array[Double]],
                            c: Array[Array[Double]]): Unit = {
    var p = 0
    while (p < a.length) {
      val x = a(p)
      val y = c(p)
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      p += 1
    }
  }

  /** The fold's output from the valid counts and the planes. */
  protected def result(n: Array[Int], s: Array[Array[Double]]): O

  final def zero: Buf = Buf(null, null, 0, 0)

  final def reduce(b: Buf, t: In): Buf = {
    if (b.n == null) {
      val m = t.width * t.height
      b.n = new Array[Int](m)
      b.planes = init.map(v => Array.fill(m)(v))
      b.width = t.width; b.height = t.height
    }
    require(b.width == t.width && b.height == t.height,
      s"tile shape mismatch: ${b.width}x${b.height} vs ${t.width}x${t.height}")
    val px = Fuse.decode(t.data, t.dtype)
    val n = b.n
    var i = 0
    while (i < px.length) {
      val v = px(i)
      if (v.isNaN || v == t.nodata) px(i) = Double.NaN else n(i) += 1
      i += 1
    }
    add(b.planes, px, t.t)
    b
  }

  final def merge(a: Buf, c: Buf): Buf = {
    if (a.n == null) return c
    if (c.n == null) return a
    require(a.width == c.width && a.height == c.height,
      s"tile shape mismatch in merge: ${a.width}x${a.height} vs ${c.width}x${c.height}")
    var i = 0
    while (i < a.n.length) { a.n(i) += c.n(i); i += 1 }
    mergePlanes(a.planes, c.planes)
    a
  }

  /** The output of a buffer; an empty buffer gives empty planes. */
  final def finish(b: Buf): O =
    if (b.n == null)
      result(Array.emptyIntArray, init.map(_ => Array.emptyDoubleArray))
    else result(b.n, b.planes)
}

object PixelFold {

  /** One tile plane entering a fold. `t` is the plane's scalar: a whole
    * day number ([[dayOf]]) for the trend and the peak, epoch seconds
    * for the harmonic fit, unused by the others. */
  final case class In(t: Double, data: Array[Byte], dtype: String,
                      nodata: Double, width: Int, height: Int)

  /** The state of one tile: valid counts `n` and the fold's planes,
    * sized from the first tile. */
  final case class Buf(var n: Array[Int], var planes: Array[Array[Double]],
                       var width: Int, var height: Int)

  /** A tile's `time` as a whole day number since `t0Sec`:
    * `floor((t − t0)/86400 + 0.5)`. Integer days keep every running
    * sum order-exact. */
  def dayOf(t0Sec: Long): Column =
    floor(((unix_timestamp(col("time")) - t0Sec) / 86400.0) + 0.5)

  private final class Agg(fold: PixelFold[_])
      extends Aggregator[In, Buf, Buf] {
    def zero: Buf = fold.zero
    def reduce(b: Buf, t: In): Buf = fold.reduce(b, t)
    def merge(a: Buf, c: Buf): Buf = fold.merge(a, c)
    def finish(b: Buf): Buf = b
    def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    def outputEncoder: Encoder[Buf] = Encoders.product[Buf]
  }

  /** Fold a `Load` tile frame per (band, ty, tx); `t` is each plane's
    * scalar. Returns each key's buffer. */
  def byTile(spark: SparkSession, tiles: DataFrame, fold: PixelFold[_],
             t: Column = lit(0.0)): Dataset[(String, Int, Int, Buf)] = {
    import spark.implicits._
    tiles
      .select(col("band"), col("ty"), col("tx"), t.cast("double"),
        col("data"), col("dtype"), col("nodata"),
        col("width"), col("height"))
      .as[(String, Int, Int, Double, Array[Byte], String, Double, Int, Int)]
      .groupByKey(r => (r._1, r._2, r._3))
      .mapValues(r => In(r._4, r._5, r._6, r._7, r._8, r._9))
      .agg(new Agg(fold).toColumn)
      .map { case ((band, ty, tx), b) => (band, ty, tx, b) }
  }

  /** Merge buffer rows that share a (band, ty, tx) with the fold's own
    * merge — the standing-state merge of the streaming sinks. */
  def mergeByTile(spark: SparkSession, bufs: Dataset[(String, Int, Int, Buf)],
                  fold: PixelFold[_]): Dataset[(String, Int, Int, Buf)] = {
    import spark.implicits._
    bufs.groupByKey(r => (r._1, r._2, r._3))
      .reduceGroups((a, c) => (a._1, a._2, a._3, fold.merge(a._4, c._4)))
      .map(_._2)
  }
}
