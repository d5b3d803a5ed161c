package graft.load

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Across-time pixel composites — the analytics layer above the fused
  * cube that the reference's first-valid mosaic cannot express (its fuse
  * TODO notes mask-based fusing, `loader/_builder.py:182`): per-pixel
  * mean / max / min / count over a tile's time planes, nodata-aware.
  *
  * Implemented as a custom Spark `Aggregator` over tile rows (the one
  * genuinely custom aggregation of the engine, SURVEY §4): partial
  * buffers are (sum, count) planes that combine associatively, so
  * Catalyst runs it with map-side partial aggregation and the shuffle
  * carries one buffer per (band, ty, tx) — never the raw time planes.
  * At 100 TB that is the difference between shuffling the cube and
  * shuffling one plane per tile.
  *
  * The non-mergeable operators (median, quantile, masked median,
  * geomedian, MAD, Theil–Sen, temporal fill) share one plan, [[rechunk]],
  * with two gathers. The `LoadResult` wrappers of a driver-binned load
  * whose tiles each fit one slice read the load's own bins in the task
  * that reduces them (no pixel shuffle). Everything else rechunks the
  * frame's rows with one shuffle: the raw spellings here over a tile
  * frame of unknown origin (streams, cells, a copied, hand-built or
  * persisted `LoadResult`, a distributed-binned load), and a load whose
  * tiles need more than one slice.
  */
object Composite {

  /** Default cap on one task's DECODED plane state for the
    * non-mergeable across-time operators: gathering every time plane
    * of a whole tile into one task would be O(B·T·tileBytes) —
    * unbounded in archive depth T. So the caller supplies
    * `planesPerTile` (= B·T, driver-side metadata every `LoadResult`
    * knows), and [[rechunk]] SLICES the tile into row bands sized so
    * `planesPerTile · width · sliceRows · 8 ≤ budget` BEFORE it gathers
    * the planes, and reassembles full output planes in an output-sized
    * shuffle (1/T of the input — negligible). This is odc-algo's
    * pre-geomedian rechunk rule: spatial chunks chosen as a function of
    * time depth. */
  val DefaultStateBudgetBytes: Long = 256L << 20

  /** Weiszfeld's distance floor: the default `eps` of the geomedian
    * and its MADs. */
  val DefaultEps: Double = 1e-7

  /** Row-band height honoring the state budget: the largest
    * `sliceRows ∈ [1, h]` with `planesPerTile·w·sliceRows·8 ≤ budget`
    * (floor 1: a single row of all planes is the irreducible minimum —
    * the effective bound is `max(budget, planesPerTile·w·8)`). */
  def sliceRowsFor(planesPerTile: Int, w: Int, h: Int,
                   budgetBytes: Long): Int = {
    val perRow = math.max(1L, planesPerTile.toLong * w * 8L)
    math.max(1L, math.min(h.toLong, budgetBytes / perRow)).toInt
  }

  /** max-accumulator for spec-level proof of the per-task state bound
    * (peak decoded bytes actually buffered by any slice group). */
  final class MaxAcc extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var m = 0L
    def isZero: Boolean = m == 0L
    def copy(): MaxAcc = { val a = new MaxAcc; a.m = m; a }
    def reset(): Unit = m = 0L
    def add(v: Long): Unit = m = math.max(m, v)
    def merge(o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
      m = math.max(m, o.value)
    def value: Long = m
  }

  /** One input tile plane for the aggregation. */
  final case class TileIn(data: Array[Byte], dtype: String, nodata: Double,
                          width: Int, height: Int)

  /** (sum, min, max, count) planes; sized lazily from the first tile. */
  final case class Buf(var sum: Array[Double], var min: Array[Double],
                       var max: Array[Double], var cnt: Array[Int],
                       var width: Int, var height: Int)

  final case class CompositeOut(mean: Array[Double], min: Array[Double],
                                max: Array[Double], count: Array[Int])

  class PixelComposite extends Aggregator[TileIn, Buf, CompositeOut]
      with Serializable {

    override def zero: Buf = Buf(null, null, null, null, 0, 0)

    private def ensure(b: Buf, w: Int, h: Int): Unit =
      if (b.sum == null) {
        val n = w * h
        b.sum = new Array[Double](n)
        b.min = Array.fill(n)(Double.PositiveInfinity)
        b.max = Array.fill(n)(Double.NegativeInfinity)
        b.cnt = new Array[Int](n)
        b.width = w; b.height = h
      }

    override def reduce(b: Buf, t: TileIn): Buf = {
      ensure(b, t.width, t.height)
      require(b.width == t.width && b.height == t.height,
        s"tile shape mismatch: ${b.width}x${b.height} vs ${t.width}x${t.height}")
      val px = Fuse.decode(t.data, t.dtype)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        if (!(v.isNaN || v == t.nodata)) {
          b.sum(i) += v
          if (v < b.min(i)) b.min(i) = v
          if (v > b.max(i)) b.max(i) = v
          b.cnt(i) += 1
        }
        i += 1
      }
      b
    }

    override def merge(a: Buf, c: Buf): Buf = {
      if (a.sum == null) return c
      if (c.sum == null) return a
      require(a.width == c.width && a.height == c.height,
        s"tile shape mismatch in merge: ${a.width}x${a.height} vs ${c.width}x${c.height}")
      var i = 0
      while (i < a.sum.length) {
        a.sum(i) += c.sum(i)
        if (c.min(i) < a.min(i)) a.min(i) = c.min(i)
        if (c.max(i) > a.max(i)) a.max(i) = c.max(i)
        a.cnt(i) += c.cnt(i)
        i += 1
      }
      a
    }

    override def finish(b: Buf): CompositeOut = {
      if (b.sum == null) return CompositeOut(Array.empty, Array.empty,
        Array.empty, Array.empty)
      val n = b.sum.length
      val mean = new Array[Double](n)
      var i = 0
      while (i < n) {
        if (b.cnt(i) > 0) mean(i) = b.sum(i) / b.cnt(i)
        else { mean(i) = Double.NaN; b.min(i) = Double.NaN; b.max(i) = Double.NaN }
        i += 1
      }
      CompositeOut(mean, b.min, b.max, b.cnt)
    }

    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[CompositeOut] =
      Encoders.product[CompositeOut]
  }

  /** Across-time composite of a `Load` tile DataFrame: one row per
    * (band, ty, tx) with per-pixel mean/min/max/count planes. */
  def acrossTime(spark: SparkSession, tiles: DataFrame): DataFrame = {
    import spark.implicits._
    val agg = new PixelComposite().toColumn
    tiles
      .select(col("band"), col("ty"), col("tx"),
        col("data"), col("dtype"), col("nodata"),
        col("width"), col("height"))
      .as[(String, Int, Int, Array[Byte], String, Double, Int, Int)]
      .groupByKey { case (band, ty, tx, _, _, _, _, _) => (band, ty, tx) }
      .mapValues { case (_, _, _, data, dtype, nodata, w, h) =>
        TileIn(data, dtype, nodata, w, h)
      }
      .agg(agg)
      .map { case ((band, ty, tx), out) =>
        (band, ty, tx, out.mean, out.min, out.max, out.count)
      }
      .toDF("band", "ty", "tx", "mean", "min", "max", "count")
  }

  /** Per-pixel MEDIAN across time — the robust composite of the odc
    * ecosystem (geomedian family): unlike mean, a few cloudy/saturated
    * outlier scenes do not drag the composite.
    *
    * Median is not mergeable, so there is no partial-agg shape: every
    * valid value of a pixel must meet in one task. The scale-true plan
    * is the rechunk odc-algo performs before its geomedian — see
    * [[rechunk]]: row-band slices keyed `(band, ty, tx, slice)`, then
    * per-group selection with task state under the byte budget at any
    * archive depth. `planesPerTile` is the B·T plane count of a tile
    * (`LoadResult.medianComposite` passes it). */
  def medianAcrossTime(spark: SparkSession, tiles: DataFrame,
                       planesPerTile: Int,
                       stateBudgetBytes: Long = DefaultStateBudgetBytes,
                       stateProbe: Option[MaxAcc] = None): DataFrame =
    medianAcrossTime(spark, Gather(tiles), planesPerTile,
      stateBudgetBytes, stateProbe)

  private[graft] def medianAcrossTime(spark: SparkSession, in: Gather,
      planesPerTile: Int, stateBudgetBytes: Long,
      stateProbe: Option[MaxAcc]): DataFrame =
    selectionAcrossTime(spark, in, 0.5, planesPerTile, stateBudgetBytes,
      stateProbe).toDF("band", "ty", "tx", "median", "count")

  /** Per-pixel interpolated QUANTILE across time (q in [0,1]) — the
    * percentile composite (seasonal p25/p75 products): same rechunk
    * plan as the median, same interpolation convention as
    * SQL `quantile_cont`/numpy `percentile` (position q·(m−1), linear
    * between the straddling order statistics; q=0.5 reduces exactly to
    * the median). */
  def quantileAcrossTime(spark: SparkSession, tiles: DataFrame,
                         q: Double, planesPerTile: Int,
                         stateBudgetBytes: Long = DefaultStateBudgetBytes,
                         stateProbe: Option[MaxAcc] = None): DataFrame =
    quantileAcrossTime(spark, Gather(tiles), q, planesPerTile,
      stateBudgetBytes, stateProbe)

  private[graft] def quantileAcrossTime(spark: SparkSession, in: Gather,
      q: Double, planesPerTile: Int, stateBudgetBytes: Long,
      stateProbe: Option[MaxAcc]): DataFrame =
    selectionAcrossTime(spark, in, q, planesPerTile, stateBudgetBytes,
      stateProbe).toDF("band", "ty", "tx", "quantile", "count")

  private def selectionAcrossTime(spark: SparkSession, in: Gather,
                                  q: Double, planesPerTile: Int,
                                  budgetBytes: Long,
                                  stateProbe: Option[MaxAcc]) = {
    import spark.implicits._
    require(q >= 0 && q <= 1, s"quantile out of range: $q")
    rechunk(spark, in, planesPerTile, budgetBytes, stateProbe,
        jointBands = false) { (planes, n) =>
      val (out, cnt) = selectionKernel(planes.map(p => (p.px, p.nodata)), n, q)
      Iterator((planes(0).band, 0, Array(out), cnt))
    }.map(t => (t.band, t.ty, t.tx, t.planes(0), t.cnt))
  }

  /** Cloud-masked median — the signature EO composite (cloud-free
    * mosaic): per-pixel median of `dataBand` across time, using ONLY
    * observations whose `maskBand` pixel satisfies `clear` at the same
    * time. Data-valid-but-cloudy pixels are excluded (the case the data
    * band alone cannot catch); a missing mask plane for a time keeps
    * the observation (mask absence is not evidence of cloud); the mask
    * value reaches `clear` with nodata already mapped to NaN (so a
    * nodata mask pixel fails any equality predicate and masks out).
    *
    * Scale shape: the same rechunk as the unmasked median, just keyed
    * `(ty, tx, slice)` so the data AND mask slices of a tile meet in
    * one task. */
  def maskedMedianAcrossTime(spark: SparkSession, tiles: DataFrame,
                             dataBand: String, maskBand: String,
                             clear: Double => Boolean,
                             planesPerTile: Int,
                             stateBudgetBytes: Long = DefaultStateBudgetBytes,
                             stateProbe: Option[MaxAcc] = None): DataFrame =
    maskedMedianAcrossTime(spark, Gather(tiles), dataBand, maskBand,
      clear, planesPerTile, stateBudgetBytes, stateProbe)

  private[graft] def maskedMedianAcrossTime(spark: SparkSession, in: Gather,
      dataBand: String, maskBand: String, clear: Double => Boolean,
      planesPerTile: Int, stateBudgetBytes: Long,
      stateProbe: Option[MaxAcc]): DataFrame = {
    import spark.implicits._
    rechunk(spark, in.only(Seq(dataBand, maskBand)),
        planesPerTile, stateBudgetBytes, stateProbe,
        jointBands = true) { (planes, n) =>
      def byTime(ps: Array[Plane]) = scala.collection.mutable.HashMap.from(
        ps.iterator.map(p => p.tIdx -> ((p.px, p.nodata))))
      val (data, mask) = planes.partition(_.band == dataBand)
      val (med, cnt) = maskedMedianKernel(byTime(data), byTime(mask), n, clear)
      Iterator((dataBand, 0, Array(med), cnt))
    }.map(t => (t.band, t.ty, t.tx, t.planes(0), t.cnt))
      .toDF("band", "ty", "tx", "median", "count")
  }

  /** Masked-median kernel over one slice group's data + mask planes
    * keyed by tIdx. */
  private def maskedMedianKernel(
      dataPl: scala.collection.Map[Int, (Array[Double], Double)],
      maskPl: scala.collection.Map[Int, (Array[Double], Double)],
      n: Int, clear: Double => Boolean): (Array[Double], Array[Int]) = {
    val times = dataPl.keys.toArray.sorted
    val med = new Array[Double](n)
    val cnt = new Array[Int](n)
    val vals = new Array[Double](times.length)
    var i = 0
    while (i < n) {
      var m = 0
      var p = 0
      while (p < times.length) {
        val (px, nodata) = dataPl(times(p))
        val v = px(i)
        val ok = !(v.isNaN || v == nodata) && (maskPl.get(times(p)) match {
          case Some((mp, mnd)) =>
            val mv = mp(i)
            clear(if (mv.isNaN || mv == mnd) Double.NaN else mv)
          case None => true
        })
        if (ok) { vals(m) = v; m += 1 }
        p += 1
      }
      if (m == 0) med(i) = Double.NaN
      else {
        java.util.Arrays.sort(vals, 0, m)
        med(i) =
          if (m % 2 == 1) vals(m / 2)
          else (vals(m / 2 - 1) + vals(m / 2)) / 2.0
      }
      cnt(i) = m
      i += 1
    }
    (med, cnt)
  }

  /** Per-pixel interpolated quantile over `planes` (each `n` pixels,
    * paired with its nodata). Pixels are independent, so the row-band
    * slicing cannot change a single output value. */
  private def selectionKernel(
      planes: scala.collection.IndexedSeq[(Array[Double], Double)],
      n: Int, q: Double): (Array[Double], Array[Int]) = {
    val out = new Array[Double](n)
    val cnt = new Array[Int](n)
    val vals = new Array[Double](planes.length)
    var i = 0
    while (i < n) {
      var m = 0
      var p = 0
      while (p < planes.length) {
        val (px, nodata) = planes(p)
        val v = px(i)
        if (!(v.isNaN || v == nodata)) { vals(m) = v; m += 1 }
        p += 1
      }
      if (m == 0) out(i) = Double.NaN
      else {
        java.util.Arrays.sort(vals, 0, m)
        val pos = q * (m - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        out(i) =
          if (lo == hi) vals(lo)
          else vals(lo) + (vals(hi) - vals(lo)) * (pos - lo)
      }
      cnt(i) = m
      i += 1
    }
    (out, cnt)
  }

  /** One sliced tile-plane row band: the encoded bytes of rows
    * `[r0, r0+sh)` of a plane acquired at epoch second `tSec`
    * (contiguous in the row-major payload, so slicing is one arraycopy
    * of ENCODED data — never a decode). */
  final case class SliceIn(band: String, tIdx: Int, tSec: Long, ty: Int,
                           tx: Int, slice: Int, data: Array[Byte],
                           dtype: String, nodata: Double, width: Int,
                           sliceH: Int)

  /** One decoded slice plane as a kernel sees it. */
  final case class Plane(band: String, tIdx: Int, tSec: Long,
                         px: Array[Double], nodata: Double)

  /** What a kernel emits for its slice group: `(band, tIdx, planes,
    * cnt)`, the fragment of output row `(band, tIdx, ty, tx)` over the
    * slice's pixels. An operator that does not split its output by band
    * or by time emits a constant there. */
  type Frag = (String, Int, Array[Array[Double]], Array[Int])

  /** A kernel fragment placed in its tile and slice. */
  final case class SliceOut(band: String, tIdx: Int, ty: Int, tx: Int,
                            slice: Int, planes: Array[Array[Double]],
                            cnt: Array[Int])

  /** One output row reassembled from the fragments of every slice. */
  final case class TileOut(band: String, tIdx: Int, ty: Int, tx: Int,
                           planes: Array[Array[Double]], cnt: Array[Int])

  /** Where [[rechunk]] takes its planes from: the rows of `tiles`, or,
    * when `plan` is the bin plan of the driver-binned load those tiles
    * are ([[LoadResult]] attaches it), the load's own bins. */
  private[graft] final case class Gather(tiles: DataFrame,
                                         plan: Option[Load.BinPlan] = None) {
    /** The same gather over `bands` only. */
    def only(bands: Seq[String]): Gather =
      Gather(tiles.where(col("band").isin(bands.map(b => b: Any): _*)),
        plan.map(p => p.copy(bins = p.bins.filter(b => bands.contains(b.band)))))
  }

  /** The one plan of every non-mergeable across-time operator
    * (median/quantile/masked median/geomedian/MAD, Theil–Sen, temporal
    * fill):
    *  1. cut every tile into row bands sized so that
    *     `planesPerTile · statePerPlane` decoded planes fit
    *     `budgetBytes` ([[sliceRowsFor]]);
    *  2. gather slice `s` of every time plane of a tile into one group
    *     keyed `(band, ty, tx, slice)` — or `(ty, tx, slice)` when
    *     `jointBands` co-locates every band of a tile;
    *  3. run `kernel(planes, pixelsPerPlane)` over the group's planes in
    *     `(time, tIdx)` order (a total order: same-time planes keep one
    *     fixed order);
    *  4. concatenate each output row's slice fragments in one
    *     output-sized shuffle ([[reassemble]]).
    * Step 2 has two gathers, with the same kernel behind both:
    *  - fused ([[fusedGroups]]), when `in.plan` is set and every tile
    *    fits one slice: one task per group reads and fuses the group's
    *    bins and emits output rows, so the operator is one stage with no
    *    shuffle and no step 4;
    *  - shuffled, for everything else: the rows of `in.tiles` are cut
    *    into row bands ([[slicedTiles]]) and moved by ONE rechunk
    *    shuffle. A load whose tiles need more than one slice takes this
    *    gather too: it reads each tile once, where a fused unit per slice
    *    would open every source once per slice.
    * Task state is `statePerPlane · planes · w · sliceRows · 8` bytes,
    * under the budget at any archive depth; `stateProbe` records its
    * peak. */
  private[graft] def rechunk(spark: SparkSession, in: Gather,
      planesPerTile: Int, budgetBytes: Long, stateProbe: Option[MaxAcc],
      jointBands: Boolean, statePerPlane: Int = 1)(
      kernel: (Array[Plane], Int) => Iterator[Frag]): Dataset[TileOut] = {
    import spark.implicits._
    require(planesPerTile > 0,
      s"planesPerTile (B·T planes per tile) must be positive: $planesPerTile")
    val statePlanes = planesPerTile * statePerPlane
    // what both gathers run per slice group of `w`×`sh` planes
    def reduce(ty: Int, tx: Int, slice: Int, planes: Array[Plane], w: Int,
               sh: Int): Iterator[SliceOut] = {
      val sorted = planes.sortBy(p => (p.tSec, p.tIdx))
      stateProbe.foreach(
        _.add(statePerPlane.toLong * sorted.length * w * sh * 8L))
      kernel(sorted, w * sh).map { case (band, tIdx, ps, cnt) =>
        SliceOut(band, tIdx, ty, tx, slice, ps, cnt)
      }
    }
    val oneSlicePerTile = (plan: Load.BinPlan) =>
      plan.bins.map(b => (b.ty, b.tx)).distinct.forall { case (ty, tx) =>
        val tile = plan.tiling.tileGeobox(ty, tx)
        sliceRowsFor(statePlanes, tile.width, tile.height, budgetBytes) >=
          tile.height
      }
    in.plan.filter(oneSlicePerTile) match {
      case Some(plan) => fusedGroups(spark, plan, jointBands)(reduce)
      case None =>
        reassemble(slicedTiles(spark, in.tiles, statePlanes, budgetBytes)
          .groupByKey(s => (if (jointBands) "" else s.band, s.ty, s.tx,
            s.slice))
          .flatMapGroups { (key, it) =>
            val (_, ty, tx, slice) = key
            var w = -1
            var sh = -1
            val planes = it.map { s =>
              if (w < 0) { w = s.width; sh = s.sliceH }
              require(w == s.width && sh == s.sliceH,
                s"slice shape mismatch at ($ty,$tx): ${w}x$sh vs ${s.width}x${s.sliceH}")
              Plane(s.band, s.tIdx, s.tSec, Fuse.decode(s.data, s.dtype),
                s.nodata)
            }.toArray
            reduce(ty, tx, slice, planes, w, sh)
          })
    }
  }

  /** The fused gather: the driver plans one unit per group from the
    * load's bins (only bins that exist, so a time with no mask plane
    * gives no plane), and [[Load.BinPlan.mapUnits]] reads and fuses each
    * unit's bins in one task, which decodes them as a rechunk group
    * would decode the tile rows and runs `reduce` over the whole tile. */
  private def fusedGroups(spark: SparkSession, plan: Load.BinPlan,
      jointBands: Boolean)(
      reduce: (Int, Int, Int, Array[Plane], Int, Int) => Iterator[SliceOut])
      : Dataset[TileOut] = {
    import spark.implicits._
    val units = plan.bins.toSeq
      .groupBy(b => (if (jointBands) "" else b.band, b.ty, b.tx))
      .toSeq.sortBy(_._1)
      .map { case ((_, ty, tx), bins) =>
        val tile = plan.tiling.tileGeobox(ty, tx)
        ((ty, tx, tile.width, tile.height), bins)
      }
    spark.createDataset(plan.mapUnits(spark, units, math.max(1, units.length)) {
      case ((ty, tx, w, h), rows) =>
        // the tile row's payload, decoded at the epoch second
        // `unix_timestamp` gives its time, is what the shuffle gathers
        val planes = rows.map(r => Plane(r.band, r.tIdx,
          Math.floorDiv(r.time.getTime, 1000L), Fuse.decode(r.data, r.dtype),
          r.nodata)).toArray
        reduce(ty, tx, 0, planes, w, h).map(o =>
          TileOut(o.band, o.tIdx, ty, tx, o.planes, o.cnt))
    })
  }

  /** Cut every tile row into row-band slices honoring the state budget.
    * All planes of a tile share (w, h), so every row of a group
    * computes the same slicing — slice `s` of every time plane lands in
    * the same `(…, s)` group. */
  private def slicedTiles(spark: SparkSession, tiles: DataFrame,
                          planesPerTile: Int, budgetBytes: Long)
      : Dataset[SliceIn] = {
    import spark.implicits._
    tiles
      .select(col("band"), col("tIdx"), unix_timestamp(col("time")),
        col("ty"), col("tx"), col("data"), col("dtype"), col("nodata"),
        col("width"), col("height"))
      .as[(String, Int, Long, Int, Int, Array[Byte], String, Double, Int, Int)]
      .flatMap { case (band, tIdx, tSec, ty, tx, data, dtype, nodata, w, h) =>
        val sr = sliceRowsFor(planesPerTile, w, h, budgetBytes)
        val rowBytes = w * graft.raster.Grb.dtypeSize(dtype)
        (0 until h by sr).iterator.map { r0 =>
          val sh = math.min(sr, h - r0)
          val cut = java.util.Arrays.copyOfRange(
            data, r0 * rowBytes, (r0 + sh) * rowBytes)
          SliceIn(band, tIdx, tSec, ty, tx, r0 / sr, cut, dtype, nodata, w, sh)
        }
      }
  }

  /** Concatenate slice-ordered fragments — the ONE arraycopy kernel of
    * the reassembly: `parts(i) = (sliceIdx, planes, cnt)`, all parts
    * carrying the same number of planes. Plane `b` of the result joins
    * every part's plane `b`; `cnt` joins every part's `cnt`
    * independently (per-pixel counts, or one count per slice). Sorts
    * by slice index in place. */
  private[graft] def concatSlices(
      parts: Array[(Int, Array[Array[Double]], Array[Int])])
      : (Array[Array[Double]], Array[Int]) = {
    scala.util.Sorting.stableSort(parts,
      (a: (Int, Array[Array[Double]], Array[Int]),
       b: (Int, Array[Array[Double]], Array[Int])) => a._1 < b._1)
    val ps = parts.toIndexedSeq
    val planes = Array.tabulate(ps(0)._2.length)(b =>
      Array.concat(ps.map(_._2(b)): _*))
    (planes, Array.concat(ps.map(_._3): _*))
  }

  /** Reassemble full output rows from per-slice fragments: one
    * output-sized shuffle keyed (band, tIdx, ty, tx); task state is the
    * S slices of ONE output row — bounded by tile size, independent
    * of T. */
  private def reassemble(ds: Dataset[SliceOut]): Dataset[TileOut] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(o => (o.band, o.tIdx, o.ty, o.tx))
      .mapGroups { (key, it) =>
        val (band, tIdx, ty, tx) = key
        val (planes, cnt) =
          concatSlices(it.map(o => (o.slice, o.planes, o.cnt)).toArray)
        TileOut(band, tIdx, ty, tx, planes, cnt)
      }
  }

  /** Geometric MEDIAN composite (the EO "geomedian" product — the
    * multi-band JOINT median): per pixel, the band-vector x minimizing
    * Σ_t ‖x − p_t‖₂ over the per-time observations p_t, so the
    * composite pixel is spectrally consistent across bands (per-band
    * medians can mix dates; the geomedian cannot). Computed with a
    * FIXED-iteration Weiszfeld scheme — x⁰ = mean, then
    * xᵏ⁺¹ = Σ wₜ·pₜ / Σ wₜ with wₜ = 1/max(‖xᵏ−pₜ‖, eps) — every fold
    * time-ascending, so the arithmetic is a closed deterministic
    * formula a SQL oracle can replay bit-for-bit (no convergence test,
    * no data-dependent branching).
    *
    * An observation contributes only where ALL requested bands are
    * valid at that pixel (the joint-vector requirement); pixels with
    * zero complete observations emit NaN.
    *
    * Scale shape: same rechunk as the masked median — keyed
    * `(ty, tx, slice)` so every band's time planes of a row band meet
    * in one task, which runs the per-pixel iterations locally.
    * Weiszfeld is embarrassingly parallel across pixels; nothing
    * iterates across tasks. `planesPerTile` is B·T. */
  def geomedianAcrossTime(spark: SparkSession, tiles: DataFrame,
                          bands: Seq[String], planesPerTile: Int,
                          iters: Int = 8, eps: Double = DefaultEps,
                          stateBudgetBytes: Long = DefaultStateBudgetBytes,
                          stateProbe: Option[MaxAcc] = None): DataFrame =
    geomedianAcrossTime(spark, Gather(tiles), bands, planesPerTile, iters,
      eps, stateBudgetBytes, stateProbe)

  private[graft] def geomedianAcrossTime(spark: SparkSession, in: Gather,
      bands: Seq[String], planesPerTile: Int, iters: Int, eps: Double,
      stateBudgetBytes: Long, stateProbe: Option[MaxAcc]): DataFrame = {
    import spark.implicits._
    require(bands.nonEmpty, "geomedian needs at least one band")
    val nb = bands.length
    val bandIdx = bands.zipWithIndex.toMap
    rechunk(spark, in.only(bands),
        planesPerTile, stateBudgetBytes, stateProbe,
        jointBands = true) { (planes, n) =>
      val (geo, cnt) =
        geomedianKernel(byTimeAndBand(planes, bandIdx), nb, n, iters, eps)
      bands.indices.iterator.map(b => (bands(b), 0, Array(geo(b)), cnt))
    }.map(t => (t.band, t.ty, t.tx, t.planes(0), t.cnt))
      .toDF("band", "ty", "tx", "geomedian", "count")
  }

  /** A joint-band group's planes keyed (tIdx, bandOrdinal) — the input
    * of [[geomedianKernel]] and [[geomadKernel]]. A mutable hash map:
    * the kernels look a plane up per pixel, where it is faster than the
    * immutable one. */
  private def byTimeAndBand(planes: Array[Plane], bandIdx: Map[String, Int])
      : scala.collection.Map[(Int, Int), (Array[Double], Double)] =
    scala.collection.mutable.HashMap.from(planes.iterator.map(p =>
      (p.tIdx, bandIdx(p.band)) -> ((p.px, p.nodata))))

  /** Geomedian kernel over gathered (tIdx, bandOrdinal)-keyed planes of
    * `n` pixels: complete-observation gather (time-ascending) + the
    * fixed-iteration Weiszfeld solve. */
  private[graft] def geomedianKernel(
      planes: scala.collection.Map[(Int, Int), (Array[Double], Double)],
      nb: Int, n: Int, iters: Int,
      eps: Double): (Array[Array[Double]], Array[Int]) = {
    // only times with a plane for EVERY band can contribute
    val times = planes.keys.map(_._1).toSeq.distinct.sorted
      .filter(t => (0 until nb).forall(b => planes.contains((t, b))))
      .toArray
    val geo = Array.fill(nb)(new Array[Double](n))
    val cnt = new Array[Int](n)
    val obs = Array.ofDim[Double](times.length, nb)
    var i = 0
    while (i < n) {
      // gather complete observations, time-ascending
      var m = 0
      var p = 0
      while (p < times.length) {
        var ok = true
        var b = 0
        while (b < nb && ok) {
          val (px, nodata) = planes((times(p), b))
          val v = px(i)
          if (v.isNaN || v == nodata) ok = false else obs(m)(b) = v
          b += 1
        }
        if (ok) m += 1
        p += 1
      }
      cnt(i) = m
      if (m == 0) {
        var b = 0
        while (b < nb) { geo(b)(i) = Double.NaN; b += 1 }
      } else {
        val x = weiszfeld(obs, m, nb, iters, eps)
        var b = 0
        while (b < nb) { geo(b)(i) = x(b); b += 1 }
      }
      i += 1
    }
    (geo, cnt)
  }

  /** Fixed-iteration Weiszfeld geometric median of `obs(0 until m)`
    * (each a length-`nb` band vector): x⁰ = component mean, then
    * xᵏ⁺¹ = Σ wₜ·pₜ / Σ wₜ with wₜ = 1/max(‖xᵏ−pₜ‖, eps). Every fold
    * is time- then band-ascending — the deterministic contract the SQL
    * oracles replay. */
  private[graft] def weiszfeld(obs: Array[Array[Double]], m: Int, nb: Int,
                        iters: Int, eps: Double): Array[Double] = {
    // m = 1: the geomedian of one observation IS that observation —
    // exactly, not via (p·w)/w with the clamped weight w = 1/eps, whose
    // two roundings wobble the last ulp (the SQL oracles shortcut the
    // same way, so the arithmetic stays replayable bit-for-bit)
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

  /** Median with the medianAcrossTime convention: middle value for odd
    * m, mean of the two middles for even (matches SQL MEDIAN). Sorts
    * vals(0 until m) in place. */
  private def medianOf(vals: Array[Double], m: Int): Double = {
    java.util.Arrays.sort(vals, 0, m)
    if (m % 2 == 1) vals(m / 2) else (vals(m / 2 - 1) + vals(m / 2)) / 2.0
  }

  /** The geomedian's three MAD companion layers (the deviation bands
    * every production geomedian ships with): per pixel, the MEDIAN
    * across time of each observation's deviation from the geomedian
    * point x —
    *   EMAD  = median ‖pₜ − x‖₂            (Euclidean distance)
    *   SMAD  = median 1 − cos(pₜ, x)       (spectral / angular)
    *   BCMAD = median Σ|pₜ−x| / Σ|pₜ+x|   (Bray–Curtis)
    * Zero denominators yield 0 (not NaN) in both engines. Same
    * `(ty, tx, slice)`-keyed rechunk and fixed-iteration Weiszfeld as
    * [[geomedianAcrossTime]] — the MADs are a per-pixel postpass over
    * the same gathered observations. */
  def geomadAcrossTime(spark: SparkSession, tiles: DataFrame,
                       bands: Seq[String], planesPerTile: Int,
                       iters: Int = 8, eps: Double = DefaultEps,
                       stateBudgetBytes: Long = DefaultStateBudgetBytes,
                       stateProbe: Option[MaxAcc] = None): DataFrame =
    geomadAcrossTime(spark, Gather(tiles), bands, planesPerTile, iters, eps,
      stateBudgetBytes, stateProbe)

  private[graft] def geomadAcrossTime(spark: SparkSession, in: Gather,
      bands: Seq[String], planesPerTile: Int, iters: Int, eps: Double,
      stateBudgetBytes: Long, stateProbe: Option[MaxAcc]): DataFrame = {
    import spark.implicits._
    require(bands.nonEmpty, "geomad needs at least one band")
    val nb = bands.length
    val bandIdx = bands.zipWithIndex.toMap
    rechunk(spark, in.only(bands),
        planesPerTile, stateBudgetBytes, stateProbe,
        jointBands = true) { (planes, n) =>
      val (emad, smad, bcmad, cnt) =
        geomadKernel(byTimeAndBand(planes, bandIdx), nb, n, iters, eps)
      Iterator(("", 0, Array(emad, smad, bcmad), cnt))
    }.map(t => (t.ty, t.tx, t.planes(0), t.planes(1), t.planes(2), t.cnt))
      .toDF("ty", "tx", "emad", "smad", "bcmad", "count")
  }

  /** MAD-layer kernel over gathered (tIdx, bandOrdinal)-keyed planes of
    * `n` pixels — same gather + Weiszfeld as [[geomedianKernel]], then
    * the three deviation medians. */
  private[graft] def geomadKernel(
      planes: scala.collection.Map[(Int, Int), (Array[Double], Double)],
      nb: Int, n: Int, iters: Int, eps: Double)
      : (Array[Double], Array[Double], Array[Double], Array[Int]) = {
    val times = planes.keys.map(_._1).toSeq.distinct.sorted
      .filter(t => (0 until nb).forall(b => planes.contains((t, b))))
      .toArray
    val emad = new Array[Double](n)
    val smad = new Array[Double](n)
    val bcmad = new Array[Double](n)
    val cnt = new Array[Int](n)
    val obs = Array.ofDim[Double](times.length, nb)
    val dev = new Array[Double](times.length)
    var i = 0
    while (i < n) {
      var m = 0
      var p = 0
      while (p < times.length) {
        var ok = true
        var b = 0
        while (b < nb && ok) {
          val (px, nodata) = planes((times(p), b))
          val v = px(i)
          if (v.isNaN || v == nodata) ok = false else obs(m)(b) = v
          b += 1
        }
        if (ok) m += 1
        p += 1
      }
      cnt(i) = m
      if (m == 0) {
        emad(i) = Double.NaN; smad(i) = Double.NaN; bcmad(i) = Double.NaN
      } else {
        val x = weiszfeld(obs, m, nb, iters, eps)
        var xn2 = 0.0
        var b = 0
        while (b < nb) { xn2 += x(b) * x(b); b += 1 }
        val xn = math.sqrt(xn2)
        // EMAD
        var t = 0
        while (t < m) {
          var d2 = 0.0; b = 0
          while (b < nb) { val d = obs(t)(b) - x(b); d2 += d * d; b += 1 }
          dev(t) = math.sqrt(d2)
          t += 1
        }
        emad(i) = medianOf(dev, m)
        // SMAD
        t = 0
        while (t < m) {
          var dot = 0.0; var pn2 = 0.0; b = 0
          while (b < nb) {
            dot += obs(t)(b) * x(b); pn2 += obs(t)(b) * obs(t)(b); b += 1
          }
          val den = math.sqrt(pn2) * xn
          dev(t) = if (den == 0.0) 0.0 else 1.0 - dot / den
          t += 1
        }
        smad(i) = medianOf(dev, m)
        // BCMAD
        t = 0
        while (t < m) {
          var num = 0.0; var den = 0.0; b = 0
          while (b < nb) {
            num += math.abs(obs(t)(b) - x(b))
            den += math.abs(obs(t)(b) + x(b))
            b += 1
          }
          dev(t) = if (den == 0.0) 0.0 else num / den
          t += 1
        }
        bcmad(i) = medianOf(dev, m)
      }
      i += 1
    }
    (emad, smad, bcmad, cnt)
  }
}
