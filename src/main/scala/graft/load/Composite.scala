package graft.load

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Across-time pixel composites — the analytics layer above the fused
  * cube that the reference's first-valid mosaic cannot express (its fuse
  * TODO notes mask-based fusing, `loader/_builder.py:182`): per-pixel
  * mean / max / min / count over a tile's time planes, nodata-aware.
  *
  * Implemented as a [[PixelFold]] (sum, min and max planes plus the
  * valid count): partial buffers combine associatively, so Catalyst
  * runs it with map-side partial aggregation and the shuffle carries
  * one buffer per (band, ty, tx) — never the raw time planes. At
  * 100 TB that is the difference between shuffling the cube and
  * shuffling one plane per tile.
  *
  * The non-mergeable operators (median, quantile, masked median,
  * geomedian, MAD, Theil–Sen, temporal fill) share one plan, [[rechunk]],
  * with two gathers. The `LoadResult` wrappers of a load whose tiles
  * each fit one slice read the load's own bins in the task that reduces
  * them (no pixel shuffle). Everything else rechunks the frame's rows
  * with one shuffle: a `LoadResult` without its bin plan (copied,
  * hand-built or persisted), a load whose tiles need more than one
  * slice, and the raw `DataFrame` spellings here, which are public
  * entry points only (no main code path calls them).
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

  final case class CompositeOut(mean: Array[Double], min: Array[Double],
                                max: Array[Double], count: Array[Int])

  /** Planes (sum, min, max); min and max merge by comparison. */
  class PixelComposite extends PixelFold[CompositeOut] {
    protected def init: Array[Double] =
      Array(0.0, Double.PositiveInfinity, Double.NegativeInfinity)

    protected def add(s: Array[Array[Double]], px: Array[Double],
                      t: Double): Unit = {
      val sum = s(0); val mn = s(1); val mx = s(2)
      var i = 0
      while (i < px.length) {
        val v = px(i)
        if (!v.isNaN) {
          sum(i) += v
          if (v < mn(i)) mn(i) = v
          if (v > mx(i)) mx(i) = v
        }
        i += 1
      }
    }

    override protected def mergePlanes(a: Array[Array[Double]],
                                       c: Array[Array[Double]]): Unit = {
      val sum = a(0); val mn = a(1); val mx = a(2)
      val cs = c(0); val cmn = c(1); val cmx = c(2)
      var i = 0
      while (i < sum.length) {
        sum(i) += cs(i)
        if (cmn(i) < mn(i)) mn(i) = cmn(i)
        if (cmx(i) > mx(i)) mx(i) = cmx(i)
        i += 1
      }
    }

    protected def result(n: Array[Int], s: Array[Array[Double]])
        : CompositeOut = {
      val mean = new Array[Double](n.length)
      var i = 0
      while (i < n.length) {
        if (n(i) > 0) mean(i) = s(0)(i) / n(i)
        else { mean(i) = Double.NaN; s(1)(i) = Double.NaN; s(2)(i) = Double.NaN }
        i += 1
      }
      CompositeOut(mean, s(1), s(2), n)
    }
  }

  /** Across-time composite of a `Load` tile DataFrame: one row per
    * (band, ty, tx) with per-pixel mean/min/max/count planes. */
  def acrossTime(spark: SparkSession, tiles: DataFrame): DataFrame = {
    import spark.implicits._
    val fold = new PixelComposite
    PixelFold.byTile(spark, tiles, fold).map { case (band, ty, tx, b) =>
      val o = fold.finish(b)
      (band, ty, tx, o.mean, o.min, o.max, o.count)
    }.toDF("band", "ty", "tx", "mean", "min", "max", "count")
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
      val (out, cnt) =
        selectionKernel(planes.map(_.px), planes.map(_.nodata), n, q)
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
      // one plane per tIdx (a later plane of a tIdx replaces an earlier
      // one), the mask aligned to the data's times
      def byTime(ps: Array[Plane]) = ps.iterator.map(p => p.tIdx -> p).toMap
      val (data, mask) = planes.partition(_.band == dataBand)
      val dataAt = byTime(data)
      val maskAt = byTime(mask)
      val times = dataAt.keys.toArray.sorted
      val (med, cnt) = maskedMedianKernel(times.map(dataAt),
        times.map(maskAt.getOrElse(_, null)), n, clear)
      Iterator((dataBand, 0, Array(med), cnt))
    }.map(t => (t.band, t.ty, t.tx, t.planes(0), t.cnt))
      .toDF("band", "ty", "tx", "median", "count")
  }

  /** Masked-median kernel over one slice group's data planes (time-
    * ascending) and the mask plane of each of their times (null where a
    * time has none). */
  private def maskedMedianKernel(data: Array[Plane], mask: Array[Plane],
      n: Int, clear: Double => Boolean): (Array[Double], Array[Int]) = {
    val med = new Array[Double](n)
    val cnt = new Array[Int](n)
    val vals = new Array[Double](data.length)
    var i = 0
    while (i < n) {
      var m = 0
      var p = 0
      while (p < data.length) {
        val v = data(p).px(i)
        val mk = mask(p)
        val ok = !(v.isNaN || v == data(p).nodata) && (mk == null || {
          val mv = mk.px(i)
          clear(if (mv.isNaN || mv == mk.nodata) Double.NaN else mv)
        })
        if (ok) { vals(m) = v; m += 1 }
        p += 1
      }
      med(i) = if (m == 0) Double.NaN else medianOf(vals, m)
      cnt(i) = m
      i += 1
    }
    (med, cnt)
  }

  /** Per-pixel interpolated quantile over planes `px` (each `n` pixels,
    * plane `p` with nodata `nodata(p)`). Pixels are independent, so the
    * row-band slicing cannot change a single output value. */
  private def selectionKernel(px: Array[Array[Double]],
      nodata: Array[Double], n: Int,
      q: Double): (Array[Double], Array[Int]) = {
    val out = new Array[Double](n)
    val cnt = new Array[Int](n)
    val vals = new Array[Double](px.length)
    var i = 0
    while (i < n) {
      var m = 0
      var p = 0
      while (p < px.length) {
        val v = px(p)(i)
        if (!(v.isNaN || v == nodata(p))) { vals(m) = v; m += 1 }
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
    * when `plan` is the bin plan of the load those tiles are
    * ([[LoadResult]] attaches it), the load's own bins. */
  private[graft] final case class Gather(tiles: DataFrame,
                                         plan: Option[Load.BinPlan] = None) {
    /** The same gather over `bands` only. */
    def only(bands: Seq[String]): Gather =
      Gather(tiles.where(col("band").isin(bands.map(b => b: Any): _*)),
        plan.map(_.only(bands)))
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
    *    fits one slice: the task that holds a group reads and fuses the
    *    group's bins and emits output rows, so the operator is one stage
    *    with no shuffle and no step 4;
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
      (0 until plan.bins.length).forall { i =>
        val tile = plan.tiling.tileGeobox(plan.bins.ty(i), plan.bins.tx(i))
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
    * unit's bins in the task that holds it, which decodes them as a
    * rechunk group would decode the tile rows and runs `reduce` over the
    * whole tile. */
  private def fusedGroups(spark: SparkSession, plan: Load.BinPlan,
      jointBands: Boolean)(
      reduce: (Int, Int, Int, Array[Plane], Int, Int) => Iterator[SliceOut])
      : Dataset[TileOut] = {
    import spark.implicits._
    spark.createDataset(plan.mapUnits(spark, plan.tileGroups(jointBands)) { rows =>
      val rs = rows.buffered
      val (ty, tx, w, h) = (rs.head.ty, rs.head.tx, rs.head.width,
        rs.head.height)
      // the tile row's payload, decoded at the epoch second
      // `unix_timestamp` gives its time, is what the shuffle gathers
      val planes = rs.map(r => Plane(r.band, r.tIdx,
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
    * in one task, which solves its pixels in blocks ([[Weiszfeld]]).
    * Weiszfeld is embarrassingly parallel across pixels; nothing
    * iterates across tasks. `planesPerTile` is B·T; the rechunk keeps
    * 1/[[ScratchShare]] of the state budget for the solver's block
    * scratch ([[solverRechunk]]). `eps` must be positive with a finite
    * 1/eps. */
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
    solverRechunk(spark, in, bands, planesPerTile, iters, eps,
        stateBudgetBytes, stateProbe) { solver =>
      val (geo, cnt) = geomedianKernel(solver)
      bands.indices.iterator.map(b => (bands(b), 0, Array(geo(b)), cnt))
    }.map(t => (t.band, t.ty, t.tx, t.planes(0), t.cnt))
      .toDF("band", "ty", "tx", "geomedian", "count")
  }

  /** Share of a geomedian/geomad task's state budget kept for the
    * solver's block scratch. */
  private[graft] val ScratchShare = 64

  /** The rechunk of [[geomedianAcrossTime]] and [[geomadAcrossTime]]:
    * the planes are sliced for the budget less its 1/[[ScratchShare]],
    * and each group's [[Weiszfeld]] solver sizes its block scratch to
    * that share, so decoded planes plus scratch stay within the budget
    * (floor: one row of planes and one pixel of scratch). `stateProbe`
    * records the two together. */
  private def solverRechunk(spark: SparkSession, in: Gather,
      bands: Seq[String], planesPerTile: Int, iters: Int, eps: Double,
      budgetBytes: Long, stateProbe: Option[MaxAcc])(
      kernel: Weiszfeld => Iterator[Frag]): Dataset[TileOut] = {
    // an invalid observation's weight is masked by ·0.0, which is +0.0
    // only while 1/max(√d2, eps) is finite
    require(eps > 0 && !(1.0 / eps).isInfinite,
      s"eps must be positive with a finite 1/eps: $eps")
    val scratchBytes = budgetBytes / ScratchShare
    rechunk(spark, in.only(bands), planesPerTile, budgetBytes - scratchBytes,
        stateProbe, jointBands = true) { (planes, n) =>
      val solver = Weiszfeld(JointStack(planes, bands), n, iters, eps,
        scratchBytes)
      // the group's decoded planes, as rechunk counts them, plus scratch
      stateProbe.foreach(_.add(planes.length * n * 8L + solver.scratchBytes))
      kernel(solver)
    }
  }

  /** A joint-band group's complete times, resolved once: `px(t)(b)` is
    * the plane of band `b` at the t-th tIdx (ascending) that has a plane
    * for every one of the `nb` bands, `nodata(t)(b)` its nodata. The
    * input of [[geomedianKernel]] and [[geomadKernel]]. */
  private[graft] final case class JointStack(nb: Int,
      px: Array[Array[Array[Double]]], nodata: Array[Array[Double]])

  private[graft] object JointStack {
    def apply(planes: Array[Plane], bands: Seq[String]): JointStack = {
      val bandIdx = bands.zipWithIndex.toMap
      // a later plane of a (tIdx, band) replaces an earlier one
      val at = planes.iterator.map(p => (p.tIdx, bandIdx(p.band)) -> p).toMap
      val times = at.keys.map(_._1).toArray.distinct.sorted
        .filter(t => bands.indices.forall(b => at.contains((t, b))))
      JointStack(bands.length,
        times.map(t => Array.tabulate(bands.length)(b => at((t, b)).px)),
        times.map(t => Array.tabulate(bands.length)(b => at((t, b)).nodata)))
    }
  }

  /** Geomedian kernel over the [[Weiszfeld]] solve of a [[JointStack]]
    * of `n` pixels: per band the geomedian plane, and per pixel the
    * count of complete observations. */
  private[graft] def geomedianKernel(solver: Weiszfeld)
      : (Array[Array[Double]], Array[Int]) = {
    val (nb, n) = (solver.s.nb, solver.n)
    val geo = Array.fill(nb)(new Array[Double](n))
    val cnt = new Array[Int](n)
    solver.blocks(cnt) { (i0, len) =>
      var b = 0
      while (b < nb) {
        System.arraycopy(solver.x(b), 0, geo(b), i0, len); b += 1
      }
    }
    (geo, cnt)
  }

  /** Most pixels per block of the geomedian solver. */
  private val MaxBlock = 512

  /** Doubles of [[Weiszfeld]] block scratch per pixel of the block. */
  private def scratchPerPixel(tc: Int, nb: Int): Long =
    tc.toLong * (nb + 1) + 2L * nb + 4

  /** Pixels per block of a [[Weiszfeld]] solve over `tc` complete times
    * of `nb` bands and `n` pixels: at most [[MaxBlock]] and `n`, and
    * small enough that the block scratch neither exceeds the stack's
    * `tc·nb·n` decoded doubles nor `scratchBytes` — floor one pixel,
    * whose scratch is the irreducible minimum. */
  private[graft] def blockFor(tc: Int, nb: Int, n: Int,
                              scratchBytes: Long): Int = {
    val perPixel = scratchPerPixel(tc, nb)
    math.max(1L, Seq(MaxBlock.toLong, n.toLong, tc.toLong * nb * n / perPixel,
      scratchBytes / (8 * perPixel)).min).toInt
  }

  /** The fixed-iteration Weiszfeld solve behind [[geomedianKernel]] and
    * [[geomadKernel]], over blocks of `blk` pixels. For each block it
    * copies the observations into `obs(t)(b)(j)` — an observation with
    * any band invalid is an exact 0.0, with `valid(t)(j)` = 0.0 (else
    * 1.0) — and leaves the block's geomedian in `x(b)(j)`. Every
    * innermost loop of the iterations is a counted loop over the
    * block's pixels on primitive arrays, which C2 can vectorize, `sqrt`
    * and divide included:
    *   d2 += dd·dd (band-ascending), w = (1/max(√d2, eps))·valid,
    *   den += w and num(b) += o·w (time-ascending).
    * Per pixel this is the scalar recurrence bit for bit: the folds keep
    * their order, and a masked term adds +0.0 to a sum that began at
    * +0.0, which never changes it (Java does no FMA contraction). A
    * pixel with no complete observation gets NaN, one with a single
    * one gets that observation itself — exactly, not (p·w)/w with the
    * clamped weight 1/eps, whose two roundings wobble the last ulp (the
    * SQL oracles shortcut the same way). */
  private[graft] final class Weiszfeld(val s: JointStack, val n: Int,
      iters: Int, eps: Double, blk: Int) {
    private val nb = s.nb
    private val tc = s.px.length
    /** Bytes of the block scratch below. */
    val scratchBytes: Long = 8L * blk * scratchPerPixel(tc, nb)
    val obs: Array[Array[Array[Double]]] = Array.ofDim[Double](tc, nb, blk)
    val valid: Array[Array[Double]] = Array.ofDim[Double](tc, blk)
    val x: Array[Array[Double]] = Array.ofDim[Double](nb, blk)
    private val num = Array.ofDim[Double](nb, blk)
    private val m = new Array[Double](blk)
    private val den = new Array[Double](blk)
    private val d2 = new Array[Double](blk)
    private val w = new Array[Double](blk)

    /** Solve every block of pixels in order, writing each pixel's count
      * of complete observations into `cnt`, then call `f(i0, len)` with
      * pixels `[i0, i0+len)` held in the scratch. */
    def blocks(cnt: Array[Int])(f: (Int, Int) => Unit): Unit = {
      var i0 = 0
      while (i0 < n) {
        val len = math.min(blk, n - i0)
        solve(i0, len, cnt)
        f(i0, len)
        i0 += len
      }
    }

    private def solve(i0: Int, len: Int, cnt: Array[Int]): Unit = {
      gather(i0, len)
      start(len)
      var k = 0
      while (k < iters) { step(len); k += 1 }
      finish(i0, len, cnt)
    }

    /** Observations of pixels `[i0, i0+len)` into `obs`/`valid`, and
      * each pixel's count of complete observations into `m` (a double
      * count is exact). */
    private def gather(i0: Int, len: Int): Unit = {
      java.util.Arrays.fill(m, 0, len, 0.0)
      var t = 0
      while (t < tc) {
        val ok = valid(t)
        java.util.Arrays.fill(ok, 0, len, 1.0)
        var b = 0
        while (b < nb) {
          val px = s.px(t)(b)
          val nd = s.nodata(t)(b)
          var j = 0
          while (j < len) {
            val v = px(i0 + j)
            if (v.isNaN || v == nd) ok(j) = 0.0
            j += 1
          }
          b += 1
        }
        b = 0
        while (b < nb) {
          val px = s.px(t)(b)
          val o = obs(t)(b)
          var j = 0
          while (j < len) {
            o(j) = if (ok(j) != 0.0) px(i0 + j) else 0.0; j += 1
          }
          b += 1
        }
        var j = 0
        while (j < len) { m(j) += ok(j); j += 1 }
        t += 1
      }
    }

    /** x⁰ = component mean. */
    private def start(len: Int): Unit = {
      var b = 0
      while (b < nb) {
        val xb = x(b)
        java.util.Arrays.fill(xb, 0, len, 0.0)
        var t = 0
        while (t < tc) {
          val o = obs(t)(b)
          var j = 0
          while (j < len) { xb(j) += o(j); j += 1 }
          t += 1
        }
        var j = 0
        while (j < len) { xb(j) = xb(j) / m(j); j += 1 }
        b += 1
      }
    }

    /** One Weiszfeld iteration: xᵏ⁺¹ = Σ wₜ·pₜ / Σ wₜ. */
    private def step(len: Int): Unit = {
      java.util.Arrays.fill(den, 0, len, 0.0)
      var b = 0
      while (b < nb) { java.util.Arrays.fill(num(b), 0, len, 0.0); b += 1 }
      var t = 0
      while (t < tc) {
        java.util.Arrays.fill(d2, 0, len, 0.0)
        b = 0
        while (b < nb) {
          val o = obs(t)(b)
          val xb = x(b)
          var j = 0
          while (j < len) { val dd = o(j) - xb(j); d2(j) += dd * dd; j += 1 }
          b += 1
        }
        val ok = valid(t)
        var j = 0
        while (j < len) {
          val wj = (1.0 / math.max(math.sqrt(d2(j)), eps)) * ok(j)
          w(j) = wj
          den(j) += wj
          j += 1
        }
        b = 0
        while (b < nb) {
          val o = obs(t)(b)
          val nm = num(b)
          j = 0
          while (j < len) { nm(j) += o(j) * w(j); j += 1 }
          b += 1
        }
        t += 1
      }
      b = 0
      while (b < nb) {
        val xb = x(b)
        val nm = num(b)
        var j = 0
        while (j < len) { xb(j) = nm(j) / den(j); j += 1 }
        b += 1
      }
    }

    /** Counts out; NaN for no complete observation, the observation
      * itself for one. */
    private def finish(i0: Int, len: Int, cnt: Array[Int]): Unit = {
      var j = 0
      while (j < len) {
        cnt(i0 + j) = m(j).toInt
        if (m(j) == 0.0) {
          var b = 0
          while (b < nb) { x(b)(j) = Double.NaN; b += 1 }
        } else if (m(j) == 1.0) {
          var t = 0
          while (valid(t)(j) == 0.0) t += 1
          var b = 0
          while (b < nb) { x(b)(j) = obs(t)(b)(j); b += 1 }
        }
        j += 1
      }
    }
  }

  private[graft] object Weiszfeld {
    /** The solve of `s` in the largest block ([[blockFor]]) whose
      * scratch fits `scratchBytes`. */
    def apply(s: JointStack, n: Int, iters: Int, eps: Double,
              scratchBytes: Long): Weiszfeld =
      new Weiszfeld(s, n, iters, eps,
        blockFor(s.px.length, s.nb, n, scratchBytes))
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
    * `(ty, tx, slice)`-keyed rechunk and blocked Weiszfeld solve as
    * [[geomedianAcrossTime]] — the MADs are a per-pixel postpass over
    * each block's observations. `eps` must be positive with a finite
    * 1/eps. */
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
    solverRechunk(spark, in, bands, planesPerTile, iters, eps,
        stateBudgetBytes, stateProbe) { solver =>
      val (emad, smad, bcmad, cnt) = geomadKernel(solver)
      Iterator(("", 0, Array(emad, smad, bcmad), cnt))
    }.map(t => (t.ty, t.tx, t.planes(0), t.planes(1), t.planes(2), t.cnt))
      .toDF("ty", "tx", "emad", "smad", "bcmad", "count")
  }

  /** MAD-layer kernel over the [[Weiszfeld]] solve of a [[JointStack]]
    * of `n` pixels, as in [[geomedianKernel]], then per pixel the three
    * deviation medians over its complete observations in time order. */
  private[graft] def geomadKernel(solver: Weiszfeld)
      : (Array[Double], Array[Double], Array[Double], Array[Int]) = {
    val (nb, n) = (solver.s.nb, solver.n)
    val tc = solver.s.px.length
    val emad = new Array[Double](n)
    val smad = new Array[Double](n)
    val bcmad = new Array[Double](n)
    val cnt = new Array[Int](n)
    val dev = new Array[Double](tc)
    val (obs, valid, x) = (solver.obs, solver.valid, solver.x)
    solver.blocks(cnt) { (i0, len) =>
      var j = 0
      while (j < len) {
        val i = i0 + j
        val m = cnt(i)
        if (m == 0) {
          emad(i) = Double.NaN; smad(i) = Double.NaN; bcmad(i) = Double.NaN
        } else {
          var xn2 = 0.0
          var b = 0
          while (b < nb) { xn2 += x(b)(j) * x(b)(j); b += 1 }
          val xn = math.sqrt(xn2)
          // EMAD
          var k = 0
          var t = 0
          while (t < tc) {
            if (valid(t)(j) != 0.0) {
              var d2 = 0.0; b = 0
              while (b < nb) {
                val d = obs(t)(b)(j) - x(b)(j); d2 += d * d; b += 1
              }
              dev(k) = math.sqrt(d2); k += 1
            }
            t += 1
          }
          emad(i) = medianOf(dev, m)
          // SMAD
          k = 0; t = 0
          while (t < tc) {
            if (valid(t)(j) != 0.0) {
              var dot = 0.0; var pn2 = 0.0; b = 0
              while (b < nb) {
                val o = obs(t)(b)(j)
                dot += o * x(b)(j); pn2 += o * o; b += 1
              }
              val den = math.sqrt(pn2) * xn
              dev(k) = if (den == 0.0) 0.0 else 1.0 - dot / den; k += 1
            }
            t += 1
          }
          smad(i) = medianOf(dev, m)
          // BCMAD
          k = 0; t = 0
          while (t < tc) {
            if (valid(t)(j) != 0.0) {
              var num = 0.0; var den = 0.0; b = 0
              while (b < nb) {
                val o = obs(t)(b)(j)
                num += math.abs(o - x(b)(j))
                den += math.abs(o + x(b)(j))
                b += 1
              }
              dev(k) = if (den == 0.0) 0.0 else num / den; k += 1
            }
            t += 1
          }
          bcmad(i) = medianOf(dev, m)
        }
        j += 1
      }
    }
    (emad, smad, bcmad, cnt)
  }
}
