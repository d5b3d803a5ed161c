package graft.load

import graft.geo._
import graft.model._
import graft.planner.Planner
import graft.raster.{AutoReader, Grb, IoCredentials, RasterReader}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.storage.StorageLevel

/** The flagship query: STAC items -> gridded, fused raster tiles
  * (`odc.stac.load`, SURVEY §3.1). Stages 1-9 (arg normalization, parsing,
  * grid planning, band resolution, grouping, tiling, spatial binning) are
  * driver-side *metadata* work, exactly as in the reference; the pixel
  * plane is a Spark job with no shuffle at all:
  *
  *   items --driver--> bins (band, tIdx, ty, tx) -> sources in fuse rank
  *         --parallelize--> read + first-valid fuse -> tile row  [S7 + A2]
  *
  * The driver bins in one primitive pass ([[planBins]]). The bins ship
  * as flat columns naming their sources by id into one broadcast source
  * table, as the reference's tasks name items by index; pixels are read
  * by the task that owns the output tile and never move again. The plan
  * must fit driver memory: a result holds about 50 bytes per bin of one
  * source (50 MB at 1 M bins, 206 MB at 4 M); planning adds 8 bytes per
  * (item, tile, band).
  *
  * Every [[LoadResult]] of `load` keeps its bin plan, so its across-time
  * composites read their own bins in the task that reduces them (the
  * fused gather of [[Composite.rechunk]]): one job, no pixel shuffle,
  * while its tiles are not persisted and each tile fits one slice.
  * First-valid fuse short-circuits: once a tile has no remaining nodata
  * pixels, later sources are skipped (reads avoided entirely — an
  * optimization the eager reference path lacks).
  */
object Load {

  /** One fused output tile. `data` is the pixel payload in the output
    * dtype, row-major little-endian (BinaryType keeps 100 TB of tiles
    * unboxed on the JVM heap). */
  final case class TileRow(band: String, tIdx: Int, ty: Int, tx: Int,
                           time: java.sql.Timestamp,
                           x0: Int, y0: Int, width: Int, height: Int,
                           dtype: String, nodata: Double,
                           validCount: Long, data: Array[Byte])

  /** Bins in flat primitive columns, in `(band, tIdx, ty, tx)` order: bin
    * `i` is band `band(i)` (a rank into [[PlanTables.bands]]) at time
    * `tIdx(i)` and tile `(ty(i), tx(i))`, and fuses the sources
    * `srcIds(srcOff(i) until srcOff(i + 1))` (ids into
    * [[PlanTables.sources]]) in fuse-rank order. */
  private[graft] final case class Bins(band: Array[Int], tIdx: Array[Int],
      ty: Array[Int], tx: Array[Int], srcOff: Array[Int],
      srcIds: Array[Int]) {
    def length: Int = band.length

    /** Bins `idx(0)`, `idx(1)`, … in that order. */
    def select(idx: Array[Int]): Bins = {
      val off = idx.scanLeft(0)((o, i) => o + srcOff(i + 1) - srcOff(i))
      val ids = new Array[Int](off.last)
      for (k <- idx.indices)
        System.arraycopy(srcIds, srcOff(idx(k)), ids, off(k), off(k + 1) - off(k))
      Bins(idx.map(band), idx.map(tIdx), idx.map(ty), idx.map(tx), off, ids)
    }
  }

  /** Task units over a plan's bins: unit `u` reads and fuses the bins
    * `order(off(u) until off(u + 1))`, in that order. */
  private[graft] final case class Units(off: Array[Int], order: Array[Int]) {
    def length: Int = off.length - 1
  }

  /** What every task of a load's bin jobs reads once, in one broadcast.
    * `sources` is the source table: entry `item · bands.length + band`,
    * null where the item lacks the band. `io` is the plan-time credential
    * capture (the reference's capture_rio_env → per-worker restore). */
  private[graft] final case class PlanTables(tiling: GeoBoxTiles,
      bands: Array[String], sources: Array[RasterSource],
      cfgs: Map[String, RasterLoadParams], dtypes: Map[String, String],
      times: IndexedSeq[java.sql.Timestamp], io: Option[IoCredentials])

  /** A load's bin plan, kept privately on its [[LoadResult]]: the bins
    * and the broadcast tables a task needs to read and fuse a bin. The
    * load's own pixel job and [[Composite.rechunk]]'s fused gather both
    * run over it through [[mapUnits]]. */
  private[graft] final case class BinPlan(bins: Bins,
      tables: Broadcast[PlanTables], reader: RasterReader,
      progress: Option[(Long, Long) => Unit]) {
    lazy val tiling: GeoBoxTiles = tables.value.tiling

    /** The same plan over the bins of `names` only. */
    def only(names: Seq[String]): BinPlan = {
      val keep = tables.value.bands.map(names.contains(_))
      copy(bins = bins.select(
        Array.range(0, bins.length).filter(i => keep(bins.band(i)))))
    }

    /** Groups the bins by `key`: one unit per distinct key, units in the
      * order their first bins come, each unit's bins in bin order. */
    private def units(key: Int => Long): Units = {
      val n = bins.length
      val keys = Array.range(0, n).map(key(_))
      // distinct keys, sorted: a bin's unit is found by binary search
      val sorted = keys.clone()
      java.util.Arrays.sort(sorted)
      var m = 0
      for (i <- 0 until n if m == 0 || sorted(i) != sorted(m - 1)) {
        sorted(m) = sorted(i); m += 1
      }
      // units numbered by the first bin that comes for them
      val first = Array.fill(m)(-1)
      var next = 0
      val unitOf = keys.map { k =>
        val s = java.util.Arrays.binarySearch(sorted, 0, m, k)
        if (first(s) < 0) { first(s) = next; next += 1 }
        first(s)
      }
      val off = new Array[Int](m + 1)
      unitOf.foreach(u => off(u + 1) += 1)
      for (u <- 0 until m) off(u + 1) += off(u)
      val fill = off.clone()
      val order = new Array[Int](n)
      for (i <- 0 until n) { order(fill(unitOf(i))) = i; fill(unitOf(i)) += 1 }
      Units(off, order)
    }

    /** The load job's units, F14 time chunking (`chunks={'time': N}`):
      * one unit computes `tc` consecutive time planes of the same (band,
      * ty, tx) — fewer, larger units when the time axis is long. */
    def timeChunks(tc: Int): Units = {
      val nt = tables.value.times.length.toLong
      units(i => tileKey(bins.band(i) * nt + bins.tIdx(i) / tc, i))
    }

    /** The fused gather's units: every bin of a tile, one unit per band
      * or, with `jointBands`, one for all bands. */
    def tileGroups(jointBands: Boolean): Units =
      units(i => tileKey(if (jointBands) 0L else bins.band(i).toLong, i))

    private def tileKey(outer: Long, i: Int): Long =
      (outer * tiling.ny + bins.ty(i)) * tiling.nx + bins.tx(i)

    /** Reads and fuses `units` of these bins on the executors, in at most
      * two tasks per core with the units dealt round-robin: neighbours
      * (which share source overlap and cost) spread across tasks. Each
      * task ships its own bins as flat columns; it restores the load's
      * IO credentials and allocates one tile-sized pixel buffer once,
      * then hands `f` each unit's tile rows, fused lazily in order.
      * Progress fires once per bin fused, against the bins of all
      * `units` (an entry registered by this call). */
    def mapUnits[O: scala.reflect.ClassTag](spark: SparkSession,
        units: Units)(f: Iterator[TileRow] => Iterator[O])
        : org.apache.spark.rdd.RDD[O] = {
      val p = math.max(1, math.min(units.length,
        spark.sparkContext.defaultParallelism * 2))
      val slices = (0 until p).map { s =>
        val us = (s until units.length by p).toArray
        (us.scanLeft(0)((o, u) => o + units.off(u + 1) - units.off(u)),
          bins.select(us.flatMap(u =>
            units.order.slice(units.off(u), units.off(u + 1)))))
      }
      val progressId = progress.fold(-1L)(cb =>
        registerProgress(units.order.length.toLong, cb))
      // task-side inputs as locals: the closure must not capture the plan
      val (bc, rd) = (tables, reader)
      spark.sparkContext.parallelize(slices, p).mapPartitions { it =>
        val t = bc.value
        t.io.foreach(graft.raster.IoSession.restore(_))
        // one reusable pixel buffer per task (tiles are tileW*tileH max):
        // cuts per-tile allocation from ~8 MB to the encoded payload
        val buf = new Array[Double](t.tiling.tileW * t.tiling.tileH)
        it.flatMap { case (unitOff, b) =>
          Iterator.range(0, unitOff.length - 1).flatMap { u =>
            f(Iterator.range(unitOff(u), unitOff(u + 1)).map { i =>
              val row = fuseBin(t, b, i, rd, buf)
              if (progressId >= 0) reportProgress(progressId)
              row
            })
          }
        }
      }
    }
  }

  /** Per-band load-config resolution (F7, `loader/_reader.py:20-65`):
    * scalar-or-map user params expanded against band defaults. */
  def resolveLoadCfg(bands: Seq[(String, RasterBandMetadata)],
                     dtype: Option[String] = None,
                     nodata: Option[Double] = None,
                     resampling: Map[String, String] = Map.empty,
                     useOverviews: Boolean = true,
                     failOnError: Boolean = true): Map[String, RasterLoadParams] =
    bands.map { case (name, md) =>
      name -> RasterLoadParams(
        dataType = dtype.orElse(md.dataType),
        fillValue = nodata.orElse(md.nodata),
        srcNodataFallback = md.nodata,
        useOverviews = useOverviews,
        resampling = resampling.getOrElse(name,
          resampling.getOrElse("*", "nearest")),
        failOnError = failOnError)
    }.toMap

  /** dst nodata chain (`loader/_reader.py:84-101`): cfg fill >
    * NaN-if-float > src nodata > 0. */
  def dstNodata(cfg: RasterLoadParams, dtype: String): Double =
    cfg.fillValue.getOrElse(
      if (Grb.isFloat(dtype)) Double.NaN
      else cfg.srcNodataFallback.getOrElse(0.0))

  // ---- progress reporting (reference `_stac_load.py:110, 177-178`) ----
  // The tqdm-style hook of the reference's eager path: `progress` fires
  // (done, total) once per completed bin while the pixel stage runs;
  // `total` is the planned bin count, known before the job starts.
  // JVM-local registry: tasks look their load's entry up by id. On
  // local[n] (the reference's single-process analog) every task shares
  // the driver JVM, so callbacks are exact and per-bin; on a multi-JVM
  // cluster executor-side lookups miss and degrade to no-op — there a
  // driver UI should attach a SparkListener over the stage instead
  // (per-task granularity via standard metrics plumbing).
  //
  // Contract (same as a tqdm bar over the reference's eager loop): the
  // hook tracks ONE full eager consumption of the tiles plan. A fused
  // composite of the load reads the bins itself, so building one
  // registers its own entry, whose total is the bins it reads.
  // Entries self-remove at done == total; partially evaluating the lazy plan
  // (e.g. show(5)) then re-running counts the recomputed bins toward
  // the same total. Callbacks run serialized per load, so they must be
  // fast and non-blocking. Loads whose plan is never fully consumed
  // leave their entry behind — the registry is capped, dropping the
  // oldest entry past [[ProgressRegistryMax]] so a long-lived driver
  // cannot accumulate unbounded callback closures.
  private val progressIds = new java.util.concurrent.atomic.AtomicLong()
  private val ProgressRegistryMax = 64
  private val progressRegistry = new java.util.concurrent.ConcurrentHashMap[
    java.lang.Long,
    (java.util.concurrent.atomic.AtomicLong, Long, (Long, Long) => Unit)]()

  private def registerProgress(total: Long,
                               cb: (Long, Long) => Unit): Long = {
    if (progressRegistry.size >= ProgressRegistryMax) {
      // ids are monotonic: the smallest key is the oldest abandoned load
      val keys = progressRegistry.keySet()
      var oldest: java.lang.Long = null
      val it = keys.iterator()
      while (it.hasNext) {
        val k = it.next()
        if (oldest == null || k < oldest) oldest = k
      }
      if (oldest != null) progressRegistry.remove(oldest)
    }
    val id = progressIds.incrementAndGet()
    progressRegistry.put(id,
      (new java.util.concurrent.atomic.AtomicLong(), total, cb))
    id
  }

  /** Called from the task that fused a bin; no-op if the entry is gone
    * (finished load, or an executor JVM that never had it). The count +
    * callback pair is serialized per load so `done` is strictly
    * monotonic under concurrent tasks — negligible next to per-bin
    * pixel work. */
  def reportProgress(id: Long): Unit = {
    val entry = progressRegistry.get(id)
    if (entry != null) entry.synchronized {
      val (ctr, total, cb) = entry
      val done = math.min(ctr.incrementAndGet(), total)
      cb(done, total)
      if (done >= total) progressRegistry.remove(id)
    }
  }

  // scalastyle:off parameter.number
  def load(spark: SparkSession,
           items: Seq[ParsedItem],
           schemas: Map[String, CollectionMetadata],
           bands: Seq[String] = Nil,
           crs: Option[String] = None,
           resolution: Option[Double] = None,
           bbox: Option[BBox] = None,
           geobox: Option[GeoBox] = None,
           like: Option[GeoBox] = None,
           lon: Option[(Double, Double)] = None,
           lat: Option[(Double, Double)] = None,
           x: Option[(Double, Double)] = None,
           y: Option[(Double, Double)] = None,
           anchor: Option[graft.geo.Anchor] = None,
           align: Option[Double] = None,
           geopolygon: Option[Geom] = None,
           groupby: String = "id",
           chunks: Int = 2048,
           timeChunks: Int = 1,
           dtype: Option[String] = None,
           nodata: Option[Double] = None,
           resampling: Map[String, String] = Map.empty,
           useOverviews: Boolean = true,
           preserveOriginalOrder: Boolean = false,
           progress: Option[(Long, Long) => Unit] = None,
           reader: RasterReader = AutoReader): LoadResult = {
    import spark.implicits._
    require(items.nonEmpty, "no items to load")

    // stage 3: output grid planning (full 12-parameter surface, P8)
    val outGbox = Planner.outputGeobox(items, schemas, bands,
      crs = crs, resolution = resolution, bbox = bbox, geobox = geobox,
      like = like, lon = lon, lat = lat, x = x, y = y,
      anchor = anchor, align = align, geopolygon = geopolygon)
      .getOrElse(throw new IllegalArgumentException(
        "Failed to determine output projection and resolution"))

    // stage 4: band + load-config resolution (first collection rules)
    val md = schemas(items.head.collection)
    val resolved = md.resolveBands(bands)
    val cfgs = resolveLoadCfg(resolved, dtype = dtype, nodata = nodata,
      resampling = resampling, useOverviews = useOverviews)
    val outDtypes = resolved.map { case (name, bmd) =>
      name -> cfgs(name).dataType.getOrElse(
        Planner.electDtype(bmd.dataType.toSeq))
    }.toMap

    // stage 6: temporal grouping; solar_day keys on the output grid mid-lon
    val midLon = {
      val c = outGbox.extent
      Crs.transform(outGbox.crs, Crs.LonLat,
        (c.x0 + c.x1) / 2, (c.y0 + c.y1) / 2)._1
    }
    val grouping = Planner.GroupBy.parse(groupby,
      if (groupby == "solar_day") Some(midLon) else None)
    val groups = Planner.groupItems(items, grouping, preserveOriginalOrder)
    val times = Planner.groupTimestamps(items, groups)

    // stage 7: tiling
    val gbt = GeoBoxTiles(outGbox, chunks, chunks)

    // stage 8: footprints with loud drop accounting. An item contributing
    // no footprint (no proj geobox AND no parsable geometry) must not
    // vanish silently — real catalogs hit this via exotic geometry types
    // (`_mdtools.py:768-784`).
    val footprints: IndexedSeq[Option[Geom]] = items.map(i =>
      i.safeGeometry(Some(outGbox.crs), schemas(i.collection))).toIndexedSeq
    val droppedIdx = items.indices.filter(footprints(_).isEmpty)
    if (droppedIdx.nonEmpty) {
      val ids = droppedIdx.take(5).map(items(_).id).mkString(", ")
      System.err.println(
        s"[graft.load] WARNING: ${droppedIdx.size}/${items.size} item(s) " +
          "have no footprint (no proj geobox or geometry) and are excluded " +
          s"from spatial binning: $ids" +
          (if (droppedIdx.size > 5) ", ..." else ""))
    }
    require(droppedIdx.size < items.size,
      "no item has a footprint; nothing to load")

    // optional polygon ROI: bins must intersect the geopolygon itself,
    // not just its bbox (reference `output_geobox(geopolygon=...)`)
    val roiPoly: Option[Geom] = geopolygon.map(_.toCrs(outGbox.crs))
    def roiTiles(fp: Geom): Seq[(Int, Int)] = {
      val ts = gbt.tilesIntersecting(fp)
      roiPoly match {
        case Some(r) =>
          ts.filter { case (ty, tx) => r.intersectsBox(gbt.tileGeobox(ty, tx).extent) }
        case None => ts
      }
    }

    // bands by rank of name: the bins' band order
    val bandKeys = resolved.map { case (name, _) =>
      name -> md.bandKey(name).norm }.distinct.sortBy(_._1)
    val nb = bandKeys.length
    val sources = new Array[RasterSource](items.length * nb)
    for ((item, i) <- items.iterator.zipWithIndex;
         ((_, key), b) <- bandKeys.iterator.zipWithIndex)
      sources(i * nb + b) = item.bands.get(key).orNull

    // stage 9: spatial binning on the driver — the same move a DSv2
    // source makes in planInputPartitions (Spark's own file sources list
    // and split driver-side too), so the pixel job starts with ZERO
    // shuffle. (A seed-row shuffle was measured 10x the metadata cost at
    // 32 threads — per-task encoder and exchange overhead dwarfs 200-byte
    // rows; and AQE's byte-based coalescing would collapse
    // metadata-small/compute-heavy exchanges to one task anyway.)
    val members = groups.map(_.toArray).toArray
    val bins = planBins(members, nb, gbt, i => footprints(i).map(roiTiles),
      sources)
    val tables = spark.sparkContext.broadcast(PlanTables(gbt,
      bandKeys.map(_._1).toArray, sources, cfgs, outDtypes,
      times.toIndexedSeq, graft.raster.IoSession.capture()))
    val plan = BinPlan(bins, tables, reader, progress)
    val tiles = spark.createDataset(plan.mapUnits(spark,
      plan.timeChunks(math.max(1, timeChunks)))(rows => rows))
    LoadResult(tiles.toDF(), outGbox, times, outDtypes,
      outDtypes.map { case (b, dt) => b -> dstNodata(cfgs(b), dt) })
      .withPlan(plan)
  }
  // scalastyle:on parameter.number

  /** The bins of items grouped into time groups (`members(tIdx)` lists
    * item indices in fuse rank), in one primitive pass: every item's
    * `tiles` (None: no footprint) times each band it has a source for
    * (`sources(item · nb + band)`, the source id) append one packed key
    * (band, tIdx, ty, tx, rank); one sort of the keys puts each bin's
    * keys in a run, its sources in rank order. */
  private def planBins(members: Array[Array[Int]], nb: Int,
      gbt: GeoBoxTiles, tiles: Int => Option[Seq[(Int, Int)]],
      sources: Array[RasterSource]): Bins = {
    val nt = members.length
    val nr = members.iterator.map(_.length).foldLeft(1)(math.max)
    val (ny, nx) = (gbt.ny.toLong, gbt.nx.toLong)
    require(BigInt(nb) * nt * ny * nx * nr <= BigInt(Long.MaxValue),
      s"bin keys overflow: $nb bands x $nt times x ${ny}x$nx tiles x " +
        s"$nr items per time")
    val keys = new scala.collection.mutable.ArrayBuilder.ofLong
    for (t <- 0 until nt; r <- members(t).indices) {
      val item = members(t)(r)
      for (ts <- tiles(item); (ty, tx) <- ts; b <- 0 until nb
           if sources(item * nb + b) != null)
        keys += (((b.toLong * nt + t) * ny + ty) * nx + tx) * nr + r
    }
    val seeds = keys.result()
    java.util.Arrays.sort(seeds)
    def binOf(k: Int): Long = seeds(k) / nr
    val n = seeds.indices.count(k => k == 0 || binOf(k) != binOf(k - 1))
    val (band, tIdx, ty, tx) =
      (new Array[Int](n), new Array[Int](n), new Array[Int](n), new Array[Int](n))
    val srcOff = new Array[Int](n + 1)
    val srcIds = new Array[Int](seeds.length)
    var i = -1
    var k = 0
    while (k < seeds.length) {
      val bin = binOf(k)
      if (k == 0 || bin != binOf(k - 1)) {
        i += 1
        srcOff(i) = k
        tx(i) = (bin % nx).toInt
        ty(i) = (bin / nx % ny).toInt
        tIdx(i) = (bin / nx / ny % nt).toInt
        band(i) = (bin / nx / ny / nt).toInt
      }
      srcIds(k) = members(tIdx(i))((seeds(k) % nr).toInt) * nb + band(i)
      k += 1
    }
    srcOff(n) = seeds.length
    Bins(band, tIdx, ty, tx, srcOff, srcIds)
  }

  /** Read + first-valid fuse of bin `i` of `b` into a TileRow. The tile
    * geobox is built once per call, so a reader sees one new geobox
    * instance per bin. */
  private def fuseBin(t: PlanTables, b: Bins, i: Int, reader: RasterReader,
                      buf: Array[Double]): TileRow = {
    val gbt = t.tiling
    val (band, tIdx, ty, tx) = (t.bands(b.band(i)), b.tIdx(i), b.ty(i), b.tx(i))
    val srcs = (b.srcOff(i) until b.srcOff(i + 1)).map(k => t.sources(b.srcIds(k)))
    val tileGbox = gbt.tileGeobox(ty, tx)
    val cfg = t.cfgs(band)
    val outDtype = t.dtypes(band)
    val nodataV = dstNodata(cfg, outDtype)
    val valid = Fuse.fill2dSliceInto(srcs, tileGbox, cfg, reader, nodataV, buf)
    TileRow(band, tIdx, ty, tx, t.times(tIdx),
      tx * gbt.tileW, ty * gbt.tileH, tileGbox.width, tileGbox.height,
      outDtype, nodataV, valid,
      Fuse.encode(buf, tileGbox.width * tileGbox.height, outDtype))
  }
}

/** Assembled load output: lazy tile-row DataFrame + grid metadata (S12 —
  * dense assembly only happens on collect, `loader/_builder.py:215-243`). */
final case class LoadResult(tiles: DataFrame, geobox: GeoBox,
                            times: Seq[java.sql.Timestamp],
                            dtypes: Map[String, String],
                            nodata: Map[String, Double]) {

  private def spark = tiles.sparkSession

  // The load's own bin plan: Load.load attaches it to the result it
  // returns. A copy or a hand-built result has none, so its composites
  // rechunk the `tiles` it was given.
  private var plan: Option[Load.BinPlan] = None

  private[load] def withPlan(p: Load.BinPlan): LoadResult = {
    plan = Some(p)
    this
  }

  /** Where this result's across-time composites take their planes from:
    * the rows of `tiles`, plus the load's own bin plan while `tiles` is
    * not persisted ([[Composite.rechunk]] then reads and fuses the bins
    * in the task that reduces them). Persisted tiles are already paid
    * for, so composites read them from the cache. */
  private[graft] def gather: Composite.Gather =
    Composite.Gather(tiles,
      plan.filter(_ => tiles.storageLevel == StorageLevel.NONE))

  /** Across-time composites with the time-depth memory bound WIRED IN:
    * these overloads pass `planesPerTile` (the B·T plane count this
    * result knows driver-side) to [[Composite]], whose row-band rechunk
    * keeps task state under `Composite.DefaultStateBudgetBytes` at any
    * archive depth — a caller using the raw `Composite.*(spark, tiles,
    * …)` spellings must size the state hint itself. On the result of
    * [[Load.load]] they read their own bins ([[gather]]): one job, no
    * pixel shuffle. */
  def medianComposite(): DataFrame =
    Composite.medianAcrossTime(spark, gather, times.length,
      Composite.DefaultStateBudgetBytes, None)

  def quantileComposite(q: Double): DataFrame =
    Composite.quantileAcrossTime(spark, gather, q, times.length,
      Composite.DefaultStateBudgetBytes, None)

  def maskedMedianComposite(dataBand: String, maskBand: String,
      clear: Double => Boolean): DataFrame =
    Composite.maskedMedianAcrossTime(spark, gather, dataBand, maskBand,
      clear, 2 * times.length, Composite.DefaultStateBudgetBytes, None)

  def geomedianComposite(bands: Seq[String], iters: Int = 8): DataFrame =
    Composite.geomedianAcrossTime(spark, gather, bands,
      bands.length * times.length, iters, Composite.DefaultEps,
      Composite.DefaultStateBudgetBytes, None)

  def geomadComposite(bands: Seq[String], iters: Int = 8): DataFrame =
    Composite.geomadAcrossTime(spark, gather, bands,
      bands.length * times.length, iters, Composite.DefaultEps,
      Composite.DefaultStateBudgetBytes, None)

  /** Mean/min/max/count composite — mergeable Aggregator, already
    * bounded (one buffer per group), no hint needed. */
  def meanComposite(): DataFrame = Composite.acrossTime(spark, tiles)

  /** Temporal gap-fill on the row-band rechunk plan: the fill buffers
    * decoded + filled planes (2·T), and this wrapper passes T so one
    * task never exceeds the state budget. */
  def temporalFill(): DataFrame =
    TemporalFill.fillAcrossTime(spark, gather, times.length,
      Composite.DefaultStateBudgetBytes, None)

  /** Gap-fill then Savitzky–Golay smooth along time — the standard
    * post-fill polish; interior full-window centers only. */
  def temporalSmooth(): DataFrame =
    TemporalSmooth.smoothAcrossTime(spark, temporalFill()
      .select(org.apache.spark.sql.functions.col("band"),
        org.apache.spark.sql.functions.col("tIdx"),
        org.apache.spark.sql.functions.col("ty"),
        org.apache.spark.sql.functions.col("tx"),
        org.apache.spark.sql.functions.col("filled")))

  /** Per-pixel OLS trend (slope/intercept/count planes), anchored at
    * the archive's first group timestamp — mergeable Aggregator,
    * bounded state at any depth, no hint needed. */
  def trend(): DataFrame =
    Trend.trendAcrossTime(spark, tiles,
      times.map(_.getTime / 1000L).min)

  /** Theil–Sen robust trend — the rechunk sibling of [[trend]]; this
    * wrapper passes the time depth so the row-band state bound applies
    * at any archive depth. */
  def trendRobust(): DataFrame =
    Trend.theilSenAcrossTime(spark, gather,
      times.map(_.getTime / 1000L).min, times.length,
      Composite.DefaultStateBudgetBytes, 0, None)

  /** Distributed GeoTIFF export sink: every tile row becomes one
    * georeferenced `.tif` (`<band>_t<tIdx>_<ty>_<tx>.tif`) written
    * executor-side — the per-tile COG layout tile pyramids use, and the
    * scale-true shape at 100 TB (no plane assembly, no shuffle, no
    * driver collect; each task writes its own partition's tiles).
    * The exported directory reads straight back through
    * `spark.read.format("raster")` with plan-time pruning. Returns the
    * number of files written. */
  def exportCogTiles(outDir: String): Long = {
    val gbox = geobox
    new java.io.File(outDir).mkdirs()
    val n = tiles.sparkSession.sparkContext.longAccumulator("cog_tiles")
    tiles.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { row =>
        val band = row.getAs[String]("band")
        val tIdx = row.getAs[Int]("tIdx")
        val ty = row.getAs[Int]("ty"); val tx = row.getAs[Int]("tx")
        val x0 = row.getAs[Int]("x0"); val y0 = row.getAs[Int]("y0")
        val w = row.getAs[Int]("width"); val h = row.getAs[Int]("height")
        val dtype = row.getAs[String]("dtype")
        val nodata = row.getAs[Double]("nodata")
        val px = Fuse.decode(row.getAs[Array[Byte]]("data"), dtype)
        // tile georeferencing: same linear part, origin at the tile's
        // pixel-corner world position inside the output grid
        val t = gbox.transform
        val (ox, oy) = t(x0.toDouble, y0.toDouble)
        val tileGbox = graft.geo.GeoBox(w, h,
          graft.geo.Affine(t.a, t.b, ox, t.d, t.e, oy), gbox.crs)
        val nd = if (nodata.isNaN) None else Some(nodata)
        graft.raster.Tiff.write(
          s"$outDir/${band}_t${tIdx}_${ty}_$tx.tif", px, tileGbox, dtype, nd,
          compression = Some("Deflate")) // what real COGs ship with
        n.add(1)
      }
    }
    n.value
  }

  /** Distributed Zarr v2 export sink: the loaded cube becomes ONE store
    * with a variable per (band, time index) (`<band>_t<tIdx>`). The
    * driver writes only the store metadata (`.zarray`/`.zattrs` per
    * variable — a few hundred bytes); every chunk file is written
    * executor-side by the task holding that tile, coordination-free
    * because zarr chunks are independent objects — the exact shape
    * xarray/dask use to commit a store, and the scale-true one at
    * 100 TB (no plane assembly, no shuffle, no driver pixel traffic).
    * Load tiles are chunk-grid-aligned by construction (F14), so tile
    * (ty, tx) IS chunk (cy, cx); `chunk` must equal the load's chunk
    * size. Reads straight back through [[graft.raster.AutoReader]].
    * Returns the number of chunk files written. */
  def exportZarr(store: String, chunk: Int, zlib: Boolean = false): Long = {
    val gbox = geobox
    // Overwrite semantics: a pre-existing store is removed wholesale —
    // partial overwrite would leave stale variables/chunk files from a
    // previous export with a different geometry poisoning read-back.
    val storeDir = new java.io.File(store)
    if (storeDir.exists()) {
      require(new java.io.File(storeDir, ".zgroup").exists(),
        s"refusing to overwrite non-zarr directory $store")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(storeDir)
    }
    // variable metadata is fully driver-known (band dtypes/nodata + the
    // time axis) — no action on the lazy tiles plan, which would execute
    // every bin's read+fuse once here and again in the chunk pass below
    for {
      (band, dt) <- dtypes.toSeq.sortBy(_._1)
      tIdx <- times.indices
    } {
      // float bands keep a NaN nodata as the store's fill_value (zarr v2
      // quoted-"NaN" spelling) so never-written regions read back as NaN
      // holes, not valid 0.0; only non-float dtypes (where NaN is not
      // representable) fall back to the 0 fill
      val nd = nodata(band)
      graft.raster.Zarr.writeMeta(store, s"${band}_t$tIdx", gbox, dt,
        if (nd.isNaN && !graft.raster.Grb.isFloat(dt)) None else Some(nd),
        chunk, zlib)
    }
    val n = tiles.sparkSession.sparkContext.longAccumulator("zarr_chunks")
    tiles.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      it.foreach { row =>
        val w = row.getAs[Int]("width"); val h = row.getAs[Int]("height")
        val ty = row.getAs[Int]("ty"); val tx = row.getAs[Int]("tx")
        require(row.getAs[Int]("x0") == tx.toLong * chunk &&
          row.getAs[Int]("y0") == ty.toLong * chunk,
          s"tile ($ty,$tx) is not aligned to the $chunk-edge chunk grid — " +
            "exportZarr needs chunk == the load's chunk size")
        val dtype = row.getAs[String]("dtype")
        val nodata = row.getAs[Double]("nodata")
        graft.raster.Zarr.writeChunk(store,
          s"${row.getAs[String]("band")}_t${row.getAs[Int]("tIdx")}",
          ty, tx, Fuse.decode(row.getAs[Array[Byte]]("data"), dtype),
          w, h, chunk, dtype,
          if (nodata.isNaN && !graft.raster.Grb.isFloat(dtype)) 0.0
          else nodata, zlib)
        n.add(1)
      }
    }
    n.value
  }

  /** Driver-side dense assembly for tests/small outputs (S10 analog). */
  def assemble(band: String, tIdx: Int): Array[Double] = {
    val out = new Array[Double](geobox.width * geobox.height)
    java.util.Arrays.fill(out, Double.NaN)
    tiles.where(tiles("band") === band && tiles("tIdx") === tIdx)
      .collect().foreach { row =>
        val x0 = row.getAs[Int]("x0"); val y0 = row.getAs[Int]("y0")
        val w = row.getAs[Int]("width"); val h = row.getAs[Int]("height")
        val dtype = row.getAs[String]("dtype")
        val data = Fuse.decode(row.getAs[Array[Byte]]("data"), dtype)
        var y = 0
        while (y < h) {
          System.arraycopy(data, y * w, out, (y0 + y) * geobox.width + x0, w)
          y += 1
        }
      }
    out
  }
}

/** First-valid-pixel mosaic (A2, `fill_2d_slice`
  * `loader/_builder.py:175-212`) — *the* custom aggregation of the
  * engine: order-sensitive, nodata-aware (incl. NaN), dtype-generic.
  */
object Fuse {

  /** Fuse sources (already in priority order) into one tile plane.
    * Returns (pixels, validCount). */
  def fill2dSlice(srcs: Seq[RasterSource], dstGbox: GeoBox,
                  cfg: RasterLoadParams, reader: RasterReader,
                  nodata: Double): (Array[Double], Long) = {
    val out = new Array[Double](dstGbox.width * dstGbox.height)
    val valid = fill2dSliceInto(srcs, dstGbox, cfg, reader, nodata, out)
    (out, valid)
  }

  /** Allocation-free variant: fuses into the first w*h entries of a
    * caller-owned buffer (reused across tiles within a task). */
  def fill2dSliceInto(srcs: Seq[RasterSource], dstGbox: GeoBox,
                      cfg: RasterLoadParams, reader: RasterReader,
                      nodata: Double, out: Array[Double]): Long = {
    val n = dstGbox.width * dstGbox.height
    java.util.Arrays.fill(out, 0, n, nodata)
    var remaining = n.toLong
    val it = srcs.iterator
    while (it.hasNext && remaining > 0) {
      // first valid pixel takes precedence (fuse order = priority);
      // readInto fuses straight from the read buffer on the paste path
      remaining -= reader.readInto(it.next(), cfg, dstGbox, nodata, out)
    }
    n - remaining
  }

  def encode(pixels: Array[Double], dtype: String): Array[Byte] =
    encode(pixels, pixels.length, dtype)

  def encode(pixels: Array[Double], n: Int, dtype: String): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(n * Grb.dtypeSize(dtype))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    // Integer dtypes clip to the type's range (GDAL clip-on-convert):
    // cubic/lanczos kernels overshoot the source range and `sum` can
    // exceed it outright — a raw .toByte would wrap 256.4 to 0.
    @inline def clip(v: Double, lo: Double, hi: Double): Double =
      if (v.isNaN) v else math.min(hi, math.max(lo, math.rint(v)))
    dtype match {
      case "uint8" => while (i < n) { buf.put(clip(pixels(i), 0, 255).toInt.toByte); i += 1 }
      case "int8" => while (i < n) { buf.put(clip(pixels(i), -128, 127).toInt.toByte); i += 1 }
      case "uint16" => while (i < n) { buf.putShort(clip(pixels(i), 0, 65535).toInt.toShort); i += 1 }
      case "int16" => while (i < n) { buf.putShort(clip(pixels(i), -32768, 32767).toInt.toShort); i += 1 }
      case "int32" => while (i < n) { buf.putInt(clip(pixels(i), Int.MinValue, Int.MaxValue).toInt); i += 1 }
      case "int64" => while (i < n) { buf.putLong(clip(pixels(i), Long.MinValue, Long.MaxValue).toLong); i += 1 }
      case "float32" => while (i < n) { buf.putFloat(pixels(i).toFloat); i += 1 }
      case "float64" => while (i < n) { buf.putDouble(pixels(i)); i += 1 }
    }
    buf.array()
  }

  /** [[decode]] as a Spark column function: `(data, dtype)` →
    * `array<double>`. */
  lazy val decodeUdf: UserDefinedFunction =
    udf { (data: Array[Byte], dtype: String) => decode(data, dtype) }

  def decode(bytes: Array[Byte], dtype: String): Array[Double] = {
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / Grb.dtypeSize(dtype)
    val out = new Array[Double](n)
    var i = 0
    dtype match {
      case "uint8" => while (i < n) { out(i) = buf.get() & 0xff; i += 1 }
      case "int8" => while (i < n) { out(i) = buf.get(); i += 1 }
      case "uint16" => while (i < n) { out(i) = buf.getShort() & 0xffff; i += 1 }
      case "int16" => while (i < n) { out(i) = buf.getShort(); i += 1 }
      case "int32" => while (i < n) { out(i) = buf.getInt(); i += 1 }
      case "int64" => while (i < n) { out(i) = buf.getLong().toDouble; i += 1 }
      case "float32" => while (i < n) { out(i) = buf.getFloat(); i += 1 }
      case "float64" => while (i < n) { out(i) = buf.getDouble(); i += 1 }
    }
    out
  }
}
