package graft.load

import graft.geo._
import graft.model._
import graft.planner.Planner
import graft.raster.{AutoReader, Grb, IoCredentials, RasterReader}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The flagship query: STAC items -> gridded, fused raster tiles
  * (`odc.stac.load`, SURVEY §3.1). Stages 1-8 (arg normalization, parsing,
  * grid planning, band resolution, grouping, tiling, spatial binning) are
  * driver-side *metadata* work, exactly as in the reference; the pixel
  * plane is a Spark job. By default the driver bins too, and the job has
  * no shuffle at all:
  *
  *   items --driver--> bins (band, tIdx, ty, tx) -> sources in fuse rank
  *         --parallelize--> read + first-valid fuse -> tile row  [S7 + A2]
  *
  * The bins (~200 bytes of source metadata each) ship with the tasks;
  * pixels are read by the task that owns the output tile and never move
  * again. Tile tasks are independent and embarrassingly parallel. A load
  * whose bin estimate passes `maxDriverBins` expands the (item x tile)
  * product on the executors instead: one `flatMap -> groupByKey` shuffle
  * of source metadata forms the bins, and pixels still never shuffle.
  *
  * A driver-binned [[LoadResult]] keeps its bin plan, so its across-time
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

  /** J1 seed row: (tile bin key, fuse rank, source metadata). Public for
    * Spark codegen visibility. */
  final case class TaskSeed(band: String, tIdx: Int, ty: Int, tx: Int,
                            rank: Int, src: RasterSource)

  /** One planned tile task: bin key + its sources in fuse-rank order —
    * the unit shipped to executors (a DSv2 InputPartition analog). */
  final case class TileBin(band: String, tIdx: Int, ty: Int, tx: Int,
                           srcs: Seq[RasterSource])

  /** A driver-binned load's bin plan, kept privately on its
    * [[LoadResult]]: the bins in `(band, tIdx, ty, tx)` order, the output
    * tiling, and the broadcasts a task needs to read and fuse a bin.
    * The load's own pixel job and [[Composite.rechunk]]'s fused gather
    * both run over it through [[mapUnits]]. */
  private[graft] final case class BinPlan(
      bins: Array[TileBin], tiling: GeoBoxTiles,
      gbox: Broadcast[GeoBoxData],
      cfgs: Broadcast[Map[String, RasterLoadParams]],
      dtypes: Broadcast[Map[String, String]],
      times: Broadcast[IndexedSeq[java.sql.Timestamp]],
      io: Broadcast[Option[IoCredentials]], reader: RasterReader,
      progress: Option[(Long, Long) => Unit]) {

    /** Reads and fuses task units of these bins on the executors, in
      * `numSlices` tasks: a task restores the load's IO credentials and
      * builds the output tiling and one tile-sized pixel buffer once,
      * then hands `f` each unit's key and its bins' tile rows, fused
      * lazily in order. Progress fires once per bin fused, against the
      * bins of all `units` (an entry registered by this call). */
    def mapUnits[K, O: scala.reflect.ClassTag](spark: SparkSession,
        units: Seq[(K, Seq[TileBin])], numSlices: Int)(
        f: (K, Iterator[TileRow]) => Iterator[O])
        : org.apache.spark.rdd.RDD[O] = {
      val progressId = progress.fold(-1L)(cb =>
        registerProgress(units.map(_._2.length.toLong).sum, cb))
      // task-side inputs as locals: the closure must not capture the plan
      val (tw, th, rd) = (tiling.tileW, tiling.tileH, reader)
      val (bcGbox, bcCfg, bcDtypes, bcTimes, bcIo) =
        (gbox, cfgs, dtypes, times, io)
      spark.sparkContext.parallelize(units, numSlices).mapPartitions { it =>
        bcIo.value.foreach(graft.raster.IoSession.restore(_))
        // one reusable pixel buffer per task (tiles are tw*th max):
        // cuts per-tile allocation from ~8 MB to the encoded payload
        val buf = new Array[Double](tw * th)
        val gbt = GeoBoxTiles(bcGbox.value.toGeoBox, tw, th)
        it.flatMap { case (key, unitBins) =>
          f(key, unitBins.iterator.map { bin =>
            val row = fuseBin(bin, gbt, bcCfg.value, bcDtypes.value,
              bcTimes.value, rd, buf)
            if (progressId >= 0) reportProgress(progressId)
            row
          })
        }
      }
    }
  }

  /** Distributed-binning unit: one row per (group, item) with its
    * footprint and selected band sources. Executors expand to TaskSeeds
    * (tile intersection runs on the cluster, not the driver). */
  final case class SeedUnit(tIdx: Int, rank: Int, fp: GeomData,
                            srcs: Map[String, RasterSource])

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
  // (done, total) once per completed bin while the pixel stage runs.
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
      // total < 0: distributed-binning mode — the bin count is only known
      // as tasks drain, so the hook receives (done, -1) and the entry is
      // reclaimed by the registry cap rather than self-removal
      val done =
        if (total < 0) ctr.incrementAndGet()
        else math.min(ctr.incrementAndGet(), total)
      cb(done, total)
      if (total >= 0 && done >= total) progressRegistry.remove(id)
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
           maxDriverBins: Long = 1000000L,
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

    val bandKeys = resolved.map { case (name, _) => name -> md.bandKey(name).norm }
    // plan-time credential capture (the reference's capture_rio_env →
    // per-worker restore seam): rides a broadcast, never closure fields
    val bcIo = spark.sparkContext.broadcast(graft.raster.IoSession.capture())
    val bcGbox = spark.sparkContext.broadcast(GeoBoxData.from(outGbox))
    val bcCfg = spark.sparkContext.broadcast(cfgs)
    val bcDtypes = spark.sparkContext.broadcast(outDtypes)
    val bcTimes = spark.sparkContext.broadcast(times.toIndexedSeq)
    val (tw, th) = (chunks, chunks)
    val tc = math.max(1, timeChunks)

    // Conservative bin estimate (bbox tile spans x bands) decides the
    // planning path without materializing anything.
    val estBins: Long = (for {
      group <- groups.iterator
      itemIdx <- group.iterator
      fp <- footprints(itemIdx).iterator
    } yield tileSpanCount(gbt, fp) * bandKeys.size).sum

    val (tiles, plan) =
      if (estBins <= maxDriverBins) {
        // DRIVER-SIDE binning (default) — the same move a DSv2 source makes
        // in planInputPartitions (Spark's own file sources list and split
        // driver-side too). Bins are ~200 B of source metadata each, so a
        // <=1e6-tile load plans comfortably in driver memory, and the pixel
        // job starts with ZERO shuffle: parallelize ships each task only
        // its own bins; pixels are read post-planning by the task that owns
        // the output tile and never move again. (A seed-row shuffle was
        // measured 10x the metadata cost at 32 threads — per-task encoder
        // and exchange overhead dwarfs 200-byte rows; and AQE's byte-based
        // coalescing would collapse metadata-small/compute-heavy exchanges
        // to one task anyway.)
        val seeds: Seq[TaskSeed] = for {
          (group, tIdx) <- groups.zipWithIndex
          (itemIdx, rank) <- group.zipWithIndex
          item = items(itemIdx)
          footprint <- footprints(itemIdx).toSeq
          (ty, tx) <- roiTiles(footprint)
          (bandName, srcKey) <- bandKeys
          src <- item.bands.get(srcKey).toSeq
        } yield TaskSeed(bandName, tIdx, ty, tx, rank, src.strip)

        val bins: Array[TileBin] = seeds
          .groupBy(s => (s.band, s.tIdx, s.ty, s.tx))
          .map { case ((band, tIdx, ty, tx), ss) =>
            TileBin(band, tIdx, ty, tx, ss.sortBy(_.rank).map(_.src))
          }
          .toArray.sortBy(b => (b.band, b.tIdx, b.ty, b.tx))
        // F14 time chunking (`chunks={'time': N}`): one task computes N
        // consecutive time planes of the same (band, ty, tx) — fewer,
        // larger tasks when the time axis is long
        val taskUnits: Array[Seq[TileBin]] =
          if (tc == 1) bins.map(Seq(_))
          else bins.groupBy(b => (b.band, b.tIdx / tc, b.ty, b.tx))
            .values.map(_.sortBy(_.tIdx).toSeq).toArray
            .sortBy(g => (g.head.band, g.head.tIdx, g.head.ty, g.head.tx))
        val p = math.max(1, math.min(taskUnits.length,
          spark.sparkContext.defaultParallelism * 2))
        // round-robin unit->slice assignment: neighbours (which share
        // source overlap and cost) spread across tasks instead of clustering
        val interleaved = (0 until taskUnits.length)
          .sortBy(i => (i % p, i / p)).map(i => ((), taskUnits(i)))
        val plan = BinPlan(bins, gbt, bcGbox, bcCfg, bcDtypes, bcTimes, bcIo,
          reader, progress)
        (spark.createDataset(
          plan.mapUnits(spark, interleaved, p)((_, rows) => rows)),
          Some(plan))
      } else {
        // DISTRIBUTED binning fallback: above the driver threshold the
        // (item x tile) expansion itself is the big product (a continental
        // 100x load is ~1e8 bins), so expansion runs on executors — one
        // SeedUnit row per (group, item) carries the footprint + band
        // sources, flatMaps to seeds, and a single groupByKey shuffle of
        // ~200 B metadata rows forms the bins. Pixels still never shuffle.
        val units: Seq[SeedUnit] = for {
          (group, tIdx) <- groups.zipWithIndex
          (itemIdx, rank) <- group.zipWithIndex
          item = items(itemIdx)
          footprint <- footprints(itemIdx).toSeq
        } yield SeedUnit(tIdx, rank, GeomData.from(footprint),
          bandKeys.flatMap { case (b, k) =>
            item.bands.get(k).map(b -> _.strip)
          }.toMap)
        val bcRoi = spark.sparkContext.broadcast(roiPoly.map(GeomData.from))
        // total bin count is only discovered executor-side here, so the
        // hook gets (done, -1): still monotonic, still once per bin
        val progressId: Long =
          progress.fold(-1L)(cb => registerProgress(-1L, cb))
        val seedDs: Dataset[TaskSeed] = spark.createDataset(units)
          .repartition(math.max(1, math.min(units.length,
            spark.sparkContext.defaultParallelism * 2)))
          .flatMap { u =>
            val gbt = GeoBoxTiles(bcGbox.value.toGeoBox, tw, th)
            val roi = bcRoi.value.map(_.toGeom)
            gbt.tilesIntersecting(u.fp.toGeom).iterator
              .filter { case (ty, tx) =>
                roi.forall(_.intersectsBox(gbt.tileGeobox(ty, tx).extent))
              }
              .flatMap { case (ty, tx) =>
                u.srcs.iterator.map { case (band, src) =>
                  TaskSeed(band, u.tIdx, ty, tx, u.rank, src)
                }
              }
          }
        (seedDs
          .groupByKey(s => (s.band, s.tIdx / tc, s.ty, s.tx))
          .flatMapGroups { (_: (String, Int, Int, Int), it: Iterator[TaskSeed]) =>
            bcIo.value.foreach(graft.raster.IoSession.restore(_))
            val gbt = GeoBoxTiles(bcGbox.value.toGeoBox, tw, th)
            val buf = new Array[Double](tw * th)
            it.toSeq.groupBy(_.tIdx).toSeq.sortBy(_._1).iterator
              .map { case (tIdx, ss) =>
                val sorted = ss.sortBy(_.rank)
                val bin = TileBin(sorted.head.band, tIdx, sorted.head.ty,
                  sorted.head.tx, sorted.map(_.src))
                val row = fuseBin(bin, gbt, bcCfg.value, bcDtypes.value,
                  bcTimes.value, reader, buf)
                if (progressId >= 0) reportProgress(progressId)
                row
              }
          }, None)
      }

    val res = LoadResult(tiles.toDF(), outGbox, times, outDtypes,
      outDtypes.map { case (b, dt) => b -> dstNodata(cfgs(b), dt) })
    plan.fold(res)(res.withPlan)
  }
  // scalastyle:on parameter.number

  /** Read + first-valid fuse of one planned bin into a TileRow (shared by
    * the driver-planned and distributed-planned paths). The tile geobox
    * is built once per call, so a reader sees one new geobox instance
    * per bin. */
  private def fuseBin(bin: TileBin, gbt: GeoBoxTiles,
                      cfgs: Map[String, RasterLoadParams],
                      dtypes: Map[String, String],
                      times: IndexedSeq[java.sql.Timestamp],
                      reader: RasterReader, buf: Array[Double]): TileRow = {
    val tileGbox = gbt.tileGeobox(bin.ty, bin.tx)
    val cfg = cfgs(bin.band)
    val outDtype = dtypes(bin.band)
    val nodataV = dstNodata(cfg, outDtype)
    val valid = Fuse.fill2dSliceInto(bin.srcs, tileGbox, cfg, reader, nodataV, buf)
    TileRow(bin.band, bin.tIdx, bin.ty, bin.tx, times(bin.tIdx),
      bin.tx * gbt.tileW, bin.ty * gbt.tileH, tileGbox.width, tileGbox.height,
      outDtype, nodataV, valid,
      Fuse.encode(buf, tileGbox.width * tileGbox.height, outDtype))
  }

  /** Upper bound on tiles a footprint can touch: its bbox tile span. */
  private def tileSpanCount(gbt: GeoBoxTiles, fp: Geom): Long = {
    val b = fp.bbox
    val inv = gbt.base.transform.inverse
    val cs = Seq(inv(b.x0, b.y0), inv(b.x1, b.y0), inv(b.x1, b.y1), inv(b.x0, b.y1))
    val tx0 = math.max(0, math.floor(cs.map(_._1).min / gbt.tileW).toInt)
    val tx1 = math.min(gbt.nx - 1, math.floor((cs.map(_._1).max - 1e-9) / gbt.tileW).toInt)
    val ty0 = math.max(0, math.floor(cs.map(_._2).min / gbt.tileH).toInt)
    val ty1 = math.min(gbt.ny - 1, math.floor((cs.map(_._2).max - 1e-9) / gbt.tileH).toInt)
    math.max(0L, (tx1 - tx0 + 1).toLong) * math.max(0L, (ty1 - ty0 + 1).toLong)
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
  // returns when the driver binned. A copy or a hand-built result has
  // none, so its composites rechunk the `tiles` it was given.
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
    * …)` spellings must size the state hint itself. On a driver-binned
    * load they read their own bins ([[gather]]): one job, no pixel
    * shuffle. */
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
