package graft.rasterops
import graft.load.{Fuse, Load}
import graft.planner.Planner
import graft.raster.Fixtures
import graft.stac.StacParse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-streaming raster surfaces: microbatch scene ingest and
  * incremental zonal statistics.
  *
  * One family of [[RasterQueries]]' driver-contract entries (pure
  * code move — the registry and all member semantics live unchanged
  * through the aggregator object, whose self-type gives every family
  * access to the shared fixtures/paths).
  */
private[rasterops] trait RasterStreamQueries {
  this: RasterQueries.type =>

  /** Streaming pixel ingest — the incremental-mosaic shape: STAC items
    * land one per microbatch; each batch runs the SAME distributed
    * read+fuse as the batch path (`Load.load`, groupby=id) and APPENDS
    * its tile rows to a standing parquet table. With per-id grouping,
    * batches are independent, so the standing table after the stream
    * equals the one-shot batch load — pinned by RasterIngestSpec
    * against `loadGroupById`'s tiles, and summarized here per tile.
    * At 100 TB/day this is the ingest topology: metadata-sized item
    * batches drive pixel work that lands append-only, partitioned by
    * band; no state store is involved because the group key (item id)
    * never spans batches. */
  def streamRasterIngest(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenes(NScenes).map(_.replaceAll("\n", " "))
    // incremental ingest lands on a STANDING grid declared up front
    // (the MGRS-tile analog) — per-batch auto-planning would re-anchor
    // tile indices to each batch's extent and the standing table would
    // never line up with itself, let alone the batch load
    val (allItems, allSchemas) = parsed(spark)
    val grid = Planner.outputGeobox(allItems, allSchemas).get
    val landing = java.nio.file.Files.createTempDirectory("graft_ring_land")
    jsons.zipWithIndex.foreach { case (j, i) =>
      java.nio.file.Files.write(landing.resolve(f"item_$i%03d.json"),
        j.getBytes("UTF-8"))
    }
    val out = java.nio.file.Files.createTempDirectory("graft_ring_out")
      .toString + "/tiles"
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .text(landing.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val js = batch.select("value").as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
        if (js.nonEmpty) {
          // driver-side parse against the standing collection schemas
          // (inferred once up front, like the standing grid): a
          // metadata-sized batch gains nothing from two distributed
          // parse jobs per trigger — the items are identical
          val items = StacParse.parseItemsLocal(js, allSchemas).sortBy(_.id)
          val res = Load.load(spark, items, allSchemas,
            bands = Seq("red", "nir"), groupby = "id", chunks = 64,
            geobox = Some(grid))
          res.tiles.write.mode("append").partitionBy("band").parquet(out)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // cross-engine anchor: the standing table's pixels land as plain
    // pixel-row parquet and BOTH engines aggregate the same file — the
    // incremental-mosaic analog of [[mosaicCells]] (a batch dropped or
    // double-appended by the stream shifts a checksum DuckDB recomputes)
    pixelsByTime(spark.read.parquet(out))
      .write.mode("overwrite").parquet(StreamCellsPath)
    quantizedSummaryByTime(spark.read.parquet(StreamCellsPath))
  }

  /** Shared scaffold of the standing-merge streaming queries
    * ([[streamComposite]], [[streamTrend]]): stage the scene JSONs into
    * a fixed landing dir (cleared at query start — per-invocation
    * createTempDirectory trees would leak scene JSONs + two parquet
    * state copies every bench/verify round), drain them one scene per
    * microbatch through `foreachBatch`, and fold each batch's
    * `partials` into the standing state with the replay-safe
    * batchId-guarded swap commit. Takes N (stateName, partials,
    * mergeCols) SINKS so both standing-merge queries ride ONE drain of
    * the scene fixture — the scene parse+load (the dominant microbatch
    * cost) runs once per batch and feeds every sink's partials; each
    * sink keeps its own state dir, `_batchid` marker, and swap commit,
    * so replay semantics per state are unchanged from the
    * one-sink scaffold. Returns one state path per sink. The replay
    * guard runs BEFORE the expensive parse+load: foreachBatch is
    * at-least-once, and a retried microbatch must not double-merge its
    * scenes into the standing buffers. */
  private def runMergeStream(spark: SparkSession,
      landingName: String,
      jsons: Seq[String], grid: graft.geo.GeoBox,
      schemas: Map[String, graft.model.CollectionMetadata],
      sinks: Seq[(String, DataFrame => DataFrame,
        Seq[(String,
          (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
            => org.apache.spark.sql.Column)])]): Seq[String] = {
    def resetDir(p: java.nio.file.Path): java.nio.file.Path = {
      def rm(d: java.io.File): Unit = {
        Option(d.listFiles()).foreach(_.foreach(rm))
        d.delete(); ()
      }
      rm(p.toFile)
      java.nio.file.Files.createDirectories(p)
      p
    }
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val landing = resetDir(tmp.resolve(landingName))
    jsons.zipWithIndex.foreach { case (j, i) =>
      java.nio.file.Files.write(landing.resolve(f"item_$i%03d.json"),
        j.getBytes("UTF-8"))
    }
    val statePaths = sinks.map { case (stateName, _, _) =>
      resetDir(tmp.resolve(stateName)).toString + "/state"
    }
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .text(landing.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val js = batch.select("value").as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
        val pending = statePaths.indices
          .filter(i => batchId > lastMergedBatch(statePaths(i)))
        if (js.nonEmpty && pending.nonEmpty) {
          // driver-side parse against the standing schemas — see
          // [[streamRasterIngest]]'s foreachBatch note
          val items = StacParse.parseItemsLocal(js, schemas).sortBy(_.id)
          val res = Load.load(spark, items, schemas,
            bands = Seq("red", "nir"), groupby = "id", chunks = 64,
            geobox = Some(grid))
          pending.foreach { i =>
            val (_, partials, mergeCols) = sinks(i)
            commitMergeWith(spark, statePaths(i), batchId,
              partials(res.tiles), mergeCols)
          }
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    statePaths
  }

  /** Session memo of [[runMergeStream]] over the contract scene
    * fixture with ALL standing-merge sinks: the drain (stream setup +
    * per-scene parse+load, ~3 s each when run twice) happens once per
    * build and `stream_composite` / `stream_trend` each summarize their
    * own state. The fixture is session-constant (synthetic scenes,
    * independent of the sf dir), so the memo can never serve stale
    * state to a different input; a rebuild resets the state dirs
    * (`runMergeStream.resetDir`). One key per application; nothing
    * pinned to release. */
  private val mergedStates = new graft.BoundedCache[Seq[String]](1, _ => ())

  /** (composite, trend, peak) standing-state paths. */
  private def ensureMergeStates(spark: SparkSession): Seq[String] =
    mergedStates.get(graft.BoundedCache.key(spark)) {
      val jsons =
        Fixtures.writeScenes(NScenes).map(_.replaceAll("\n", " "))
      val (allItems, allSchemas) = parsed(spark)
      val grid = Planner.outputGeobox(allItems, allSchemas).get
      runMergeStream(spark, "graft_stream_merge_landing",
        jsons, grid, allSchemas, Seq(
          ("graft_stream_comp_state", compositePartials(spark)(_),
            CompositeMergeCols),
          ("graft_stream_trend_state", trendPartials(spark)(_),
            TrendMergeCols),
          ("graft_stream_peak_state", peakPartials(spark)(_),
            PeakMergeCols)))
    }

  /** Batch tiles -> composite partial buffer rows (one per
    * band/ty/tx). */
  private def compositePartials(spark: SparkSession)(tiles: DataFrame)
      : DataFrame = {
    import spark.implicits._
    tiles
        .select(col("band"), col("ty"), col("tx"), col("data"),
          col("dtype"), col("nodata"), col("width"), col("height"))
        .as[(String, Int, Int, Array[Byte], String, Double, Int, Int)]
        .groupByKey { case (band, ty, tx, _, _, _, _, _) => (band, ty, tx) }
        .mapGroups { (key, it) =>
          val (band, ty, tx) = key
          var sum: Array[Double] = null
          var mn: Array[Double] = null
          var mx: Array[Double] = null
          var cnt: Array[Int] = null
          it.foreach { case (_, _, _, data, dtype, nodata, w, h) =>
            val n = w * h
            if (sum == null) {
              sum = new Array[Double](n)
              mn = Array.fill(n)(Double.PositiveInfinity)
              mx = Array.fill(n)(Double.NegativeInfinity)
              cnt = new Array[Int](n)
            }
            val px = Fuse.decode(data, dtype)
            var i = 0
            while (i < n) {
              val v = px(i)
              if (!(v.isNaN || v == nodata)) {
                sum(i) += v
                if (v < mn(i)) mn(i) = v
                if (v > mx(i)) mx(i) = v
                cnt(i) += 1
              }
              i += 1
            }
          }
          (band, ty, tx, sum, mn, mx, cnt)
        }
        .toDF("band", "ty", "tx", "sum", "mn", "mx", "cnt")
  }

  /** Streaming RUNNING COMPOSITE (beyond the reference): scenes arrive
    * one per microbatch and fold into a STANDING per-tile composite
    * state table — one row per (band, ty, tx) holding per-pixel
    * (sum, min, max, count) plane ARRAYS. The composite is mergeable,
    * so each batch computes its own partial buffers (task-local decode
    * + accumulate) and merges them into the standing table with a
    * full-outer join and `zip_with` array arithmetic — the
    * continental-running-mosaic topology: state is one buffer set per
    * tile (never the scene history), each batch's work is
    * metadata-driven, and at 100 TB the swap-dir state table becomes a
    * Delta/Iceberg MERGE with identical semantics. The commit is
    * replay-safe the way a MERGE-on-batchId is: the state dir carries
    * the last-merged batchId (`_batchid`, underscore-hidden from the
    * parquet reader), a retried at-least-once microbatch is skipped,
    * and the swap renames the old state ASIDE before promoting `_next`
    * (a death mid-swap leaves `_old` to recover from, never nothing).
    * The drain itself is shared with [[streamTrend]] via
    * [[ensureMergeStates]] — one stream pass feeds both standing
    * states.
    *
    * Oracle: the streamed state must equal the across-time statistics
    * of a one-shot batch load of the same scenes — the per-time pixel
    * planes land as parquet and DuckDB recomputes sum/min/max/count
    * per pixel and the quantized per-tile summary (valid values are
    * uint16 integers, so double sums are exact and the ×100 rounding
    * is order-independent). A dropped batch, double merge, or wrong
    * zip_with breaks the hash. */
  def streamComposite(spark: SparkSession): DataFrame = {
    val statePath = ensureMergeStates(spark)(0)
    val (allItems, allSchemas) = parsed(spark)
    val grid = Planner.outputGeobox(allItems, allSchemas).get

    // oracle anchor: the same scenes in ONE batch load, per-time pixel
    // planes landed for DuckDB's independent across-time recompute
    val res = Load.load(spark, allItems, allSchemas,
      bands = Seq("red", "nir"), groupby = "id", chunks = 64,
      geobox = Some(grid))
    val decode = udf { (data: Array[Byte], dtype: String) =>
      Fuse.decode(data, dtype) }
    res.tiles
      .select(col("band"), col("tIdx"), col("ty"), col("tx"), col("width"),
        col("nodata"), posexplode(decode(col("data"), col("dtype"))))
      .select(col("band"), col("tIdx").as("tidx"), col("ty"), col("tx"),
        (col("pos") / col("width")).cast("int").as("py"),
        (col("pos") % col("width")).cast("int").as("px"),
        when(isnan(col("col")) || col("col") === col("nodata"),
          lit(Double.NaN)).otherwise(col("col")).as("value"))
      .write.mode("overwrite").parquet(StreamCompCellsPath)

    // summary of the STREAMED state (quantized, order-exact)
    spark.read.parquet(statePath)
      .select(col("band"), col("ty"), col("tx"),
        expr("size(cnt)").as("n_px"),
        expr("aggregate(cnt, 0L, (a, c) -> a + c)").as("cnt_total"),
        expr("aggregate(zip_with(sum, cnt, (s, c) -> " +
          "if(c > 0, CAST(round(s * 100) AS BIGINT), 0L)), 0L, " +
          "(a, b) -> a + b)").as("sum_q"),
        round(expr("array_min(zip_with(mn, cnt, (v, c) -> " +
          "if(c > 0, v, CAST(NULL AS DOUBLE))))"), 2).as("vmin"),
        round(expr("array_max(zip_with(mx, cnt, (v, c) -> " +
          "if(c > 0, v, CAST(NULL AS DOUBLE))))"), 2).as("vmax"))
      .orderBy("band", "ty", "tx")
  }

  /** Last batchId merged into the standing composite state, -1 when the
    * state is empty. Recovers a crash between the two swap renames
    * first (state missing, `_old` present → restore `_old`), so the
    * guard never reads a half-swapped layout. Package-visible so
    * [[graft.StreamRecoverySpec]] can pin the replay semantics. */
  private[graft] def lastMergedBatch(statePath: String): Long = {
    val stateDir = new java.io.File(statePath)
    val oldDir = new java.io.File(statePath + "_old")
    if (!stateDir.exists() && oldDir.exists())
      require(oldDir.renameTo(stateDir),
        s"state recovery failed at $statePath")
    val idFile = new java.io.File(stateDir, "_batchid")
    if (!idFile.exists()) -1L
    else new String(java.nio.file.Files.readAllBytes(idFile.toPath),
      "UTF-8").trim.toLong
  }

  /** Merge one batch's partial buffers into the standing state and
    * commit with a replay-safe swap. Idempotent per batchId: a retried
    * microbatch (foreachBatch is at-least-once) is a no-op. The swap
    * renames the current state ASIDE to `_old` before promoting
    * `_next`, so a death at any step leaves a recoverable dir — never
    * the rmDir-then-rename window where the standing table is gone. */
  /** The composite state's per-column element merges. */
  private[rasterops] val CompositeMergeCols: Seq[(String,
    (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
      => org.apache.spark.sql.Column)] = Seq(
    "sum" -> ((x, y) => x + y),
    "mn" -> ((x, y) => least(x, y)),
    "mx" -> ((x, y) => greatest(x, y)),
    "cnt" -> ((x, y) => x + y))

  private[graft] def commitMerge(spark: SparkSession, statePath: String,
      batchId: Long, cur: DataFrame): Unit =
    commitMergeWith(spark, statePath, batchId, cur, CompositeMergeCols)

  /** [[commitMerge]] generalized over the per-column element merge
    * functions — the running-trend state reuses the identical swap and
    * replay protocol with five additive plane columns. */
  private[graft] def commitMergeWith(spark: SparkSession, statePath: String,
      batchId: Long, cur: DataFrame,
      mergeCols: Seq[(String,
        (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column)]): Unit = {
    if (batchId <= lastMergedBatch(statePath)) return
    val stateDir = new java.io.File(statePath)
    val merged =
      if (!stateDir.exists()) cur
      else {
        val prev = spark.read.parquet(statePath)
        def mergeArr(c: String,
            f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
              => org.apache.spark.sql.Column) =
          when(col(s"a.$c").isNull, col(s"b.$c"))
            .when(col(s"b.$c").isNull, col(s"a.$c"))
            .otherwise(zip_with(col(s"a.$c"), col(s"b.$c"), f))
            .as(c)
        prev.as("a").join(cur.as("b"), Seq("band", "ty", "tx"),
            "full_outer")
          .select(Seq(col("band"), col("ty"), col("tx")) ++
            mergeCols.map { case (c, f) => mergeArr(c, f) }: _*)
      }
    val nextDir = new java.io.File(statePath + "_next")
    val oldDir = new java.io.File(statePath + "_old")
    def rmDir(d: java.io.File): Unit = {
      Option(d.listFiles()).foreach(_.foreach(rmDir))
      d.delete(); ()
    }
    // the merge must materialize BEFORE the old state moves aside —
    // `merged` reads `statePath` lazily, so write-to-next comes first
    merged.write.mode("overwrite").parquet(nextDir.toString)
    // the batchId marker travels inside the parquet dir (underscore
    // prefix = hidden from the reader), so the swap commits state and
    // marker atomically together
    java.nio.file.Files.write(
      new java.io.File(nextDir, "_batchid").toPath,
      (batchId.toString + "\n").getBytes("UTF-8"))
    rmDir(oldDir) // clear any stale recovery dir from a prior crash
    if (stateDir.exists())
      require(stateDir.renameTo(oldDir),
        s"state swap (aside) failed at $statePath")
    require(nextDir.renameTo(stateDir),
      s"state swap (promote) failed at $statePath")
    rmDir(oldDir)
  }

  /** Day-number anchor for the running-trend state: a FIXED epoch
    * (2020-01-01T00:00:00Z), not the archive minimum — partial OLS sums
    * only merge when every batch used the same time origin, and a
    * stream cannot know the global minimum up front. Integer day
    * numbers keep the standing sums order-exact. */
  private[rasterops] val TrendAnchorSec = 1577836800L

  /** Streaming RUNNING TREND (beyond the reference): the per-pixel OLS
    * sums (n, Σt, Σt², Σv, Σtv) are MERGEABLE, so a standing trend map
    * updates per microbatch exactly like [[streamComposite]]'s
    * composite — each batch computes its own partial sum planes
    * task-locally and folds them into the standing table with the same
    * replay-safe batchId-guarded swap commit ([[commitMergeWith]], all
    * five columns additive); the drain is shared with
    * [[streamComposite]] via [[ensureMergeStates]] — one stream pass
    * feeds both standing states. The slope/intercept are DERIVED from the
    * standing sums at read time, never stored — the state stays
    * merge-closed. Oracle: the streamed state must equal the one-shot
    * batch OLS of the same scenes; the batch load's raw pixel series
    * lands and DuckDB recomputes the sums and the identical closed
    * form (anchored at the same fixed epoch). A dropped or
    * double-merged batch shifts every sum and breaks the hash. */
  /** The running-trend state's per-column element merges: all five OLS
    * sum planes are additive. */
  private[rasterops] val TrendMergeCols: Seq[(String,
    (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
      => org.apache.spark.sql.Column)] =
    Seq("n", "st", "stt", "sv", "stv").map(c =>
      (c, (x: org.apache.spark.sql.Column,
           y: org.apache.spark.sql.Column) => x + y))

  /** Batch tiles -> partial OLS sum planes (one row per band/ty/tx). */
  private def trendPartials(spark: SparkSession)(tiles: DataFrame)
      : DataFrame = {
    import spark.implicits._
    // local copy: a trait-member reference inside mapGroups would drag
    // the whole (non-serializable) registry object into the closure
    val anchorSec = TrendAnchorSec
    tiles
        .select(col("band"), col("ty"), col("tx"), col("data"),
          col("dtype"), col("nodata"), col("width"), col("height"),
          unix_timestamp(col("time")).as("tsec"))
        .as[(String, Int, Int, Array[Byte], String, Double, Int, Int, Long)]
        .groupByKey { case (band, ty, tx, _, _, _, _, _, _) => (band, ty, tx) }
        .mapGroups { (key, it) =>
          val (band, ty, tx) = key
          var n: Array[Int] = null
          var st: Array[Double] = null
          var stt: Array[Double] = null
          var sv: Array[Double] = null
          var stv: Array[Double] = null
          var tw = -1
          var th = -1
          it.foreach { case (_, _, _, data, dtype, nodata, w, h, tsec) =>
            val m = w * h
            if (n == null) {
              tw = w; th = h
              n = new Array[Int](m); st = new Array[Double](m)
              stt = new Array[Double](m); sv = new Array[Double](m)
              stv = new Array[Double](m)
            }
            // same shape contract as Trend.PixelTrend / Anomaly.PixelStats:
            // fail loudly on a (w,h) mismatch within a tile group instead of
            // an ArrayIndexOutOfBounds or a silent truncation
            require(w == tw && h == th,
              s"tile shape mismatch in group ($band,$ty,$tx): " +
                s"(${w}x$h) vs (${tw}x$th)")
            val td = math.floor((tsec - anchorSec) / 86400.0 + 0.5)
            val px = Fuse.decode(data, dtype)
            var i = 0
            while (i < m) {
              val v = px(i)
              if (!(v.isNaN || v == nodata)) {
                n(i) += 1; st(i) += td; stt(i) += td * td
                sv(i) += v; stv(i) += td * v
              }
              i += 1
            }
          }
          (band, ty, tx, n, st, stt, sv, stv)
        }
        .toDF("band", "ty", "tx", "n", "st", "stt", "sv", "stv")
  }

  def streamTrend(spark: SparkSession): DataFrame = {
    val statePath = ensureMergeStates(spark)(1)
    val (allItems, allSchemas) = parsed(spark)
    val grid = Planner.outputGeobox(allItems, allSchemas).get

    // oracle anchor: the same scenes in ONE batch load, raw per-time
    // pixel series landed for DuckDB's independent OLS recompute
    val res = Load.load(spark, allItems, allSchemas,
      bands = Seq("red", "nir"), groupby = "id", chunks = 64,
      geobox = Some(grid))
    val decode = udf { (data: Array[Byte], dtype: String) =>
      Fuse.decode(data, dtype) }
    res.tiles
      .select(col("band"), col("tIdx").as("tidx"), col("ty"), col("tx"),
        unix_timestamp(col("time")).as("tsec"), col("nodata"),
        posexplode(decode(col("data"), col("dtype"))))
      .select(col("band"), col("tidx"), col("ty"), col("tx"), col("tsec"),
        col("pos"),
        when(isnan(col("col")) || col("col") === col("nodata"),
          lit(Double.NaN)).otherwise(col("col")).as("value"))
      .write.mode("overwrite").parquet(StreamTrendCellsPath)

    // summary of the STREAMED state: slope/intercept derived from the
    // standing sums per pixel, quantized per tile
    spark.read.parquet(statePath)
      .select(col("band"), col("ty"), col("tx"),
        posexplode(arrays_zip(col("n"), col("st"), col("stt"),
          col("sv"), col("stv"))))
      .select(col("band"), col("ty"), col("tx"),
        col("col.n").as("n"), col("col.st").as("st"),
        col("col.stt").as("stt"), col("col.sv").as("sv"),
        col("col.stv").as("stv"))
      .select(col("band"), col("ty"), col("tx"), col("n"),
        expr("""CASE WHEN n >= 2 AND n * stt - st * st <> 0
                THEN (n * stv - st * sv) / (n * stt - st * st) END""")
          .as("slope"),
        expr("""CASE WHEN n >= 2 AND n * stt - st * st <> 0
                THEN (sv - ((n * stv - st * sv) / (n * stt - st * st))
                      * st) / n END""").as("icept"))
      .groupBy(col("band"), col("ty"), col("tx"))
      .agg(sum(col("n")).cast("int").as("n_obs"),
        count(col("slope")).cast("int").as("n_fit"),
        sum(coalesce(expr("CAST(ROUND(slope * 1e6) AS BIGINT)"), lit(0L)))
          .cast("long").as("slope_q"),
        sum(coalesce(expr("CAST(ROUND(icept * 100) AS BIGINT)"), lit(0L)))
          .cast("long").as("icept_q"))
      .orderBy("band", "ty", "tx")
  }

  /** The standing peak-argmax state's merges: `bd` (array of
    * (value, day) structs) picks the better observation per pixel —
    * larger value, ties to the smaller day; `-Inf` marks "no valid
    * observation yet" so a real value always wins. NOTE the sentinel
    * is −Inf and NOT NaN: Spark SQL orders NaN ABOVE every number, so
    * a NaN sentinel would beat every real observation in the `>`
    * comparison. The comparison is associative+commutative, so the
    * standing state equals the one-shot batch argmax regardless of
    * batch arrival order. `cnt` is plain additive. */
  private[graft] val PeakMergeCols: Seq[(String,
    (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
      => org.apache.spark.sql.Column)] = Seq(
    "bd" -> ((x, y) =>
      when(y("_1") > x("_1") ||
        (y("_1") === x("_1") && y("_2") < x("_2")), y).otherwise(x)),
    "cnt" -> ((x, y) => x + y))

  /** Batch tiles -> standing-argmax partial planes: one row per
    * (band, ty, tx) with `bd` = (best value, best day) struct planes
    * (−Inf/−1 where the batch has no valid observation) and `cnt`. */
  private def peakPartials(spark: SparkSession)(tiles: DataFrame)
      : DataFrame = {
    import spark.implicits._
    val anchorSec = TrendAnchorSec
    tiles
      .select(col("band"), col("ty"), col("tx"), col("data"),
        col("dtype"), col("nodata"), col("width"), col("height"),
        unix_timestamp(col("time")).as("tsec"))
      .as[(String, Int, Int, Array[Byte], String, Double, Int, Int, Long)]
      .groupByKey { case (band, ty, tx, _, _, _, _, _, _) => (band, ty, tx) }
      .mapGroups { (key, it) =>
        val (band, ty, tx) = key
        var bv: Array[Double] = null
        var bd: Array[Double] = null
        var cnt: Array[Int] = null
        var tw = -1
        var th = -1
        it.foreach { case (_, _, _, data, dtype, nodata, w, h, tsec) =>
          val m = w * h
          if (bv == null) {
            tw = w; th = h
            bv = Array.fill(m)(Double.NegativeInfinity)
            bd = Array.fill(m)(-1.0)
            cnt = new Array[Int](m)
          }
          require(w == tw && h == th,
            s"tile shape mismatch in group ($band,$ty,$tx): " +
              s"(${w}x$h) vs (${tw}x$th)")
          val td = math.floor((tsec - anchorSec) / 86400.0 + 0.5)
          val px = Fuse.decode(data, dtype)
          var i = 0
          while (i < m) {
            val v = px(i)
            if (!(v.isNaN || v == nodata)) {
              cnt(i) += 1
              if (v > bv(i) || (v == bv(i) && td < bd(i))) {
                bv(i) = v; bd(i) = td
              }
            }
            i += 1
          }
        }
        (band, ty, tx, bv.zip(bd), cnt)
      }
      .toDF("band", "ty", "tx", "bd", "cnt")
  }

  /** Streaming STANDING PEAK MAP (beyond the reference): the
    * peak-of-season argmax ([[graft.load.Phenology]]'s batch
    * semantics) maintained incrementally — each microbatch's partial
    * (best value, best day) planes fold into the standing state with
    * the SAME replay-safe batchId-guarded swap commit as the other
    * standing-merge sinks, on the SAME shared drain
    * ([[ensureMergeStates]], third sink). The argmax merge is
    * associative and commutative, so the streamed state equals the
    * one-shot batch argmax of the same scenes — which is exactly what
    * the oracle recomputes from the landed raw series. */
  def streamPhenology(spark: SparkSession): DataFrame = {
    val statePath = ensureMergeStates(spark)(2)
    val (allItems, allSchemas) = parsed(spark)
    val grid = Planner.outputGeobox(allItems, allSchemas).get

    // oracle anchor: the same scenes in ONE batch load, raw per-time
    // pixel series landed for DuckDB's independent argmax recompute
    val res = Load.load(spark, allItems, allSchemas,
      bands = Seq("red", "nir"), groupby = "id", chunks = 64,
      geobox = Some(grid))
    val decode = udf { (data: Array[Byte], dtype: String) =>
      Fuse.decode(data, dtype) }
    res.tiles
      .select(col("band"), col("tIdx").as("tidx"), col("ty"), col("tx"),
        unix_timestamp(col("time")).as("tsec"), col("nodata"),
        posexplode(decode(col("data"), col("dtype"))))
      .select(col("band"), col("tidx"), col("ty"), col("tx"), col("tsec"),
        col("pos"),
        when(isnan(col("col")) || col("col") === col("nodata"),
          lit(Double.NaN)).otherwise(col("col")).as("value"))
      .write.mode("overwrite").parquet(StreamPeakCellsPath)

    // summary of the STREAMED state (quantized, order-exact)
    spark.read.parquet(statePath)
      .select(col("band"), col("ty"), col("tx"),
        expr("aggregate(cnt, 0, (s, c) -> s + c)").as("n_obs"),
        expr("aggregate(bd, 0, (s, e) -> s + " +
          "if(e._1 = CAST('-Infinity' AS DOUBLE), 0, 1))").as("n_peak"),
        expr("aggregate(bd, 0L, (s, e) -> s + " +
          "if(e._1 = CAST('-Infinity' AS DOUBLE), 0L, " +
          "CAST(round(e._1 * 100) AS BIGINT)))").as("peak_q"),
        expr("aggregate(bd, 0L, (s, e) -> s + " +
          "if(e._2 < 0, 0L, CAST(e._2 AS BIGINT)))").as("day_sum"))
      .orderBy("band", "ty", "tx")
  }

  private[rasterops] val streamPhenologyDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - $TrendAnchorSec) / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$StreamPeakCellsPath/*.parquet')),
       |w AS (
       |  SELECT band, ty, tx, pos, t, value,
       |         MAX(CASE WHEN isnan(value) THEN NULL ELSE value END)
       |           OVER (PARTITION BY band, ty, tx, pos) AS pk
       |  FROM c),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): the streamed state
       |  -- holds a row for every tile ever LOADED
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n,
       |         ANY_VALUE(pk) AS peak,
       |         MIN(CASE WHEN NOT isnan(value) AND value = pk
       |             THEN t END) AS day
       |  FROM w GROUP BY band, ty, tx, pos)
       |SELECT band, ty, tx,
       |       CAST(SUM(n) AS INT) AS n_obs,
       |       CAST(COUNT(day) AS INT) AS n_peak,
       |       CAST(SUM(COALESCE(CAST(ROUND(peak * 100) AS BIGINT), 0))
       |            AS BIGINT) AS peak_q,
       |       CAST(SUM(COALESCE(CAST(day AS BIGINT), 0))
       |            AS BIGINT) AS day_sum
       |FROM px GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  private[rasterops] val streamTrendDuckSql: String =
    s"""WITH c AS (
       |  SELECT band, ty, tx, pos,
       |         FLOOR((tsec - $TrendAnchorSec) / 86400.0 + 0.5) AS t,
       |         value
       |  FROM read_parquet('$StreamTrendCellsPath/*.parquet')),
       |px AS (
       |  -- NaN rows stay (CASE arms, not a WHERE): the streamed state
       |  -- holds a row for every tile ever LOADED, so a tile with zero
       |  -- valid observations must still produce its all-zero summary
       |  -- row here (the streamComposite oracle's convention)
       |  SELECT band, ty, tx, pos,
       |         COUNT(CASE WHEN NOT isnan(value) THEN 1 END) AS n,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE t END) AS st,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE t * t END) AS stt,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE value END) AS sv,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE t * value END) AS stv
       |  FROM c GROUP BY band, ty, tx, pos),
       |f AS (
       |  SELECT band, ty, tx, pos, n,
       |         CASE WHEN n >= 2 AND n * stt - st * st <> 0
       |              THEN (n * stv - st * sv) / (n * stt - st * st)
       |              END AS slope,
       |         CASE WHEN n >= 2 AND n * stt - st * st <> 0
       |              THEN (sv - ((n * stv - st * sv) / (n * stt - st * st))
       |                    * st) / n
       |              END AS icept
       |  FROM px)
       |SELECT band, ty, tx,
       |       CAST(SUM(n) AS INT) AS n_obs,
       |       CAST(COUNT(slope) AS INT) AS n_fit,
       |       CAST(SUM(COALESCE(CAST(ROUND(slope * 1e6) AS BIGINT), 0))
       |            AS BIGINT) AS slope_q,
       |       CAST(SUM(COALESCE(CAST(ROUND(icept * 100) AS BIGINT), 0))
       |            AS BIGINT) AS icept_q
       |FROM f GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  private[rasterops] val streamCompositeDuckSql: String =
    s"""WITH px AS (
       |  SELECT band, ty, tx, py, px,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE value END) AS s,
       |         MIN(CASE WHEN isnan(value) THEN NULL ELSE value END) AS mn,
       |         MAX(CASE WHEN isnan(value) THEN NULL ELSE value END) AS mx,
       |         SUM(CASE WHEN isnan(value) THEN 0 ELSE 1 END) AS c
       |  FROM read_parquet('$StreamCompCellsPath/*.parquet')
       |  GROUP BY band, ty, tx, py, px)
       |SELECT band, ty, tx,
       |       CAST(COUNT(*) AS INT) AS n_px,
       |       CAST(SUM(c) AS BIGINT) AS cnt_total,
       |       CAST(SUM(CASE WHEN c > 0
       |                THEN CAST(ROUND(s * 100) AS BIGINT)
       |                ELSE 0 END) AS BIGINT) AS sum_q,
       |       ROUND(MIN(mn), 2) AS vmin,
       |       ROUND(MAX(mx), 2) AS vmax
       |FROM px
       |GROUP BY band, ty, tx
       |ORDER BY band, ty, tx""".stripMargin

  private[rasterops] val streamIngestDuckSql: String =
    s"""SELECT band, t, ty, tx, COUNT(*) AS n_px,
       |       CAST(SUM(CASE WHEN isnan(value) THEN 0
       |                ELSE CAST(ROUND(value * 100) AS BIGINT) END)
       |            AS BIGINT) AS sum_q,
       |       ROUND(MIN(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmin,
       |       ROUND(MAX(CASE WHEN isnan(value) THEN NULL ELSE value END), 2) AS vmax
       |FROM read_parquet('$StreamCellsPath/*.parquet')
       |GROUP BY band, t, ty, tx
       |ORDER BY band, t, ty, tx""".stripMargin

  /** Streaming zonal statistics (beyond the reference): scenes arrive
    * one per microbatch and each batch appends only its |zones|×|bands|
    * PARTIAL rows to a standing partials table — O(zones) incremental
    * maintenance per batch, never a recompute over history; the final
    * answer is a re-aggregation of partials. The zones are the zonal
    * trio, so DuckDB recomputes the same per-zone totals from the
    * per-item pixel planes (`CompositeCellsPath`, identical fixture
    * items) with the ray cast from the landed zone edges — a batch
    * dropped, double-counted, or mis-painted shifts the totals. */
  def streamZonal(spark: SparkSession): DataFrame = {
    val jsons = Fixtures.writeScenes(NScenes).map(_.replaceAll("\n", " "))
    val (allItems, allSchemas) = parsed(spark)
    val grid = Planner.outputGeobox(allItems, allSchemas).get
    // the zonal trio under the NAMES the landed zone-edge table uses
    val zones = demoZones(grid.crs).take(3)
      .zip(Seq("rect", "tri", "holed"))
      .map { case ((_, g), n) => (n, g) }
    val landing = java.nio.file.Files.createTempDirectory("graft_szonal_land")
    jsons.zipWithIndex.foreach { case (j, i) =>
      java.nio.file.Files.write(landing.resolve(f"item_$i%03d.json"),
        j.getBytes("UTF-8"))
    }
    val partialsOut = java.nio.file.Files
      .createTempDirectory("graft_szonal_out").toString + "/partials"
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1")
      .text(landing.toString)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val js = batch.select("value").as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
        if (js.nonEmpty) {
          // driver-side parse against the standing schemas — see
          // [[streamRasterIngest]]'s foreachBatch note
          val items = StacParse.parseItemsLocal(js, allSchemas).sortBy(_.id)
          val res = Load.load(spark, items, allSchemas,
            bands = Seq("red", "nir"), groupby = "id", chunks = 64,
            geobox = Some(grid))
          graft.load.Zonal.zonalStats(spark, res.tiles, grid, zones)
            .write.mode("append").parquet(partialsOut)
        }
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(partialsOut)
      .groupBy("zone", "band")
      .agg(sum("n_valid").as("n_valid"),
        round(sum("total"), 2).as("total"),
        round(min("vmin"), 2).as("vmin"),
        round(max("vmax"), 2).as("vmax"))
      .orderBy("zone", "band")
  }

  private[rasterops] val streamZonalDuckSql: String =
    s"""WITH e AS (
       |  SELECT zone, x1, y1, x2, y2
       |  FROM read_parquet('$ZoneEdgesPath/*.parquet')),
       |p AS (
       |  -- per-ITEM observations: an overlap pixel seen by two scenes
       |  -- is two in-zone observations, exactly as the per-batch
       |  -- partials count it
       |  SELECT band, tidx, value,
       |         500000 + (tx * 64 + px + 0.5) * 10 AS cx,
       |         8000000 - (ty * 64 + py + 0.5) * 10 AS cy
       |  FROM read_parquet('$CompositeCellsPath/*.parquet')
       |  WHERE NOT isnan(value)),
       |hit AS (
       |  SELECT e.zone, p.band, p.tidx, p.cx, p.cy, MIN(p.value) AS value,
       |         SUM(CASE WHEN (e.y1 > p.cy) <> (e.y2 > p.cy)
       |                   AND p.cx < (e.x2 - e.x1) * (p.cy - e.y1)
       |                              / (e.y2 - e.y1) + e.x1
       |              THEN 1 ELSE 0 END) AS cr
       |  FROM p CROSS JOIN e
       |  GROUP BY e.zone, p.band, p.tidx, p.cx, p.cy)
       |SELECT zone, band, COUNT(*) AS n_valid,
       |       ROUND(SUM(value), 2) AS total,
       |       ROUND(MIN(value), 2) AS vmin, ROUND(MAX(value), 2) AS vmax
       |FROM hit WHERE cr % 2 = 1
       |GROUP BY zone, band ORDER BY zone, band""".stripMargin
}
