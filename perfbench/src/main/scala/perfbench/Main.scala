package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.geo.Crs
import graft.load.{Fuse, Load, LoadResult}
import graft.planner.Planner
import graft.raster.AutoReader
import graft.stac.StacParse
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, xxhash64}

/** Closed-loop benchmark of the load pipeline: one client on `local[4]`
  * runs ops back to back for `--seconds`; each op is STAC JSON -> parse ->
  * `Load.load` -> (geomedian) -> one aggregate action. Prints a
  * `PERFBENCH_RECORD` line with every sample, then the result line. */
object Main {
  val Threads = 4
  val SetupReps = 3

  /** Aggregate of one op's output: rows, pixels, valid pixels, and an
    * order-independent content hash (xor of per-row xxhash64). */
  final case class Out(rows: Long, px: Long, valid: Long, hash: Long)

  final case class OpRec(i: Int, secs: Double, ok: Boolean, traced: Boolean,
      rcharBytes: Long, gcMs: Long, err: String)

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Threads]")
      .appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def aggregate(df: DataFrame, geomedian: Boolean): Out = {
    import df.sparkSession.implicits._
    val cols =
      if (geomedian) Seq(expr("CAST(size(geomedian) AS BIGINT)"),
        expr("CAST(size(filter(geomedian, v -> NOT isnan(v))) AS BIGINT)"),
        xxhash64(col("band"), col("ty"), col("tx"), col("geomedian")))
      else Seq(expr("CAST(width AS BIGINT) * height"), col("validCount"),
        xxhash64(col("band"), col("tIdx"), col("ty"), col("tx"), col("data")))
    // per-partition partials, folded after collect: the action adds no
    // shuffle of its own, so shuffle counts belong to the pipeline
    df.select(cols: _*).as[(Long, Long, Long)].mapPartitions { it =>
      var o = Out(0, 0, 0, 0)
      it.foreach { case (p, v, h) => o = Out(o.rows + 1, o.px + p, o.valid + v, o.hash ^ h) }
      Iterator(o)
    }.collect().foldLeft(Out(0, 0, 0, 0)) { (a, b) =>
      Out(a.rows + b.rows, a.px + b.px, a.valid + b.valid, a.hash ^ b.hash)
    }
  }

  /** One op. `op` >= 0 records its spans under that id. */
  def runOp(spark: SparkSession, w: Workload, jsons: Seq[String],
      op: Int): (Out, LoadResult) = {
    Trace.currentOp = op
    try pipeline(spark, w, jsons, op) finally Trace.currentOp = -1
  }

  private def pipeline(spark: SparkSession, w: Workload, jsons: Seq[String],
      op: Int): (Out, LoadResult) = {
    import spark.implicits._
    val reader = if (op >= 0) TracedReader else AutoReader
    val bands = w.scenes.bands
    val (out, res, items, schemas) = Trace.span(spark, "op", "", op) { root =>
      val (items, schemas) = Trace.span(spark, "stac.parse", root, op) { _ =>
        val (ds, schemas) = StacParse.parseItems(spark, spark.createDataset(jsons))
        (ds.collect().toSeq, schemas)
      }
      val res = Trace.span(spark, "load.plan", root, op) { _ =>
        Load.load(spark, items, schemas, bands = bands, groupby = "solar_day",
          chunks = w.chunks, crs = w.crs, resolution = w.crs.map(_ => w.scenes.res),
          resampling = w.resampling, reader = reader)
      }
      val out = Trace.span(spark, "load.exec", root, op) { _ =>
        aggregate(if (w.geomedian) res.geomedianComposite(bands) else res.tiles,
          w.geomedian)
      }
      (out, res, items, schemas)
    }
    if (op >= 0) {
      // the planner stages of the same inputs, timed standalone (outside
      // the op span, so they do not count in its latency)
      Trace.span(spark, "planner.grid", "", op) { _ =>
        Planner.outputGeobox(items, schemas, bands, crs = w.crs,
          resolution = w.crs.map(_ => w.scenes.res))
      }
      val c = res.geobox.extent
      val midLon = Crs.transform(res.geobox.crs, Crs.LonLat,
        (c.x0 + c.x1) / 2, (c.y0 + c.y1) / 2)._1
      Trace.span(spark, "planner.group", "", op) { _ =>
        Planner.groupItems(items, Planner.GroupBy.parse("solar_day", Some(midLon)))
      }
    }
    (out, res)
  }

  /** Set-up checks of a native-grid load against the scene formula: the
    * output grid, the valid-pixel total, and every pixel of a few tiles. */
  def checkPaste(w: Workload, res: LoadResult, out: Out, seed: Long): Seq[String] = {
    val s = w.scenes
    val g = s.mosaicGeobox
    val errs = Seq.newBuilder[String]
    if (res.geobox.width != g.width || res.geobox.height != g.height ||
        res.geobox.transform != g.transform)
      errs += s"output grid ${res.geobox} != expected $g"
    if (res.times.length != s.days) errs += s"${res.times.length} time groups != ${s.days}"
    if (out.valid != s.expectedValid) errs += s"valid ${out.valid} != expected ${s.expectedValid}"
    if (out.px != g.width.toLong * g.height * s.bands.size * s.days)
      errs += s"pixels ${out.px} != expected"
    val nty = (g.height + w.chunks - 1) / w.chunks
    val ntx = (g.width + w.chunks - 1) / w.chunks
    val rnd = new scala.util.Random(seed)
    val picks = Seq.fill(4)((rnd.nextInt(s.bands.size), rnd.nextInt(s.days),
      rnd.nextInt(nty), rnd.nextInt(ntx))).distinct
    val cond = picks.map { case (b, t, ty, tx) =>
      s"(band = '${s.bands(b)}' AND tIdx = $t AND ty = $ty AND tx = $tx)"
    }.mkString(" OR ")
    val rows = res.tiles.where(cond)
      .select("band", "tIdx", "x0", "y0", "width", "height", "dtype", "data").collect()
    if (rows.length != picks.size) errs += s"${rows.length} sampled tiles of ${picks.size}"
    var bad = 0L
    var checked = 0L
    rows.foreach { r =>
      val b = s.bands.indexOf(r.getString(0))
      val (t, x0, y0, tw, th) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      val px = Fuse.decode(r.getAs[Array[Byte]](7), r.getString(6))
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          if (px(y * tw + x) != s.expected(seed, t, b, x0 + x, y0 + y)) bad += 1
          checked += 1
          x += 1
        }
        y += 1
      }
    }
    if (bad > 0) errs += s"$bad of $checked sampled pixels differ from the scene formula"
    errs.result()
  }

  private def rchar(): Long = {
    val p = Paths.get("/proc/self/io")
    if (!Files.isReadable(p)) 0L
    else Files.readAllLines(p).asScala.collectFirst {
      case l if l.startsWith("rchar:") => l.drop(6).trim.toLong
    }.getOrElse(0L)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val tMain = Trace.now()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opts("workload")).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${opts("workload")}; " +
        s"one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val jvmS = (tMain - opts("launch-ns").toLong) / 1e9

    val tFix = System.nanoTime()
    val dir = Fixtures.prepare(work.resolve("fixtures"), w.scenes, seed)
    val jsons = w.scenes.items(dir)
    val fixtureS = (System.nanoTime() - tFix) / 1e9

    // set-up, repeated: a fresh session plus one warm-up op each time; the
    // first also fixes the expected output and checks it
    var expected: Out = null
    val setupErrs = Seq.newBuilder[String]
    var spark: SparkSession = null
    val repS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      spark = session(work)
      val (out, res) = runOp(spark, w, jsons, -1)
      if (r == 1) {
        expected = out
        if (out.rows == 0 || out.valid == 0) setupErrs += s"empty output $out"
        if (w.paste) setupErrs ++= checkPaste(w, res, out, seed)
      } else if (out != expected) setupErrs += s"warm-up op $r gave $out, expected $expected"
      if (r < SetupReps) spark.stop()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = jvmS + Stats.median(repS)

    val tWarm = System.nanoTime()
    var warmOps = 0
    while (System.nanoTime() - tWarm < w.warmupS * 1e9) {
      val (out, _) = runOp(spark, w, jsons, -1)
      if (out != expected) setupErrs += s"warm-up op $warmOps gave $out, expected $expected"
      warmOps += 1
    }
    val warmupS = (System.nanoTime() - tWarm) / 1e9

    if (traced) spark.sparkContext.addSparkListener(new Trace.Listener)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val ops = Seq.newBuilder[OpRec]
    val tStop = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < tStop) {
      // in a traced run every other op is traced; the untraced ones give
      // the tracing overhead under the same conditions
      val tr = traced && i % 2 == 0
      val (io0, gc0) = (rchar(), gcMs())
      val t0 = System.nanoTime()
      val (ok, err) =
        try {
          val (out, _) = runOp(spark, w, jsons, if (tr) i else -1)
          (out == expected, if (out == expected) "" else s"got $out")
        } catch { case e: Exception => (false, e.toString) }
      val secs = (System.nanoTime() - t0) / 1e9
      ops += OpRec(i, secs, ok, tr, rchar() - io0, gcMs() - gc0, err)
      i += 1
    }
    val recs = ops.result()
    if (traced) Trace.drain(spark)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    System.gc(); System.gc()
    val heapRetainedMb =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val okRecs = recs.filter(_.ok)
    val setupOk = setupErrs.result().isEmpty
    val failed = recs.count(!_.ok)
    val lat = okRecs.map(_.secs)
    val (tailP, tailBeyond) = Stats.tailRank(lat.size)
    val sumS = lat.sum
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_s_p50", Stats.median(lat), "s"),
      ("op_s_tail", Stats.percentile(lat, tailP), "s"),
      ("mpx_per_s", expected.px / 1e6 * lat.size / sumS, "Mpx/s"),
      ("items_per_s", jsons.size.toDouble * lat.size / sumS, "items/s"),
      ("ok_frac", okRecs.size.toDouble / math.max(1, recs.size), "ratio"),
      ("heap_retained_mb", heapRetainedMb, "MB"))

    val layers = if (traced) Layers.derive(Trace.all, recs, heapPeakMb, Threads) else Nil
    if (traced) Layers.writeSpans(work.resolve("traces")
      .resolve(s"${w.name}-s$seed.jsonl"), Trace.all)
    val selfTimes = if (traced) Layers.selfTimes(Trace.all) else Nil
    spark.stop()

    val metrics = if (traced) layers.map(l => (l.name, l.value, l.unit)) else endToEnd
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    val metricsJson = obj(metrics.map { case (n, v, u) =>
      n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
    })
    val record = obj(Seq(
      "workload" -> str(w.name), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "seconds" -> num(seconds), "threads" -> Threads.toString,
      "items_per_op" -> jsons.size.toString,
      "expected" -> obj(Seq("rows" -> expected.rows.toString, "px" -> expected.px.toString,
        "valid" -> expected.valid.toString, "hash" -> expected.hash.toString)),
      "setup_ok" -> setupOk.toString,
      "setup_errors" -> setupErrs.result().map(str).mkString("[", ", ", "]"),
      "jvm_start_s" -> num(jvmS), "fixture_s" -> num(fixtureS),
      "setup_reps_s" -> repS.map(num).mkString("[", ", ", "]"),
      "warmup_s" -> num(warmupS), "warmup_ops" -> warmOps.toString,
      "tail_percentile" -> tailP.toString, "tail_beyond" -> tailBeyond.toString,
      "failed_frac" -> num(failed.toDouble / math.max(1, recs.size)),
      "heap_peak_mb" -> num(heapPeakMb),
      "java_version" -> str(System.getProperty("java.version")),
      "spark_version" -> str(org.apache.spark.SPARK_VERSION),
      "metrics" -> metricsJson,
      "counts_repeat" -> obj(layers.filter(_.exact).map(l => l.name -> l.repeats.toString)),
      "self_s_per_op" -> obj(selfTimes.map { case (n, v) => n -> num(v) }),
      "ops" -> recs.map(o => obj(Seq("i" -> o.i.toString, "s" -> num(o.secs),
        "ok" -> o.ok.toString, "traced" -> o.traced.toString,
        "rchar" -> o.rcharBytes.toString, "gc_ms" -> o.gcMs.toString,
        "err" -> str(o.err)))).mkString("[", ", ", "]")))
    println("PERFBENCH_RECORD " + record)
    println(obj(Seq("correct" -> (setupOk && failed == 0).toString,
      "attempted" -> recs.size.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson)))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** The highest of p99/p95/p90/p75 with at least ten samples above it,
    * and that sample count. Runs with fewer than 40 ops get p75 and fewer
    * than ten samples beyond it; the count is reported beside it. */
  def tailRank(n: Int): (Int, Int) = {
    def beyond(p: Int) = n - math.max(0, math.ceil(p / 100.0 * n).toInt)
    val p = Seq(99, 95, 90).find(beyond(_) >= 10).getOrElse(75)
    (p, beyond(p))
  }
}
