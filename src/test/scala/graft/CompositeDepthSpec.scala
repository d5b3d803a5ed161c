package graft

import graft.load.{Composite, Fuse, Load, TemporalFill, Trend}
import graft.raster.Fixtures
import graft.stac.StacParse
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** Deep-time-stack memory bound for the non-mergeable across-time
  * operators (median/quantile/masked/geomedian/MAD, Theil–Sen,
  * temporal fill): tiles are sliced into row bands sized from the B·T
  * plane count BEFORE the rechunk shuffle, so any one task buffers at
  * most `stateBudgetBytes` of decoded planes regardless of archive
  * depth T — and many slices per tile give BIT-IDENTICAL results to one
  * slice per tile (`stateBudgetBytes = Long.MaxValue`, the whole-tile
  * groups). T=160 here satisfies the T ≥ 128 deep-stack requirement. */
class CompositeDepthSpec extends AnyFunSuite {
  import GraftSpark.spark

  private val T = 160
  private val W = 32
  private val H = 32

  /** Deterministic deep stack: `nb` bands × T times of one W×H uint16
    * tile, nodata=0, with per-pixel holes (pixel i invalid at time t
    * when (t + i) % 7 == 0) and a few all-hole pixels; plane tIdx is
    * acquired on day tIdx. */
  private def deepTiles(nb: Int) = {
    import spark.implicits._
    val bands = Seq("red", "nir", "qa").take(nb)
    val rows = for {
      (band, b) <- bands.zipWithIndex
      t <- 0 until T
    } yield {
      val px = Array.tabulate(W * H) { i =>
        if (i < 3 || (t + i) % 7 == 0) 0.0 // nodata holes
        else if (band == "qa") (t + i) % 2 // mask plane: 0/1 flags
        else 1.0 + ((t * 31 + i * 7 + b * 13) % 997)
      }
      (band, t, 0, 0, Fuse.encode(px, "uint16"), "uint16", 0.0, W, H)
    }
    rows.toDF("band", "tIdx", "ty", "tx", "data", "dtype", "nodata",
      "width", "height")
      .withColumn("time",
        expr("timestampadd(DAY, tIdx, timestamp'2020-06-01 00:00:00')"))
  }

  /** Budget forcing ~8 row-band slices for `planes` planes per group. */
  private def budgetFor(planes: Int): Long = planes.toLong * W * 8L * (H / 8)

  private def probe(): Composite.MaxAcc = {
    val a = new Composite.MaxAcc
    spark.sparkContext.register(a, "composite_state_probe")
    a
  }

  /** Canonical row dump (schemas are identical across the two budgets,
    * so whole-row string equality IS bit equality incl. NaN markers). */
  private def planesOf(df: DataFrame, cols: Seq[String]): Seq[String] = {
    val key = df.columns.filterNot(cols.contains).toSeq
    df.select((key ++ cols).map(col): _*)
      .collect().map(_.toString).sorted.toSeq
  }

  test("sliceRowsFor honors the budget with a one-row floor") {
    assert(Composite.sliceRowsFor(160, 32, 32, budgetFor(160)) == 4)
    assert(Composite.sliceRowsFor(1, 32, 32, Long.MaxValue) == 32)
    // budget below one row of planes: floor at 1 row (the irreducible
    // minimum), bound becomes planes·w·8
    assert(Composite.sliceRowsFor(1000, 2048, 2048, 1024) == 1)
    // the motivating 100-TB shape: 8 bands × 500 times × 2048-wide tile
    // under the default budget → a few rows per slice, not 2048
    val sr = Composite.sliceRowsFor(4000, 2048, 2048,
      Composite.DefaultStateBudgetBytes)
    assert(sr >= 1 && sr.toLong * 4000 * 2048 * 8 <=
      Composite.DefaultStateBudgetBytes)
  }

  test("median/quantile: sliced plan bit-identical to full-tile, state capped") {
    val tiles = deepTiles(1)
    val full = planesOf(
      Composite.medianAcrossTime(spark, tiles, planesPerTile = T,
        stateBudgetBytes = Long.MaxValue), Seq("median", "count"))
    val acc = probe()
    val budget = budgetFor(T)
    val sliced = planesOf(
      Composite.medianAcrossTime(spark, tiles, planesPerTile = T,
        stateBudgetBytes = budget, stateProbe = Some(acc)),
      Seq("median", "count"))
    assert(sliced == full)
    assert(acc.value > 0 && acc.value <= budget,
      s"peak decoded state ${acc.value} exceeds budget $budget")

    val fullQ = planesOf(
      Composite.quantileAcrossTime(spark, tiles, 0.25, planesPerTile = T,
        stateBudgetBytes = Long.MaxValue), Seq("quantile", "count"))
    val slicedQ = planesOf(
      Composite.quantileAcrossTime(spark, tiles, 0.25, planesPerTile = T,
        stateBudgetBytes = budget), Seq("quantile", "count"))
    assert(slicedQ == fullQ)
  }

  test("masked median: sliced plan bit-identical, state capped (T=160 ×2 bands)") {
    val tiles = deepTiles(3).where("band in ('red','qa')")
    val full = planesOf(
      Composite.maskedMedianAcrossTime(spark, tiles, "red", "qa", _ == 1.0,
        planesPerTile = 2 * T, stateBudgetBytes = Long.MaxValue),
      Seq("median", "count"))
    val acc = probe()
    val budget = budgetFor(2 * T)
    val sliced = planesOf(
      Composite.maskedMedianAcrossTime(spark, tiles, "red", "qa", _ == 1.0,
        planesPerTile = 2 * T, stateBudgetBytes = budget,
        stateProbe = Some(acc)), Seq("median", "count"))
    assert(sliced == full)
    assert(acc.value > 0 && acc.value <= budget,
      s"peak decoded state ${acc.value} exceeds budget $budget")
  }

  test("temporal fill: sliced plan bit-identical, state capped (T=160)") {
    val tiles = deepTiles(1)
    def canon(df: DataFrame) =
      df.select(col("band"), col("tIdx"), col("ty"), col("tx"),
        col("n_filled"), col("filled"))
        .collect().map(_.toString).sorted.toSeq
    val full = canon(TemporalFill.fillAcrossTime(spark, tiles,
      timeDepth = T, stateBudgetBytes = Long.MaxValue))
    val acc = probe()
    // the fill holds decoded + filled planes: 2·T enters the slicing
    val budget = budgetFor(2 * T)
    val sliced = canon(TemporalFill.fillAcrossTime(spark, tiles,
      timeDepth = T, stateBudgetBytes = budget, stateProbe = Some(acc)))
    assert(sliced == full)
    assert(acc.value > 0 && acc.value <= budget,
      s"peak decoded state ${acc.value} exceeds budget $budget")
  }

  test("geomedian + MADs: sliced plan bit-identical, state capped (T=160 ×2 bands)") {
    val tiles = deepTiles(2)
    val bands = Seq("red", "nir")
    val full = planesOf(
      Composite.geomedianAcrossTime(spark, tiles, bands,
        planesPerTile = 2 * T, stateBudgetBytes = Long.MaxValue),
      Seq("geomedian", "count"))
    val acc = probe()
    val budget = budgetFor(2 * T)
    val sliced = planesOf(
      Composite.geomedianAcrossTime(spark, tiles, bands,
        planesPerTile = 2 * T, stateBudgetBytes = budget,
        stateProbe = Some(acc)), Seq("geomedian", "count"))
    assert(sliced == full)
    assert(acc.value > 0 && acc.value <= budget,
      s"peak decoded state ${acc.value} exceeds budget $budget")

    val fullM = planesOf(
      Composite.geomadAcrossTime(spark, tiles, bands, planesPerTile = 2 * T,
        stateBudgetBytes = Long.MaxValue),
      Seq("emad", "smad", "bcmad", "count"))
    val accM = probe()
    val slicedM = planesOf(
      Composite.geomadAcrossTime(spark, tiles, bands, planesPerTile = 2 * T,
        stateBudgetBytes = budget, stateProbe = Some(accM)),
      Seq("emad", "smad", "bcmad", "count"))
    assert(slicedM == fullM)
    assert(accM.value > 0 && accM.value <= budget,
      s"peak decoded state ${accM.value} exceeds budget $budget")
  }

  test("geomedian + MADs: the state probe counts the solver's block scratch") {
    val tiles = deepTiles(2)
    val bands = Seq("red", "nir")
    // one slice: all 2T planes of the 32×32 tile, plus the scratch of a
    // block of the size the solver picks under the budget's scratch share
    val blk = Composite.blockFor(T, 2, W * H,
      Long.MaxValue / Composite.ScratchShare)
    val expected = 2L * T * W * H * 8 + 8L * blk * (T * 3 + 2 * 2 + 4)
    Seq(
      (acc: Composite.MaxAcc) => Composite.geomedianAcrossTime(spark, tiles,
        bands, planesPerTile = 2 * T, stateBudgetBytes = Long.MaxValue,
        stateProbe = Some(acc)),
      (acc: Composite.MaxAcc) => Composite.geomadAcrossTime(spark, tiles,
        bands, planesPerTile = 2 * T, stateBudgetBytes = Long.MaxValue,
        stateProbe = Some(acc))
    ).foreach { run =>
      val acc = probe()
      run(acc).collect()
      assert(blk > 1 && acc.value == expected, s"peak ${acc.value}")
    }
  }

  test("theil-sen: sliced plan bit-identical, state capped (T=160)") {
    val tiles = deepTiles(1)
    val full = planesOf(
      Trend.theilSenAcrossTime(spark, tiles, 0L, planesPerTile = T,
        stateBudgetBytes = Long.MaxValue), Seq("slope", "icept", "count"))
    val acc = probe()
    val budget = budgetFor(T)
    val sliced = planesOf(
      Trend.theilSenAcrossTime(spark, tiles, 0L, planesPerTile = T,
        stateBudgetBytes = budget, stateProbe = Some(acc)),
      Seq("slope", "icept", "count"))
    assert(sliced == full)
    assert(acc.value > 0 && acc.value <= budget,
      s"peak decoded state ${acc.value} exceeds budget $budget")
  }

  /** Sorted row dump of `df` and the shuffle bytes its collect wrote. */
  private def collectCounting(df: DataFrame): (Seq[String], Long) = {
    val bytes = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    Harness.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = df.collect().map(_.toString).sorted.toSeq
      Harness.drainListeners(spark)
      (rows, bytes.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // T = 160 time groups of a driver-binned load, on its native grid and
  // bilinear-warped to EPSG:3857 (where the fused read's rounding shows)
  private val area = Fixtures.sceneGeobox(0).slice(64, 0, 2 * W, 2 * H)
  Seq("paste" -> false, "bilinear warp" -> true).foreach { case (kind, warp) =>
    test(s"load composites past one slice take the shuffle, rows equal to the fused gather (T=160, $kind)") {
      val (items, schemas) = StacParse.parseItems(Fixtures.writeScenes(T))
      val res =
        if (warp) Load.load(spark, items, schemas, bands = Seq("red", "nir"),
          groupby = "id", chunks = W, crs = Some("EPSG:3857"),
          resolution = Some(13.0),
          geopolygon = Some(area.footprint(graft.geo.Crs.LonLat)),
          resampling = Map("*" -> "bilinear"))
        else Load.load(spark, items, schemas, bands = Seq("red", "nir"),
          groupby = "id", chunks = W, geobox = Some(area))
      assert(res.times.length == T)
      val in = res.gather
      assert(in.plan.isDefined)
      val bands = Seq("red", "nir")
      type Run = (Long, Option[Composite.MaxAcc]) => DataFrame
      // (operator, planes its slices are sized for, run under a budget)
      val ops: Seq[(String, Int, Run)] = Seq(
        ("median", T, (b, p) => Composite.medianAcrossTime(spark, in, T, b, p)),
        ("quantile", T, (b, p) =>
          Composite.quantileAcrossTime(spark, in, 0.25, T, b, p)),
        ("masked median", 2 * T, (b, p) => Composite.maskedMedianAcrossTime(
          spark, in, "red", "nir", _ > 6000.0, 2 * T, b, p)),
        ("geomedian", 2 * T, (b, p) => Composite.geomedianAcrossTime(spark,
          in, bands, 2 * T, 8, Composite.DefaultEps, b, p)),
        ("geomad", 2 * T, (b, p) => Composite.geomadAcrossTime(spark, in,
          bands, 2 * T, 8, Composite.DefaultEps, b, p)),
        ("temporal fill", 2 * T, (b, p) =>
          TemporalFill.fillAcrossTime(spark, in, T, b, p)),
        ("theil-sen", T, (b, p) =>
          Trend.theilSenAcrossTime(spark, in, 0L, T, b, 0, p)))
      ops.foreach { case (name, planes, run) =>
        // one slice per tile: the fused gather, no shuffle
        val whole = probe()
        val (one, oneBytes) = collectCounting(run(Long.MaxValue, Some(whole)))
        assert(one.nonEmpty && oneBytes == 0L,
          s"$name: the one-slice run shuffled $oneBytes bytes")
        // past one slice: the shuffle gather, each tile read once
        val acc = probe()
        val budget = budgetFor(planes)
        val (sliced, slicedBytes) = collectCounting(run(budget, Some(acc)))
        assert(slicedBytes > 0L, s"$name: the sliced run did not shuffle")
        assert(sliced == one, s"$name: sliced rows differ")
        assert(acc.value > 0 && acc.value <= budget,
          s"$name: peak decoded state ${acc.value} exceeds budget $budget")
        assert(acc.value < whole.value, s"$name: tiles were not sliced")
      }
    }
  }

  test("building a rechunk operator fires no Spark job") {
    val tiles = deepTiles(2)
    val bands = Seq("red", "nir")
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "median" -> (() => Composite.medianAcrossTime(spark, tiles, T)),
      "quantile" -> (() => Composite.quantileAcrossTime(spark, tiles, 0.25, T)),
      "masked median" -> (() => Composite.maskedMedianAcrossTime(spark,
        tiles, "red", "nir", _ > 500.0, planesPerTile = 2 * T)),
      "geomedian" -> (() => Composite.geomedianAcrossTime(spark, tiles,
        bands, planesPerTile = 2 * T)),
      "geomad" -> (() => Composite.geomadAcrossTime(spark, tiles, bands,
        planesPerTile = 2 * T)),
      "theil-sen" -> (() => Trend.theilSenAcrossTime(spark, tiles, 0L, T)),
      "temporal fill" -> (() => TemporalFill.fillAcrossTime(spark, tiles, T)))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    // earlier specs' queued events must not reach the new listener
    Harness.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val eager = builders.map { case (name, build) =>
        jobs.set(0)
        build()
        Harness.drainListeners(spark)
        name -> jobs.get
      }.filter(_._2 > 0)
      assert(eager.isEmpty, s"jobs fired while building: $eager")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
