package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML chip extraction — the last step of the training-data loop
  * (rasterize → stratified sample → drill → CHIPS): cut a fixed-size
  * pixel patch around every sample point from the standing tile
  * layout, the unit a vision model actually trains on. Beyond the
  * reference surface (odc-stac users hand-roll this in numpy after
  * loading).
  *
  * Distribution shape: points ride the closure (sample lists are
  * thousands of rows, not pixels); every tile task emits only the
  * FRAGMENTS of chips its own tile covers (index/value arrays, no
  * full-plane traffic), and one output-sized shuffle keyed
  * (point, band, tIdx) assembles the ≤4 fragments of a chip that
  * crosses tile borders. Task state is one chip buffer — never a
  * tile, never the cube. Pixels outside raster coverage (or nodata)
  * stay NaN, so edge chips are well-defined padded patches.
  */
object Chips {

  /** Chip fragments from one tile: chip-local indices + values. Public
    * for Spark codegen visibility (Load.TileRow convention). */
  final case class Frag(pid: String, band: String, tIdx: Int,
                        idxs: Array[Int], vals: Array[Double])

  /** Cut `size`×`size` chips centered at nothing in particular —
    * `points` give each chip's TOP-LEFT global pixel corner
    * (pid, gy0, gx0), so callers control alignment exactly. Returns
    * one row per (point_id, band, tIdx): `chip` is the row-major
    * size² plane (NaN = nodata/uncovered), `n_valid` its valid count.
    * `combos` optionally declares the (band, tIdx) domain driver-side
    * (a `LoadResult` caller knows bands × times) — without it the
    * domain comes from `tiles.distinct()`, which re-executes the tile
    * lineage a second time when `tiles` is an unpersisted load. */
  def chips(spark: SparkSession, tiles: DataFrame,
            points: Seq[(String, Int, Int)], size: Int,
            combos: Seq[(String, Int)] = Nil): DataFrame = {
    import spark.implicits._
    require(size > 0, s"chip size must be positive: $size")
    // pre-binned by anchor bucket (the Drill convention): a tile scans
    // only the points whose chips can overlap it, not the whole sample
    // list — the probe rect grows by size-1 on the top/left because a
    // chip extends size px down-right of its anchor
    val bc = spark.sparkContext.broadcast(
      Drill.binByBucket(points)(_._3, _._2))
    val sz = size
    tiles
      .select(col("band"), col("tIdx"), col("x0"), col("y0"),
        col("width"), col("height"), col("data"), col("dtype"), col("nodata"))
      .as[(String, Int, Int, Int, Int, Int, Array[Byte], String, Double)]
      .flatMap { case (band, tIdx, x0, y0, w, h, data, dtype, nodata) =>
        val pts = Drill.candidates(bc.value,
          x0 - (sz - 1), y0 - (sz - 1), w + sz - 1, h + sz - 1).toArray
        val out = Seq.newBuilder[Frag]
        // decode at most once per tile regardless of how many chip
        // windows overlap it (sample lists are thousands of points)
        var pxCache: Array[Double] = null
        var p = 0
        while (p < pts.length) {
          val (pid, gy0, gx0) = pts(p)
          // overlap of this tile's rect with the chip's rect
          val ly0 = math.max(gy0, y0)
          val ly1 = math.min(gy0 + sz, y0 + h)
          val lx0 = math.max(gx0, x0)
          val lx1 = math.min(gx0 + sz, x0 + w)
          if (ly0 < ly1 && lx0 < lx1) {
            if (pxCache == null) pxCache = Fuse.decode(data, dtype)
            val px = pxCache
            val n = (ly1 - ly0) * (lx1 - lx0)
            val idxs = new Array[Int](n)
            val vals = new Array[Double](n)
            var k = 0
            var gy = ly0
            while (gy < ly1) {
              var gx = lx0
              while (gx < lx1) {
                val v = px((gy - y0) * w + (gx - x0))
                idxs(k) = (gy - gy0) * sz + (gx - gx0)
                vals(k) = if (v.isNaN || v == nodata) Double.NaN else v
                k += 1
                gx += 1
              }
              gy += 1
            }
            out += Frag(pid, band, tIdx, idxs, vals)
          }
          p += 1
        }
        out.result()
      }
      .groupByKey(f => (f.pid, f.band, f.tIdx))
      .mapGroups { (key, it) =>
        val (pid, band, tIdx) = key
        val chip = Array.fill(sz * sz)(Double.NaN)
        it.foreach { f =>
          var i = 0
          while (i < f.idxs.length) {
            chip(f.idxs(i)) = f.vals(i)
            i += 1
          }
        }
        var nValid = 0
        var i = 0
        while (i < chip.length) { if (!chip(i).isNaN) nValid += 1; i += 1 }
        (pid, band, tIdx, nValid, chip)
      }
      .toDF("point_id", "band", "tIdx", "n_valid", "chip")
      // a point whose chip rect overlaps NO tile of a (band, tIdx)
      // plane must not vanish: every (point × band × tIdx) combination
      // gets a row, all-NaN when uncovered — callers join chips back to
      // their sample lists and silent loss would corrupt the join.
      // FULL outer: a caller-supplied combos list that omits a
      // (band, tIdx) actually present in `tiles` is a mis-declared
      // domain, and its computed chips surface as left-only rows. The
      // error guard rides IN BOTH data columns (not a driver-side
      // pre-scan, which would re-execute the whole load lineage a
      // second time — the very cost combos exists to avoid): any
      // consumer that reads chip pixels or validity counts trips it;
      // a keys-only projection cannot observe chip loss either way.
      .join(
        (if (combos.nonEmpty) combos.toDF("band", "tIdx")
         else tiles.select(col("band"), col("tIdx")).distinct())
          .crossJoin(points.map(_._1).toDF("point_id"))
          .withColumn("_dom", lit(true)),
        Seq("point_id", "band", "tIdx"), "full_outer")
      .select(col("point_id"), col("band"), col("tIdx"),
        when(col("_dom").isNull, raise_error(concat(
          lit("Chips: computed chip for (band="), col("band"),
          lit(", tIdx="), col("tIdx").cast("string"),
          lit(") absent from the supplied combos domain"))).cast("int"))
          .otherwise(coalesce(col("n_valid"), lit(0))).as("n_valid"),
        when(col("_dom").isNull, raise_error(concat(
          lit("Chips: computed chip for (band="), col("band"),
          lit(", tIdx="), col("tIdx").cast("string"),
          lit(") absent from the supplied combos domain")))
          .cast("array<double>"))
          .otherwise(coalesce(col("chip"),
            expr(s"array_repeat(CAST('NaN' AS DOUBLE), ${sz * sz})")))
          .as("chip"))
  }
}
