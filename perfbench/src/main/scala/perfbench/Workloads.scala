package perfbench

import java.nio.file.{Files, Path}

import graft.geo.{Affine, Crs, GeoBox}
import graft.raster.{Grb, Tiff}

/** Synthetic scene set: a `grid` x `grid` layout of half-overlapping
  * `w` x `h` scenes (UTM 35S, 10 m) repeated for `days` days. Scene
  * `k = day * grid² + pos` has band `b` pixel `(x, y)` = [[Scenes.value]],
  * so any output pixel can be recomputed from the formula alone. */
final case class Scenes(kind: String, grid: Int, days: Int, w: Int, h: Int,
    bands: Seq[String], x0: Double, y0: Double, format: String) {

  val res = 10.0
  val perDay: Int = grid * grid
  val count: Int = perDay * days
  val crs: Crs = Crs.Utm(35, south = true)

  def geobox(k: Int): GeoBox = {
    val pos = k % perDay
    GeoBox(w, h, Affine.grid(x0 + (pos % grid) * (w / 2) * res,
      y0 - (pos / grid) * (h / 2) * res, res, -res), crs)
  }

  /** The native-grid mosaic of one day: the union of the scene boxes. */
  def mosaicGeobox: GeoBox = GeoBox(w + (grid - 1) * (w / 2),
    h + (grid - 1) * (h / 2), Affine.grid(x0, y0, res, -res), crs)

  def file(dir: Path, k: Int, band: String): Path =
    dir.resolve(s"s$k-$band.$format")

  /** Fixture directories of this scene set are `tag` + seed. */
  val tag: String = s"$kind-${grid}x$grid-${days}d-${w}x$h-s"

  def dir(root: Path, seed: Long): Path = root.resolve(tag + seed)

  def write(dir: Path, seed: Long): Unit = {
    val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
    Fixtures.deleteTree(tmp)
    Files.createDirectories(tmp)
    Fixtures.parallel(count) { k =>
      val gbox = geobox(k)
      bands.zipWithIndex.foreach { case (band, b) =>
        val px = new Array[Double](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { px(y * w + x) = Scenes.value(seed, k, b, x, y, w); x += 1 }
          y += 1
        }
        val path = file(tmp, k, band).toString
        if (format == "grb") Grb.write(path, px, gbox, "uint16", Some(0.0))
        else Tiff.write(path, px, gbox, "uint16", Some(0.0),
          tileSize = Some(math.min(512, w)),
          overviews = Seq(2, 4, 8).filter(w / _ >= 128),
          compression = Some("Deflate"))
      }
    }
    Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** STAC item JSON for every scene, datetime ordered by scene index so
    * the fuse priority inside a day is `pos` ascending. */
  def items(dir: Path): IndexedSeq[String] = (0 until count).map { k =>
    val gbox = geobox(k)
    val fp = gbox.footprint(Crs.LonLat)
    val ring = (fp.ring :+ fp.ring.head)
      .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val t = gbox.transform
    val pos = k % perDay
    val when = java.time.LocalDate.of(2021, 3, 1).plusDays((k / perDay).toLong)
    val assets = bands.map { band =>
      s""""$band": {"href": "${file(dir, k, band)}",
         |"type": "image/tiff; application=geotiff", "roles": ["data"],
         |"proj:shape": [$h, $w],
         |"proj:transform": [${t.a}, ${t.b}, ${t.c}, ${t.d}, ${t.e}, ${t.f}],
         |"raster:bands": [{"nodata": 0, "data_type": "uint16"}]}""".stripMargin
    }.mkString(",")
    s"""{"type": "Feature", "stac_version": "1.0.0", "id": "$kind-$k",
       |"collection": "perfbench-$kind",
       |"stac_extensions": ["https://stac-extensions.github.io/projection/v1.1.0/schema.json"],
       |"geometry": {"type": "Polygon", "coordinates": [$ring]},
       |"properties": {"datetime": "${when}T08:${f"${pos / 60}%02d:${pos % 60}%02d"}Z", "proj:epsg": 32735},
       |"assets": {$assets}}""".stripMargin.replace('\n', ' ')
  }

  /** First-valid value of output pixel (ox, oy) of `day`'s native mosaic
    * for band `b`: the lowest-`pos` scene holding a non-nodata pixel. */
  def expected(seed: Long, day: Int, b: Int, ox: Int, oy: Int): Int = {
    var pos = 0
    while (pos < perDay) {
      val sx = ox - (pos % grid) * (w / 2)
      val sy = oy - (pos / grid) * (h / 2)
      if (sx >= 0 && sx < w && sy >= 0 && sy < h) {
        val v = Scenes.value(seed, day * perDay + pos, b, sx, sy, w)
        if (v != 0) return v
      }
      pos += 1
    }
    0
  }

  /** Non-nodata output pixels of the whole native mosaic, all bands and
    * days (the stripe is the only nodata, so this is seed-independent). */
  def expectedValid: Long = {
    val g = mosaicGeobox
    var n = 0L
    var oy = 0
    while (oy < g.height) {
      var ox = 0
      while (ox < g.width) {
        if (expected(0L, 0, 0, ox, oy) != 0) n += 1
        ox += 1
      }
      oy += 1
    }
    n * bands.size * days
  }
}

object Scenes {
  /** Pixel value: a smooth ramp plus 4 bits of noise, offset per seed,
    * scene and band; 0 (nodata) in the right eighth of every scene. */
  def value(seed: Long, k: Int, b: Int, x: Int, y: Int, w: Int): Int =
    if (x >= w * 7 / 8) 0
    else {
      val base = Math.floorMod(seed * 7919L + k * 401L + b * 1009L, 20000L).toInt
      val hsh = (x * 0x9E3779B1) ^ (y * 0x85EBCA77) ^ (k * 0xC2B2AE3D)
      1 + base + (((x >> 4) + (y >> 4)) * 3) % 20000 + ((hsh ^ (hsh >>> 15)) & 15)
    }
}

/** One benchmark workload: a scene set, the `Load.load` arguments, and
  * how long ops run untimed after set-up, until the JIT has settled (the
  * op time stops falling; measured on a 4-core host). */
final case class Workload(name: String, scenes: Scenes, chunks: Int,
    warmupS: Double, crs: Option[String] = None,
    resampling: Map[String, String] = Map.empty, geomedian: Boolean = false) {
  /** Native-grid loads are pure pastes, checkable against the formula. */
  def paste: Boolean = crs.isEmpty && !geomedian
}

object Workloads {
  private val cogScenes = Scenes("cog", 3, 1, 1024, 768,
    Seq("red", "nir", "blu"), 400000.0, 8200000.0, "tif")

  val all: Seq[Workload] = Seq(
    // reference bench shape on the paste path: decode, fuse, encode
    Workload("mosaic_cog", cogScenes, chunks = 512, warmupS = 15),
    // same inputs, every pixel through the warp kernel
    Workload("warp_3857", cogScenes, chunks = 512, warmupS = 8,
      crs = Some("EPSG:3857"), resampling = Map("*" -> "bilinear")),
    // deep time stack of GRB scenes reduced by the across-time geomedian
    Workload("archive_geomedian", Scenes("grb", 2, 16, 512, 384,
      Seq("red", "nir"), 500000.0, 8000000.0, "grb"), chunks = 128,
      warmupS = 12, geomedian = true),
    // many small items: per-item parse, plan and open costs dominate.
    // warp_3857 and this one are run by hand: with them a full evaluation
    // of the benchmark would not fit its time budget (see README.md)
    Workload("catalog_timeseries", Scenes("cat", 10, 20, 128, 128,
      Seq("band"), 600000.0, 8100000.0, "tif"), chunks = 256, warmupS = 20))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}

object Fixtures {
  /** Keep this many seeds per scene set; older fixture dirs are removed
    * so a long series of seeds does not fill the disk. */
  private val KeepSeeds = 4

  /** Fixture dir for `seed`, generating it on first use. */
  def prepare(root: Path, s: Scenes, seed: Long): Path = {
    Files.createDirectories(root)
    val dir = s.dir(root, seed)
    if (!Files.isDirectory(dir)) {
      s.write(dir, seed)
      val listing = Files.list(root)
      val entries = try listing.toArray.map(_.asInstanceOf[Path]) finally listing.close()
      entries
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(s.tag) && !n.endsWith(".tmp") && p != dir
        }
        .sortBy(p => -Files.getLastModifiedTime(p).toMillis)
        .drop(KeepSeeds - 1).foreach(deleteTree)
    }
    dir
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }

  /** Run `f(0 until n)` on four threads. */
  def parallel(n: Int)(f: Int => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (0 until n).map(k => pool.submit(new Runnable { def run(): Unit = f(k) }))
      fs.foreach(_.get())
    } finally pool.shutdown()
  }
}
