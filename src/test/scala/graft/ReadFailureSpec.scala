package graft

import graft.geo.{Affine, Crs, GeoBox}
import graft.load.Fuse
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster.{AutoReader, Grb, NetCdf, RasterIO, Tiff, Zarr}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Cut, truncated and corrupt rasters through the buffered local input
  * and the paste fuse: a GRB cut inside its 72-byte header, GRBs cut
  * inside their pixel span (a window served from the input's buffer and
  * one read past it), a Deflate TIFF whose last tiles are cut off, and
  * TIFFs with one corrupt tile (flipped bytes, a Deflate stream that
  * ends short), a zlib zarr chunk with flipped bytes and a netCDF file
  * cut inside its data. One rule for every container: a strict read
  * fails with an `IOException` naming the file; a permissive load fuses
  * exactly the intact sources' pixels, plus, for a corrupt block, the
  * blocks read before it (none for a GRB or netCDF plane, which is read
  * as one span). */
class ReadFailureSpec extends AnyFunSuite {

  private lazy val dir = TmpLanding.fresh("graft_read_failure", "spec")
  private val crs = Crs.Utm(35, south = true)
  private val g = GeoBox(64, 48, Affine.grid(500000, 8000000, 10, -10), crs)

  private def gbox(w: Int, h: Int): GeoBox =
    GeoBox(w, h, Affine.grid(500000, 8000000, 10, -10), crs)

  /** `f(x, y)`, with every 7th pixel a nodata (0) hole. */
  private def plane(w: Int, h: Int, f: (Int, Int) => Double): Array[Double] =
    Array.tabulate(w * h)(i => if (i % 7 == 3) 0.0 else f(i % w, i / w))

  private def cut(from: String, to: String, keep: Long => Long): String = {
    val bytes = Files.readAllBytes(Paths.get(from))
    Files.write(Paths.get(to), bytes.take(keep(bytes.length.toLong).toInt))
    to
  }

  /** (name, path): the intact sources, then the cut ones. */
  private lazy val (intact, broken) = {
    val grb = s"$dir/left.grb"
    Grb.write(grb, plane(32, 48, (x, y) => 100 + x + y), gbox(32, 48),
      "uint16", Some(0.0))
    val tif = s"$dir/full.tif"
    Tiff.write(tif, plane(64, 48, (x, y) => 5000 + x * y), g, "uint16",
      Some(0.0), tileSize = Some(16), compression = Some("Deflate"))
    val small = s"$dir/small.grb"
    Grb.write(small, plane(64, 48, (x, y) => 900 + x), g, "uint16", Some(0.0))
    val big = s"$dir/big.grb"
    Grb.write(big, plane(128, 96, (x, y) => 700 + y), gbox(128, 96),
      "uint16", Some(0.0))
    val header = Grb.readHeader(small).pixelOffset
    (Seq("grb" -> grb, "tiff" -> tif),
      Seq("grb cut in its header" -> cut(small, s"$dir/cut_header.grb", _ => 40),
        "grb cut in a buffered span" -> cut(small, s"$dir/cut_small.grb",
          n => header + (n - header) / 2),
        "grb cut in a span past the buffer" -> cut(big, s"$dir/cut_big.grb",
          n => header + (n - header) / 3),
        "tiff cut in its tiles" -> cut(tif, s"$dir/cut_tiles.tif", _ - 40)))
  }

  private def fuse(paths: Seq[String], failOnError: Boolean): (Seq[Double], Long) = {
    val (px, valid) = Fuse.fill2dSlice(paths.map(RasterSource(_)), g,
      RasterLoadParams(failOnError = failOnError), AutoReader, 0.0)
    (px.toSeq, valid)
  }

  test("the buffered input reads what the file holds, at its logical position") {
    val rnd = new scala.util.Random(11)
    val bytes = Array.fill(20000)(rnd.nextInt(256).toByte)
    val path = s"$dir/bytes.bin"
    Files.write(Paths.get(path), bytes)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val in = RasterIO.open(path)
    try {
      assert(in.length == bytes.length)
      assert(in.readInt() == bb.getInt(0) && in.position == 4)
      assert(in.readShort() == bb.getShort(4) && in.readByte() == bytes(6))
      in.seek(8190) // a long across the buffer's end
      assert(in.readLong() == bb.getLong(8190) && in.position == 8198)
      assert(in.readDouble().equals(bb.getDouble(8198)))
      // a span of a buffer's length or more goes straight to the file
      val big = new Array[Byte](9000)
      in.seek(100)
      in.readFully(big)
      assert(big.toSeq == bytes.slice(100, 9100).toSeq && in.position == 9100)
      in.seek(3) // back into what the buffer held before
      val small = new Array[Byte](30)
      in.readFully(small)
      assert(small.toSeq == bytes.slice(3, 33).toSeq)
      assert(in.read() == (bytes(33) & 0xff) && in.position == 34)
      in.seek(bytes.length - 2)
      assert(in.read(new Array[Byte](10)) == 2 && in.read() == -1)
      assert(in.position == bytes.length)
      in.seek(bytes.length - 3)
      val e = intercept[java.io.EOFException](in.readInt())
      assert(e.getMessage.contains(path), e.getMessage)
      intercept[java.io.EOFException](in.readFully(new Array[Byte](9000)))
    } finally in.close()
  }

  test("strict reads of cut GRBs and a truncated TIFF tile fail naming the file") {
    broken.foreach { case (name, path) =>
      val e = intercept[Exception] {
        AutoReader.readInto(RasterSource(path),
          RasterLoadParams(failOnError = true), g, 0.0,
          Array.fill(g.width * g.height)(0.0))
      }
      assert(e.getMessage.contains(path), s"$name: ${e.getMessage}")
      // and as the load fuses it
      intercept[Exception](fuse(intact.map(_._2) :+ path, failOnError = true))
    }
  }

  test("permissive: exactly the cut sources contribute nodata, the rest are unchanged") {
    val (want, wantValid) = fuse(intact.map(_._2), failOnError = true)
    assert(wantValid > 0 && want.contains(0.0))
    broken.foreach { case (name, path) =>
      val (alone, n) = fuse(Seq(path), failOnError = false)
      assert(n == 0 && alone.forall(_ == 0.0), name)
    }
    // cut sources ranked before, between and after the intact ones
    val bs = broken.map(_._2)
    val mixed = Seq(bs(0), intact(0)._2, bs(1), bs(2), intact(1)._2, bs(3))
    assert(fuse(mixed, failOnError = false) == ((want, wantValid)))
  }

  /** Byte offset and length of tile `t` of image 0, from the plugin's
    * metadata. */
  private def tileRange(path: String, t: Int): (Int, Int) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.File(path))
    try {
      val r = javax.imageio.ImageIO.getImageReaders(iis).next()
      r.setInput(iis)
      val d = javax.imageio.plugins.tiff.TIFFDirectory.createFromMetadata(
        r.getImageMetadata(0))
      (d.getTIFFField(324).getAsLong(t).toInt, d.getTIFFField(325).getAsLong(t).toInt)
    } finally iis.close()
  }

  test("a corrupt TIFF tile fails strict reads; permissive keeps the tiles before it") {
    val tif = intact(1)._2
    val bytes = Files.readAllBytes(Paths.get(tif))
    val (at, n) = tileRange(tif, 5)
    def flipped(name: String, from: Int, until: Int): String = {
      val b = bytes.clone()
      for (i <- from until until) b(i) = (b(i) ^ 0x5a).toByte
      Files.write(Paths.get(s"$dir/$name.tif"), b)
      s"$dir/$name.tif"
    }
    // a hand-built twin whose tile 5 holds the first half of its stream
    val short = s"$dir/short_deflate.tif"
    TiffBuilder.write(short, 64, 48, Seq(plane(64, 48, (x, y) => 5000 + x * y)),
      "uint16", TiffBuilder.Layout(tile = Some((16, 16)), compression = 8),
      corrupt = (i, b) => if (i == 5) b.take(b.length / 2) else b)
    val (want, _) = fuse(Seq(tif), failOnError = true)
    // tiles 0 to 4 of the 16-pixel tiling: rows 0-15, then columns 0-15
    val kept = want.indices.map { i =>
      val (x, y) = (i % 64, i / 64)
      if (y < 16 || (y < 32 && x < 16)) want(i) else 0.0
    }
    // the zlib header, the middle of the stream, and its checksum alone
    for (path <- Seq(flipped("flip_header", at, at + 2),
                     flipped("flip_middle", at + n / 3, at + 2 * n / 3),
                     flipped("flip_checksum", at + n - 4, at + n), short)) {
      val e = intercept[java.io.IOException] {
        AutoReader.readInto(RasterSource(path), RasterLoadParams(failOnError = true),
          g, 0.0, Array.fill(g.width * g.height)(0.0))
      }
      assert(e.getMessage.contains(path) && e.getMessage.contains("tile 5"), e.getMessage)
      assert(fuse(Seq(path), failOnError = false) == ((kept, kept.count(_ != 0.0).toLong)),
        path)
    }
  }

  /** A strict paste read of `uri` fails with an `IOException` naming
    * `path`; a permissive one fuses `kept` and counts its valid pixels. */
  private def failsKeeping(uri: String, path: String, kept: Seq[Double]): Unit = {
    val e = intercept[java.io.IOException] {
      AutoReader.readInto(RasterSource(uri), RasterLoadParams(failOnError = true),
        g, 0.0, Array.fill(g.width * g.height)(0.0))
    }
    assert(e.getMessage.contains(path), e.getMessage)
    assert(fuse(Seq(uri), failOnError = false) == ((kept, kept.count(_ != 0.0).toLong)),
      uri)
  }

  test("a corrupt zarr chunk fails strict reads; permissive keeps the chunks before it") {
    val store = s"$dir/flip.zarr"
    val px = plane(64, 48, (x, y) => 3000 + x + 7 * y)
    Zarr.write(store, "v", px, g, "uint16", Some(0.0), chunk = 16, zlib = true)
    val (want, _) = fuse(Seq(s"$store#v"), failOnError = true)
    // chunk (1, 2) with its zlib header flipped; chunks are read row by
    // row, so rows 0-15 and then columns 0-31 of rows 16-31 come first
    val chunk = Paths.get(store, "v", "1.2")
    val b = Files.readAllBytes(chunk)
    for (i <- 0 until 2) b(i) = (b(i) ^ 0x5a).toByte
    Files.write(chunk, b)
    failsKeeping(s"$store#v", store, want.indices.map { i =>
      val (x, y) = (i % 64, i / 64)
      if (y < 16 || (y < 32 && x < 32)) want(i) else 0.0
    })
  }

  test("a netCDF file cut inside its data fails strict reads; permissive fuses nothing") {
    val full = s"$dir/full.nc"
    NetCdf.write(full, Seq("v" -> plane(64, 48, (x, y) => 200 + x * y)), g, "int16",
      Some(0.0))
    val path = cut(full, s"$dir/cut_data.nc", _ - 64 * 2 * 5)
    failsKeeping(s"$path#v", path, Seq.fill(g.width * g.height)(0.0))
  }

  test("a tile too large to decode fails naming the file, before it allocates") {
    val path = s"$dir/huge_tile.tif"
    TiffBuilder.write(path, 64, 48, Seq(plane(64, 48, (x, y) => 1 + x + y)),
      "uint16", TiffBuilder.Layout(tile = Some((16, 16)), compression = 8))
    // TileWidth (322), a LONG held in its IFD entry, rewritten to 2^30:
    // one tile row is 2 GiB of samples
    val b = Files.readAllBytes(Paths.get(path))
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val entry = (8 until b.length - 12).find(i =>
      bb.getShort(i) == 322 && bb.getShort(i + 2) == 4 && bb.getInt(i + 4) == 1).get
    bb.putInt(entry + 8, 1 << 30)
    Files.write(Paths.get(path), b)
    val e = intercept[java.io.IOException](Tiff.readWindow(path, 0, 0, 8, 40))
    assert(e.getMessage.contains(path) && e.getMessage.contains("too large"), e.getMessage)
  }
}
