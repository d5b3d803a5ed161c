package graft

import graft.geo.{Affine, Crs, GeoBox}
import graft.load.Fuse
import graft.model.{RasterLoadParams, RasterSource}
import graft.raster.{AutoReader, Grb, RasterIO, Tiff}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Cut and truncated rasters through the buffered local input and the
  * paste fuse: a GRB cut inside its 72-byte header, GRBs cut inside
  * their pixel span (a window served from the input's buffer and one
  * read past it), and a Deflate TIFF whose last tiles are cut off. A
  * strict read fails naming the file; a permissive load fuses exactly
  * the intact sources' pixels. */
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
}
