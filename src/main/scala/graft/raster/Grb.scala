package graft.raster

import graft.geo.{Affine, Crs, GeoBox}
import java.io.{DataOutputStream, BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** GRB — a minimal single-band raster container standing in for
  * COG/GeoTIFF in this zero-GDAL environment (SURVEY §7.0: we generate our
  * own rasters, as the reference does with in-memory COGs,
  * `loader/testing/fixtures.py:19-28`). Crucially it supports the two scan
  * features the reference's reader optimizes around (`_rio.py:314-475`):
  *
  *  - **windowed reads**: pixels are row-major fixed-width, so a window
  *    read is one span from its first needed byte to its last
  *    ([[RowMajor]]; no full-file read);
  *  - **overview pyramid**: decimated levels in sidecar `.ovr<N>` files,
  *    selected via `pickOverview` (S8, `loader/_reader.py:104-114`).
  *
  * Layout: magic "GRB1" | u8 dtype | i32 w | i32 h | u8 hasNodata |
  * f64 nodata | f64[6] transform | u16 crsLen | crs | pixels (LE).
  */
object Grb {
  val Magic = 0x47524231 // "GRB1"

  val DtypeCodes: Map[String, Int] = Map(
    "uint8" -> 1, "int8" -> 2, "uint16" -> 3, "int16" -> 4,
    "int32" -> 5, "int64" -> 6, "float32" -> 7, "float64" -> 8)
  val CodeDtypes: Map[Int, String] = DtypeCodes.map(_.swap)

  def dtypeSize(dtype: String): Int = dtype match {
    case "uint8" | "int8" => 1
    case "uint16" | "int16" => 2
    case "int32" | "float32" => 4
    case "int64" | "float64" => 8
    case other => throw new IllegalArgumentException(
      s"unsupported pixel dtype '$other' (supported: ${DtypeCodes.keys.mkString(", ")})")
  }

  /** Normalize STAC `data_type` values outside our native set to the
    * narrowest lossless supported dtype (JVM has no unsigned types, so
    * uint32 widens to int64 and uint64 to float64 — same policy as the
    * uint8/uint16 widening, SURVEY §2 hard-part 4). Unknown strings fall
    * back to float32 (the reference's default, `types.py:127-129`). */
  def normalizeDtype(dtype: String): String = dtype match {
    case d if DtypeCodes.contains(d) => d
    case "uint32" => "int64"
    case "uint64" => "float64"
    case _ => "float32"
  }

  def isFloat(dtype: String): Boolean = dtype.startsWith("float")

  def write(path: String, pixels: Array[Double], geobox: GeoBox,
            dtype: String, nodata: Option[Double]): Unit = {
    require(pixels.length == geobox.width * geobox.height)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    try {
      out.writeInt(Magic)
      out.writeByte(DtypeCodes(dtype))
      out.writeInt(geobox.width)
      out.writeInt(geobox.height)
      out.writeByte(if (nodata.isDefined) 1 else 0)
      out.writeDouble(nodata.getOrElse(Double.NaN))
      geobox.transform.toArray.foreach(out.writeDouble)
      val crsBytes = geobox.crs.code.getBytes("UTF-8")
      out.writeShort(crsBytes.length)
      out.write(crsBytes)
      val buf = ByteBuffer.allocate(pixels.length * dtypeSize(dtype))
        .order(ByteOrder.LITTLE_ENDIAN)
      pixels.foreach(v => putPixel(buf, dtype, v))
      out.write(buf.array())
    } finally out.close()
  }

  /** Write base + overview pyramid (sidecar files, power-of-2 shrinks). */
  def writeWithOverviews(path: String, pixels: Array[Double], geobox: GeoBox,
                         dtype: String, nodata: Option[Double],
                         shrinks: Seq[Int] = Seq(2, 4)): Unit = {
    write(path, pixels, geobox, dtype, nodata)
    shrinks.foreach { s =>
      val ow = math.max(1, geobox.width / s)
      val oh = math.max(1, geobox.height / s)
      val opix = new Array[Double](ow * oh)
      var y = 0
      while (y < oh) {
        var x = 0
        while (x < ow) {
          opix(y * ow + x) = pixels(math.min(y * s, geobox.height - 1) * geobox.width +
            math.min(x * s, geobox.width - 1))
          x += 1
        }
        y += 1
      }
      // decimation by s scales the full linear part, shear terms included
      val t = geobox.transform
      val ogb = GeoBox(ow, oh,
        Affine(t.a * s, t.b * s, t.c, t.d * s, t.e * s, t.f), geobox.crs)
      write(s"$path.ovr$s", opix, ogb, dtype, nodata)
    }
  }

  /** `v` encoded as one `dtype` pixel at `buf`'s position. */
  private[raster] def putPixel(buf: ByteBuffer, dtype: String, v: Double): Unit = dtype match {
    case "uint8" | "int8" => buf.put(v.toInt.toByte)
    case "uint16" | "int16" => buf.putShort(v.toInt.toShort)
    case "int32" => buf.putInt(v.toInt)
    case "int64" => buf.putLong(v.toLong)
    case "float32" => buf.putFloat(v.toFloat)
    case "float64" => buf.putDouble(v)
    case other => throw new IllegalArgumentException(s"unsupported dtype '$other'")
  }

  final case class Header(dtype: String, width: Int, height: Int,
                          nodata: Option[Double], geobox: GeoBox, pixelOffset: Long)

  def readHeader(path: String): Header = RasterImage.use(open(path))(_.header)

  /** Windowed read of the rows/cols intersecting (x0,y0,w,h): row-major
    * doubles, unsigned types widened (SURVEY §2 hard-part 4). */
  def readWindow(path: String, x0: Int, y0: Int, w: Int, h: Int): (Header, Array[Double]) =
    RasterImage.use(open(path))(img => (img.header, img.window(x0, y0, w, h)))

  /** `path` opened: its header read, its pixels one little-endian
    * row-major block ([[RowMajor]]), and any `.ovr<N>` sidecar as an
    * overview level (S8 generalized — deep pyramids 8x/16x included). */
  def open(path: String): RasterImage = {
    val in = RasterIO.open(path)
    RasterImage.closingOnFailure(in) {
      val hd = readHeader(in, path)
      new RasterImage(path) {
        def header: Header = hd
        private[raster] val blocks: Blocks = new RowMajor(in, hd.pixelOffset, hd.width,
          hd.height, hd.dtype, ByteOrder.LITTLE_ENDIAN)
        override def overviews: Seq[(Int, String)] = {
          val (dir, name) = RasterIO.parentAndName(path)
          val prefix = name + ".ovr"
          RasterIO.list(dir)
            .flatMap { n =>
              if (n.startsWith(prefix))
                n.stripPrefix(prefix).toIntOption.map(s => s -> s"$dir/$n")
              else None
            }
            .sortBy(_._1)
        }
        def close(): Unit = in.close()
      }
    }
  }

  private def readHeader(raf: RasterInput, path: String): Header = {
    require(raf.readInt() == Magic, s"not a GRB file: $path")
    val dtype = CodeDtypes(raf.readByte().toInt)
    val w = raf.readInt(); val h = raf.readInt()
    val hasNodata = raf.readByte() == 1
    val nodataV = raf.readDouble()
    val t = Array.fill(6)(raf.readDouble())
    val crsLen = raf.readShort()
    val crsBytes = new Array[Byte](crsLen)
    raf.readFully(crsBytes)
    val crs = Crs.parse(new String(crsBytes, "UTF-8"))
    Header(dtype, w, h, if (hasNodata) Some(nodataV) else None,
      GeoBox(w, h, Affine.fromArray(t.toSeq), crs), raf.position)
  }

  /** Decode `n` pixels from `bb` at byte `off` into `out(outOff..)`, in
    * `bb`'s byte order: one dtype dispatch per row, then one typed loop.
    * The row decoder of every container ([[Blocks.rows]]). */
  private[raster] def decodeRow(bb: ByteBuffer, off: Int, dcode: Int,
                        out: Array[Double], outOff: Int, n: Int): Unit = {
    var i = 0
    (dcode: @annotation.switch) match {
      case 1 => while (i < n) { out(outOff + i) = bb.get(off + i) & 0xff; i += 1 }
      case 2 => while (i < n) { out(outOff + i) = bb.get(off + i); i += 1 }
      case 3 => while (i < n) { out(outOff + i) = bb.getShort(off + i * 2) & 0xffff; i += 1 }
      case 4 => while (i < n) { out(outOff + i) = bb.getShort(off + i * 2); i += 1 }
      case 5 => while (i < n) { out(outOff + i) = bb.getInt(off + i * 4); i += 1 }
      case 6 => while (i < n) { out(outOff + i) = bb.getLong(off + i * 8).toDouble; i += 1 }
      case 7 => while (i < n) { out(outOff + i) = bb.getFloat(off + i * 4); i += 1 }
      case 8 => while (i < n) { out(outOff + i) = bb.getDouble(off + i * 8); i += 1 }
    }
  }

  /** Overview (pyramid) selection: largest level not exceeding the shrink
    * (S8, `loader/_reader.py:104-114`). */
  def pickOverview(readShrink: Int, overviews: Seq[Int]): Option[Int] = {
    if (overviews.isEmpty || readShrink < overviews.head) None
    else Some(overviews.zipWithIndex.takeWhile(_._1 <= readShrink).last._2)
  }
}
