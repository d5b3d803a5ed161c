package graft.raster

import graft.geo.{Affine, Crs, GeoBox}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Minimal Zarr v2 store I/O — the chunked-directory container modern
  * raster products increasingly publish (the cloud-native successor of
  * the netCDF/HDF containers `RasterSource.subdataset` addresses in the
  * reference, `loader/types.py:44-56`). No external deps: JSON via the
  * jackson already on the Spark classpath; chunks raw or zlib
  * (`"compressor": {"id": "zlib"}`) via `java.util.zip`.
  *
  * Store layout read/written:
  * {{{
  *   store.zarr/.zgroup            {"zarr_format": 2}
  *   store.zarr/<var>/.zarray      shape/chunks/dtype/compressor/fill_value
  *   store.zarr/<var>/.zattrs      {"transform": [a..f], "crs": "EPSG:n",
  *                                  "nodata": v}       (rioxarray-style)
  *   store.zarr/<var>/<cy>.<cx>    C-order chunk, little-endian
  * }}}
  *
  * Variables are 2-D single-band planes; a store holds many, addressed
  * as `store.zarr#<var>` — the zarr face of subdataset addressing (the
  * TIFF face is PageName, `Tiff.resolveSubdataset`). Overview pyramids
  * use the GRB sidecar convention inside the store: a variable named
  * `<var>.ovr<N>` is the N× decimated level of `<var>`.
  */
object Zarr {

  @transient private lazy val mapper = new ObjectMapper()

  private val DtypeToZarr = Map(
    "uint8" -> "|u1", "int8" -> "|i1",
    "uint16" -> "<u2", "int16" -> "<i2",
    "int32" -> "<i4", "int64" -> "<i8",
    "float32" -> "<f4", "float64" -> "<f8")
  private val ZarrToDtype = DtypeToZarr.map(_.swap)

  /** Split `store.zarr#var` into (store, variable). A store with exactly
    * one variable may omit the fragment; anything else must address one
    * explicitly — loud, like the TIFF band/subdataset paths. */
  private def splitUri(uri: String): (String, String) = {
    val i = uri.lastIndexOf('#')
    if (i >= 0) (uri.substring(0, i), uri.substring(i + 1))
    else variables(uri) match {
      case Seq(only) => (uri, only)
      case vs => throw new IllegalArgumentException(
        s"$uri holds ${vs.size} variables (${vs.mkString(", ")}); " +
          "address one as store.zarr#<variable>")
    }
  }

  /** Variables of the store (subdirectories carrying a `.zarray`), in
    * name order. Pyramid sidecar levels (`x.ovrN`) are excluded — they
    * are levels of their base variable, not datasets of their own. */
  def variables(store: String): Seq[String] = {
    require(RasterIO.exists(store), s"not a zarr store: $store")
    RasterIO.list(store)
      .filter(n => RasterIO.exists(s"$store/$n/.zarray"))
      .filterNot(_.matches(".*\\.ovr\\d+$"))
      .sorted
  }

  /** Loud subdataset validation: a variable the store lacks fails
    * listing the ones it has. */
  private def requireVariable(store: String, name: String): Unit = {
    val vs = variables(store)
    require(vs.contains(name),
      s"variable '$name' not found in $store; available: " +
        (if (vs.isEmpty) "none" else vs.mkString("'", "', '", "'")))
  }

  private def readJson(path: String): JsonNode =
    mapper.readTree(RasterIO.readAll(path))

  private final case class Meta(width: Int, height: Int, chunkW: Int,
                                chunkH: Int, dtype: String, fill: Double,
                                zlib: Boolean, geobox: GeoBox,
                                nodata: Option[Double])

  private def readMeta(store: String, variable: String): Meta = {
    val vdir = s"$store/$variable"
    val za =
      try readJson(s"$vdir/.zarray")
      catch {
        case e: java.io.IOException => requireVariable(store, variable); throw e
      }
    require(za.get("zarr_format").asInt() == 2,
      s"$vdir: only zarr v2 is supported")
    val shape = za.get("shape")
    val chunks = za.get("chunks")
    require(shape.size() == 2 && chunks.size() == 2,
      s"$vdir: only 2-D variables are supported (got rank ${shape.size()})")
    require(za.get("order").asText() == "C", s"$vdir: only C-order chunks")
    val dtype = ZarrToDtype.getOrElse(za.get("dtype").asText(),
      throw new IllegalArgumentException(
        s"$vdir: unsupported dtype ${za.get("dtype").asText()}"))
    val zlib = Option(za.get("compressor")).filterNot(_.isNull) match {
      case None => false
      case Some(c) if c.get("id").asText() == "zlib" => true
      case Some(c) => throw new IllegalArgumentException(
        s"$vdir: unsupported compressor ${c.get("id").asText()}")
    }
    // quoted "NaN"/"Infinity"/"-Infinity" are the zarr v2 spelling for
    // non-finite float fills (asDouble on a text node would yield 0.0)
    def numOf(n: com.fasterxml.jackson.databind.JsonNode): Double =
      if (n.isTextual) java.lang.Double.parseDouble(n.asText()) else n.asDouble()
    val fill = Option(za.get("fill_value")).filterNot(_.isNull)
      .map(numOf).getOrElse(0.0)
    val at = readJson(s"$vdir/.zattrs")
    val t = at.get("transform")
    require(t != null && t.size() >= 6,
      s"$vdir: .zattrs has no affine 'transform' (rioxarray convention)")
    val tr = Affine(t.get(0).asDouble(), t.get(1).asDouble(), t.get(2).asDouble(),
      t.get(3).asDouble(), t.get(4).asDouble(), t.get(5).asDouble())
    val crs = Crs.parse(at.get("crs").asText())
    val nodata = Option(at.get("nodata")).filterNot(_.isNull).map(numOf)
    val (h, w) = (shape.get(0).asInt(), shape.get(1).asInt())
    Meta(w, h, chunks.get(1).asInt(), chunks.get(0).asInt(), dtype, fill,
      zlib, GeoBox(w, h, tr, crs), nodata)
  }

  def readHeader(uri: String): Grb.Header = RasterImage.use(open(uri))(_.header)

  /** Windowed read of the chunks intersecting the window. Row-major
    * doubles, unsigned types widened. */
  def readWindow(uri: String, x0: Int, y0: Int, w: Int, h: Int): Array[Double] =
    RasterImage.use(open(uri))(_.window(x0, y0, w, h))

  /** `store#var` opened: `.zarray` and `.zattrs` read once, the chunks
    * its blocks ([[Chunks]]). A store with one variable may omit the
    * fragment. */
  def open(uri: String): RasterImage = {
    val (store, variable) = splitUri(uri)
    val m = readMeta(store, variable)
    new RasterImage(uri) {
      val header: Grb.Header = Grb.Header(m.dtype, m.width, m.height, m.nodata,
        m.geobox, 0L)
      private[raster] val blocks: Blocks = new Chunks(s"$store/$variable", m)
      override def overviews: Seq[(Int, String)] = levels(store, variable)
      def close(): Unit = ()
    }
  }

  /** A variable's chunks: each one the window touches is read whole (one
    * `readAll`: one GET per needed chunk on an object store, the access
    * shape a COG read has) and inflated, when zlib, only down to the
    * window's last row in it. A missing chunk file (a local
    * `NoSuchFileException`, an HTTP 404's `FileNotFoundException`) reads
    * as `fill_value` (zarr semantics for never-written regions). */
  private final class Chunks(vdir: String, m: Meta) extends Blocks {
    private val sz = Grb.dtypeSize(m.dtype)
    private val rowBytes = m.chunkW * sz
    private var scratch: Array[Byte] = null
    val blockW: Int = m.chunkW
    val blockH: Int = m.chunkH
    val dcode: Int = Grb.DtypeCodes(m.dtype)
    override val fill: Double = m.fill

    def read(bx: Int, by: Int, r0: Int, r1: Int, c0: Int, n: Int): Part = {
      val chunk = s"$vdir/$by.$bx"
      val raw =
        try RasterIO.readAll(chunk)
        catch {
          case _: java.io.FileNotFoundException |
               _: java.nio.file.NoSuchFileException => return null
        }
      val need = r1 * rowBytes
      val bytes =
        if (!m.zlib) {
          if (raw.length < need) throw new java.io.IOException(
            s"$chunk: chunk holds ${raw.length} of its $need bytes")
          raw
        } else {
          if (scratch == null || scratch.length < need) scratch = new Array[Byte](need)
          Codecs.inflate(raw, scratch, need, chunk)
          scratch
        }
      new Part(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN),
        r0 * rowBytes + c0 * sz, rowBytes)
    }
  }

  /** Sidecar pyramid levels of the addressed variable: `<var>.ovrN`
    * variables in the same store, (scale, `store#level-var`) ascending. */
  def overviewLevels(uri: String): Seq[(Int, String)] = {
    val (store, variable) = splitUri(uri)
    levels(store, variable)
  }

  private def levels(store: String, variable: String): Seq[(Int, String)] =
    RasterIO.list(store)
      .filter(n => RasterIO.exists(s"$store/$n/.zarray"))
      .flatMap { n =>
        if (n.startsWith(variable + ".ovr"))
          n.stripPrefix(variable + ".ovr").toIntOption
            .map(s => s -> s"$store#$n")
        else None
      }
      .sortBy(_._1).toSeq

  /** Store + variable metadata only (`.zgroup`/`.zarray`/`.zattrs`) —
    * the driver-side half of a distributed write: metadata is written
    * once, chunk files are written by whoever holds the data
    * ([[writeChunk]]), exactly how xarray/dask commit a zarr store. */
  def writeMeta(store: String, variable: String, geobox: GeoBox,
                dtype: String, nodata: Option[Double],
                chunk: Int = 64, zlib: Boolean = false): Unit = {
    require(!variable.contains("#") && !variable.contains("/"),
      s"invalid variable name '$variable'")
    val zdt = DtypeToZarr.getOrElse(dtype,
      throw new IllegalArgumentException(s"unsupported zarr dtype '$dtype'"))
    val vdir = Paths.get(store, variable)
    Files.createDirectories(vdir)
    Files.write(Paths.get(store, ".zgroup"),
      """{"zarr_format": 2}""".getBytes("UTF-8"))
    // NaN/Infinity are not JSON numbers — zarr v2 spells them as the
    // quoted strings "NaN"/"Infinity"/"-Infinity" for float dtypes
    def jsonNum(v: Double): String =
      if (v.isNaN) "\"NaN\""
      else if (v == Double.PositiveInfinity) "\"Infinity\""
      else if (v == Double.NegativeInfinity) "\"-Infinity\""
      else if (v == v.floor && !Grb.isFloat(dtype)) v.toLong.toString
      else v.toString
    val fill = nodata.map(jsonNum).getOrElse("0")
    val comp = if (zlib) """{"id": "zlib", "level": 6}""" else "null"
    Files.write(vdir.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [${geobox.height}, ${geobox.width}],
         | "chunks": [$chunk, $chunk], "dtype": "$zdt", "order": "C",
         | "compressor": $comp, "fill_value": $fill,
         | "filters": null}""".stripMargin.getBytes("UTF-8"))
    val t = geobox.transform
    val nd = nodata.map(v => s""", "nodata": ${jsonNum(v)}""").getOrElse("")
    Files.write(vdir.resolve(".zattrs"),
      s"""{"transform": [${t.a}, ${t.b}, ${t.c}, ${t.d}, ${t.e}, ${t.f}],
         | "crs": "${geobox.crs.code}"$nd}""".stripMargin.getBytes("UTF-8"))
  }

  /** Write ONE chunk file from a `w`x`h` tile (smaller than the chunk
    * edge only at array edges — zarr chunk files are always full-size,
    * padded with fill). Safe to call concurrently across chunks: each
    * chunk is its own file, which is what makes the distributed write
    * coordination-free. */
  def writeChunk(store: String, variable: String, cy: Int, cx: Int,
                 tile: Array[Double], w: Int, h: Int, chunk: Int,
                 dtype: String, fill: Double, zlib: Boolean = false): Unit = {
    require(tile.length == w * h && w <= chunk && h <= chunk,
      s"chunk ($cy,$cx): ${w}x$h tile does not fit a $chunk-edge chunk")
    val px = Grb.dtypeSize(dtype)
    val buf = ByteBuffer.allocate(chunk * chunk * px)
      .order(ByteOrder.LITTLE_ENDIAN)
    var y = 0
    while (y < chunk) {
      var x = 0
      while (x < chunk) {
        Grb.putPixel(buf, dtype, if (y < h && x < w) tile(y * w + x) else fill)
        x += 1
      }
      y += 1
    }
    val bytes =
      if (!zlib) buf.array()
      else {
        val defl = new java.util.zip.Deflater(6)
        defl.setInput(buf.array())
        defl.finish()
        // zlib worst case: input + ~5 B per 16 KiB block + header
        val outB = new Array[Byte](
          buf.array().length + buf.array().length / 1000 + 128)
        val n = defl.deflate(outB)
        defl.end()
        java.util.Arrays.copyOf(outB, n)
      }
    Files.write(Paths.get(store, variable).resolve(s"$cy.$cx"), bytes)
  }

  /** Write one variable (creating the store as needed). `chunk` is the
    * square chunk edge; `zlib` enables the zlib compressor. */
  def write(store: String, variable: String, pixels: Array[Double],
            geobox: GeoBox, dtype: String, nodata: Option[Double],
            chunk: Int = 64, zlib: Boolean = false): Unit = {
    require(pixels.length == geobox.width * geobox.height)
    writeMeta(store, variable, geobox, dtype, nodata, chunk, zlib)
    val fill = nodata.getOrElse(0.0)
    val nCy = (geobox.height + chunk - 1) / chunk
    val nCx = (geobox.width + chunk - 1) / chunk
    var cy = 0
    while (cy < nCy) {
      var cx = 0
      while (cx < nCx) {
        val w = math.min(chunk, geobox.width - cx * chunk)
        val h = math.min(chunk, geobox.height - cy * chunk)
        val tile = new Array[Double](w * h)
        var y = 0
        while (y < h) {
          System.arraycopy(pixels, (cy * chunk + y) * geobox.width + cx * chunk,
            tile, y * w, w)
          y += 1
        }
        writeChunk(store, variable, cy, cx, tile, w, h, chunk, dtype, fill,
          zlib)
        cx += 1
      }
      cy += 1
    }
  }

}
