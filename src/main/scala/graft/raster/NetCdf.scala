package graft.raster

import graft.geo.{Affine, Crs, GeoBox}

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Minimal netCDF *classic* (CDF-1/CDF-2) container I/O — the legacy
  * multi-variable format whose named variables are the original
  * subdataset surface `RasterSource.subdataset` models in the reference
  * (`loader/types.py:44-56`; GDAL addresses them as
  * `NETCDF:"file.nc":var`). No external deps: the classic format is a
  * fully specified big-endian binary layout (magic `CDF\x01`/`\x02`,
  * dim/attr/var lists, contiguous row-major data), parsed here directly.
  *
  * Georeferencing follows the public GDAL/rioxarray convention: each
  * data variable carries a `grid_mapping` attribute naming a scalar
  * grid-mapping variable whose `GeoTransform` attribute holds the six
  * GDAL geotransform numbers and whose `crs` attribute holds an
  * `EPSG:n` code ([[Crs.parse]] surface; WKT-only files are rejected
  * loudly). Files without a `GeoTransform` fall back to CF coordinate
  * variables: 1-D `x`/`y` arrays of cell-center coordinates matching the
  * data dims, from which the affine is derived (uniform spacing
  * required). `_FillValue`/`missing_value` map to nodata.
  *
  * Variables are 2-D numeric planes addressed as `file.nc#<var>`, the
  * same fragment surface as the TIFF (PageName) and zarr (variable)
  * subdataset faces. netCDF has no overview convention, so pyramid
  * selection falls back to base-resolution reads.
  */
object NetCdf {

  // nc_type codes (classic format specification)
  private val NcByte = 1
  private val NcChar = 2
  private val NcShort = 3
  private val NcInt = 4
  private val NcFloat = 5
  private val NcDouble = 6

  private val TagDim = 0x0a
  private val TagVar = 0x0b
  private val TagAtt = 0x0c

  private def ncTypeOf(dtype: String): Int = dtype match {
    case "int8" => NcByte
    case "int16" => NcShort
    case "int32" => NcInt
    case "float32" => NcFloat
    case "float64" => NcDouble
    case other => throw new IllegalArgumentException(
      s"dtype '$other' not representable in netCDF classic " +
        "(signed int8/16/32 and float32/64 only)")
  }

  private def dtypeOf(ncType: Int): Option[String] = ncType match {
    case NcByte => Some("int8")
    case NcShort => Some("int16")
    case NcInt => Some("int32")
    case NcFloat => Some("float32")
    case NcDouble => Some("float64")
    case _ => None // NC_CHAR is not raster data
  }

  private def ncSize(ncType: Int): Int = ncType match {
    case NcByte | NcChar => 1
    case NcShort => 2
    case NcInt | NcFloat => 4
    case NcDouble => 8
  }

  // ---------------------------------------------------------------- model

  /** Attribute value: either text or numbers (first element exposed). */
  private final case class NcAtt(text: Option[String], nums: Seq[Double])

  private final case class NcVar(name: String, ncType: Int,
                                 dimIds: Seq[Int], atts: Map[String, NcAtt],
                                 vsize: Long, begin: Long)

  private final case class NcHeader(dims: Seq[(String, Int)],
                                    gatts: Map[String, NcAtt],
                                    vars: Seq[NcVar])

  // ---------------------------------------------------------------- parse

  /** Reads the header's big-endian fields off an open input, in order. */
  private final class Cursor(in: RasterInput, path: String) {
    def i32(): Int = in.readInt()
    def i64(): Long = in.readLong()
    def name(): String = {
      val n = i32()
      new String(padded(n), 0, n, "UTF-8")
    }
    /** The next `n` bytes and their padding to a 4-byte boundary. */
    private def padded(n: Long): Array[Byte] = {
      val len = (n + 3) & ~3L
      require(n >= 0 && in.position + len <= in.length,
        s"$path: malformed netCDF header: a $n-byte field runs past the end")
      val b = new Array[Byte](len.toInt)
      in.readFully(b)
      b
    }
    def attValues(ncType: Int, nelems: Int): NcAtt = {
      val raw = padded(nelems.toLong * ncSize(ncType))
      val bb = ByteBuffer.wrap(raw).order(ByteOrder.BIG_ENDIAN)
      if (ncType == NcChar) NcAtt(Some(new String(raw, 0, nelems, "UTF-8")), Nil)
      else NcAtt(None, (0 until nelems).map { i =>
        ncType match {
          case NcByte => bb.get(i).toDouble
          case NcShort => bb.getShort(i * 2).toDouble
          case NcInt => bb.getInt(i * 4).toDouble
          case NcFloat => bb.getFloat(i * 4).toDouble
          case NcDouble => bb.getDouble(i * 8)
        }
      })
    }
  }

  private def pad4(n: Int): Int = (n + 3) & ~3

  /** Tagged list header: (tag, nelems) with ABSENT spelled (0, 0). */
  private def listCount(c: Cursor, tag: Int, what: String): Int = {
    val t = c.i32(); val n = c.i32()
    require(t == tag || (t == 0 && n == 0),
      s"malformed netCDF header: expected $what list tag")
    n
  }

  private def attList(c: Cursor): Map[String, NcAtt] = {
    val n = listCount(c, TagAtt, "attribute")
    (0 until n).map { _ =>
      val nm = c.name()
      val tp = c.i32()
      val ne = c.i32()
      nm -> c.attValues(tp, ne)
    }.toMap
  }

  private def parseHeader(path: String): NcHeader = {
    val in = RasterIO.open(path)
    try parseHeader(in, path) finally in.close()
  }

  private def parseHeader(in: RasterInput, path: String): NcHeader = {
    val badMagic = s"$path: not a netCDF classic file (bad magic)"
    require(in.length >= 8, badMagic)
    val magic = new Array[Byte](4)
    in.readFully(magic)
    require(magic(0) == 'C' && magic(1) == 'D' && magic(2) == 'F', badMagic)
    val version = magic(3)
    require(version == 1 || version == 2,
      s"$path: unsupported netCDF variant $version (classic CDF-1/2 only; " +
        "netCDF-4/HDF5 is out of scope)")
    val c = new Cursor(in, path)
    c.i32() // numrecs (record vars unsupported; validated per-var below)
    val nDims = listCount(c, TagDim, "dimension")
    val dims = (0 until nDims).map(_ => c.name() -> c.i32())
    val gatts = attList(c)
    val nVars = listCount(c, TagVar, "variable")
    val vars = (0 until nVars).map { _ =>
      val nm = c.name()
      val nd = c.i32()
      val ids = (0 until nd).map(_ => c.i32())
      val atts = attList(c)
      val tp = c.i32()
      val vsize = c.i32().toLong & 0xffffffffL
      val begin = if (version == 1) c.i32().toLong & 0xffffffffL else c.i64()
      NcVar(nm, tp, ids, atts, vsize, begin)
    }
    NcHeader(dims, gatts, vars)
  }

  // ------------------------------------------------------------- surface

  /** Data variables (= subdatasets): 2-D numeric non-record variables,
    * in name order. Coordinate and grid-mapping variables are format
    * plumbing, not datasets. */
  def variables(path: String): Seq[String] = dataVariables(parseHeader(path))

  private def dataVariables(h: NcHeader): Seq[String] =
    h.vars.filter { v =>
      v.dimIds.size == 2 && dtypeOf(v.ncType).isDefined &&
        v.dimIds.forall(id => h.dims(id)._2 > 0) // record dim = size 0
    }.map(_.name).sorted

  /** A subdataset miss, listing the data variables the file has. */
  private def missing(path: String, name: String, vs: Seq[String]): String =
    s"variable '$name' not found in $path; available: " +
      (if (vs.isEmpty) "none" else vs.mkString("'", "', '", "'"))

  /** Classify a dimension as the X ('X') or Y ('Y') raster axis, from
    * its coordinate variable's CF attributes when present (axis,
    * standard_name, units), else from the dimension name itself. */
  private def axisClass(h: NcHeader, dim: (String, Int)): Option[Char] = {
    val cv = h.vars.find(c => c.name == dim._1 && c.dimIds.size == 1 &&
      h.dims.lift(c.dimIds.head).exists(_._1 == dim._1))
    val byAtt = cv.flatMap { c =>
      def att(k: String) = c.atts.get(k).flatMap(_.text).map(_.trim)
      att("axis").map(_.toUpperCase).collect { case "X" => 'X'; case "Y" => 'Y' }
        .orElse(att("standard_name").map(_.toLowerCase).collect {
          case "longitude" | "projection_x_coordinate" | "grid_longitude" => 'X'
          case "latitude" | "projection_y_coordinate" | "grid_latitude" => 'Y'
        })
        .orElse(att("units").map(_.toLowerCase).collect {
          case u if u.startsWith("degrees_east") => 'X'
          case u if u.startsWith("degrees_north") => 'Y'
        })
    }
    byAtt.orElse(dim._1.toLowerCase match {
      case "x" | "lon" | "longitude" | "easting" | "col" | "cols" |
           "column" | "columns" | "xc" | "west_east" => Some('X')
      case "y" | "lat" | "latitude" | "northing" | "row" | "rows" |
           "yc" | "south_north" => Some('Y')
      case _ => None
    })
  }

  /** The header of variable `variable` of the file parsed as `h`; the
    * CF coordinate fallback reads its axes from `in`. */
  private def headerOf(in: RasterInput, path: String, h: NcHeader,
                       variable: String): Grb.Header = {
    val v = h.vars.find(_.name == variable).getOrElse(
      throw new IllegalArgumentException(missing(path, variable, dataVariables(h))))
    require(v.dimIds.size == 2 && dtypeOf(v.ncType).isDefined,
      s"$path#$variable is not a 2-D numeric variable")
    val (hDim, wDim) = (h.dims(v.dimIds(0)), h.dims(v.dimIds(1)))
    require(hDim._2 > 0 && wDim._2 > 0,
      s"$path#$variable uses the record dimension; record variables are " +
        "not rasters")
    // storage order must be (y, x): an (x, y)-ordered variable would be
    // silently transposed (width/height swapped, rows read along the
    // wrong axis). Classify each dim via its coordinate variable's CF
    // attributes (axis/standard_name/units) or its name; reject loudly
    // on a confirmed flip or when neither dim is identifiable.
    val (c0, c1) = (axisClass(h, hDim), axisClass(h, wDim))
    require(!c0.contains('X') && !c1.contains('Y'),
      s"$path#$variable: dims (${hDim._1}, ${wDim._1}) are (x, y)-ordered; " +
        "only (y, x) row-major storage is supported")
    require(c0.contains('Y') || c1.contains('X'),
      s"$path#$variable: cannot confirm (y, x) dim order from dims " +
        s"(${hDim._1}, ${wDim._1}) — name them y/x (or lat/lon) or give " +
        "their coordinate variables an axis/standard_name/units attribute")
    val nodata = v.atts.get("_FillValue").orElse(v.atts.get("missing_value"))
      .flatMap(_.nums.headOption)
    val (transform, crs) = georef(in, path, h, v, wDim, hDim)
    Grb.Header(dtypeOf(v.ncType).get, wDim._2, hDim._2, nodata,
      GeoBox(wDim._2, hDim._2, transform, crs), v.begin)
  }

  /** GDAL/rioxarray grid-mapping georeferencing with CF coordinate-var
    * fallback; loud when neither is present or the CRS is WKT-only. */
  private def georef(in: RasterInput, path: String, h: NcHeader, v: NcVar,
                     wDim: (String, Int), hDim: (String, Int)): (Affine, Crs) = {
    val gm = v.atts.get("grid_mapping").flatMap(_.text)
      .flatMap(n => h.vars.find(_.name == n))
    val crsAtt = gm.flatMap(_.atts.get("crs")).orElse(h.gatts.get("crs"))
      .flatMap(_.text)
    val epsgAtt = gm.flatMap(_.atts.get("epsg_code"))
      .flatMap(_.nums.headOption)
    val crs = crsAtt.map(Crs.parse).orElse(epsgAtt.map(e =>
      Crs.parse(s"EPSG:${e.toLong}"))).getOrElse {
      val hasWkt = gm.exists(g => g.atts.contains("crs_wkt") ||
        g.atts.contains("spatial_ref"))
      throw new IllegalArgumentException(
        s"$path#${v.name}: no 'crs' (EPSG:n) or 'epsg_code' attribute on " +
          s"the grid-mapping variable or globally${
            if (hasWkt) "; WKT-only CRS attributes are not supported — " +
              "add an EPSG-coded attribute" else ""}")
    }
    gm.flatMap(_.atts.get("GeoTransform")).flatMap(_.text) match {
      case Some(gt) =>
        val p = gt.trim.split("\\s+").map(_.toDouble)
        require(p.length == 6, s"$path#${v.name}: malformed GeoTransform")
        // GDAL order: X = gt0 + col*gt1 + row*gt2, Y = gt3 + col*gt4 + row*gt5
        (Affine(p(1), p(2), p(0), p(4), p(5), p(3)), crs)
      case None =>
        // CF fallback: 1-D coordinate variables named like the data dims,
        // cell-center coordinates, uniform spacing
        def axis(dim: (String, Int)): Array[Double] = {
          val cv = h.vars.find(c => c.name == dim._1 &&
            c.dimIds == Seq(h.dims.indexWhere(_._1 == dim._1))).getOrElse(
            throw new IllegalArgumentException(
              s"$path#${v.name}: no GeoTransform and no coordinate " +
                s"variable '${dim._1}' to derive one from"))
          readVector(in, cv, dim._2)
        }
        val xs = axis(wDim)
        val ys = axis(hDim)
        require(xs.length >= 2 && ys.length >= 2,
          s"$path#${v.name}: coordinate axes too short to derive a transform")
        val dx = xs(1) - xs(0)
        val dy = ys(1) - ys(0)
        require((1 until xs.length).forall(i =>
          math.abs(xs(i) - xs(i - 1) - dx) < 1e-6 * math.abs(dx)) &&
          (1 until ys.length).forall(i =>
            math.abs(ys(i) - ys(i - 1) - dy) < 1e-6 * math.abs(dy)),
          s"$path#${v.name}: non-uniform coordinate spacing")
        (Affine(dx, 0, xs(0) - dx / 2, 0, dy, ys(0) - dy / 2), crs)
    }
  }

  private def readVector(in: RasterInput, v: NcVar, n: Int): Array[Double] = {
    val buf = new Array[Byte](n * ncSize(v.ncType))
    in.seek(v.begin)
    in.readFully(buf)
    val out = new Array[Double](n)
    Grb.decodeRow(ByteBuffer.wrap(buf).order(ByteOrder.BIG_ENDIAN), 0,
      Grb.DtypeCodes(dtypeOf(v.ncType).get), out, 0, n)
    out
  }

  def readHeader(uri: String): Grb.Header = RasterImage.use(open(uri))(_.header)

  /** Windowed read: contiguous row-major storage, read as one span
    * ([[RowMajor]]) — the same byte-ranged access a COG/zarr read has,
    * object-store friendly. */
  def readWindow(uri: String, x0: Int, y0: Int, w: Int, h: Int): Array[Double] =
    RasterImage.use(open(uri))(_.window(x0, y0, w, h))

  /** `file.nc#var` opened: the header parsed once, the variable's
    * big-endian rows one row-major block. A single-variable file may
    * omit the fragment — loud otherwise, like the TIFF/zarr faces. */
  def open(uri: String): RasterImage = {
    val cut = uri.lastIndexOf('#')
    val path = if (cut < 0) uri else uri.substring(0, cut)
    val in = RasterIO.open(path)
    RasterImage.closingOnFailure(in) {
      val h = parseHeader(in, path)
      val variable =
        if (cut >= 0) uri.substring(cut + 1)
        else dataVariables(h) match {
          case Seq(only) => only
          case vs => throw new IllegalArgumentException(
            s"$uri holds ${vs.size} data variables (${vs.mkString(", ")}); " +
              "address one as file.nc#<variable>")
        }
      val hd = headerOf(in, path, h, variable)
      new RasterImage(uri) {
        def header: Grb.Header = hd
        private[raster] val blocks: Blocks = new RowMajor(in, hd.pixelOffset,
          hd.width, hd.height, hd.dtype, ByteOrder.BIG_ENDIAN)
        def close(): Unit = in.close()
      }
    }
  }

  // -------------------------------------------------------------- writer

  /** Write a classic netCDF file holding `planes` as 2-D variables over
    * shared `y`/`x` dims, CF coordinate variables, and a scalar
    * `spatial_ref` grid-mapping variable carrying the GDAL
    * `GeoTransform` + EPSG `crs` attributes. All planes share one
    * geobox/dtype (the container fixture shape). Emits CDF-1 unless a
    * data-section offset would pass the 32-bit range, then CDF-2
    * (64-bit begin fields); `force64` pins CDF-2 for testing. */
  def write(path: String, planes: Seq[(String, Array[Double])],
            geobox: GeoBox, dtype: String, nodata: Option[Double],
            force64: Boolean = false): Unit = {
    require(planes.nonEmpty, "netCDF write needs at least one variable")
    planes.foreach { case (n, px) =>
      require(px.length == geobox.width * geobox.height,
        s"variable '$n': ${px.length} pixels for a " +
          s"${geobox.width}x${geobox.height} geobox")
      require(!n.contains("#") && !n.contains("/") && n != "x" && n != "y" &&
        n != "spatial_ref", s"invalid variable name '$n'")
    }
    val ncType = ncTypeOf(dtype)
    val t = geobox.transform
    // cell-center coordinate axes (CF convention)
    val xs = Array.tabulate(geobox.width)(i => t.c + (i + 0.5) * t.a)
    val ys = Array.tabulate(geobox.height)(j => t.f + (j + 0.5) * t.e)
    // GDAL GeoTransform order: (x0, dx, rx, y0, ry, dy)
    val gt = s"${t.c} ${t.a} ${t.b} ${t.f} ${t.d} ${t.e}"

    final case class V(name: String, ncType: Int, dimIds: Seq[Int],
                       atts: Seq[(String, Either[String, Seq[Double]])],
                       nElems: Long) {
      // vsize is a 32-bit field in BOTH CDF-1 and CDF-2 — a single
      // variable past 2 GiB needs CDF-5, which is out of scope; fail
      // loudly instead of silently wrapping the offset
      val vsize: Long = {
        val raw = nElems * ncSize(ncType)
        val padded = ((raw + 3L) / 4L) * 4L
        require(padded <= Int.MaxValue,
          s"variable '$name': $raw data bytes exceed the classic-format " +
            "2 GiB per-variable limit (CDF-5 is out of scope)")
        padded
      }
    }
    val fillAtt = nodata.toSeq.map(v =>
      "_FillValue" -> Right(Seq(v)): (String, Either[String, Seq[Double]]))
    val vars: Seq[V] =
      V("y", NcDouble, Seq(0), Nil, geobox.height) ::
        V("x", NcDouble, Seq(1), Nil, geobox.width) ::
        V("spatial_ref", NcInt, Nil, Seq(
          "GeoTransform" -> Left(gt),
          "crs" -> Left(geobox.crs.code)), 1) ::
        planes.sortBy(_._1).map { case (n, _) =>
          V(n, ncType,
            Seq(0, 1), ("grid_mapping" -> Left("spatial_ref")) +: fillAtt,
            geobox.width.toLong * geobox.height)
        }.toList

    // serialize header twice: once to size it, once with real offsets;
    // `v64` selects CDF-2 (64-bit begin offsets) when the data section
    // would push a begin past the CDF-1 32-bit range
    def header(begins: Seq[Long], v64: Boolean): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val o = new DataOutputStream(bos)
      def name(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        o.writeInt(b.length); o.write(b)
        (b.length until pad4(b.length)).foreach(_ => o.writeByte(0))
      }
      def att(nm: String, v: Either[String, Seq[Double]]): Unit = v match {
        case Left(s) =>
          name(nm); o.writeInt(NcChar)
          val b = s.getBytes("UTF-8")
          o.writeInt(b.length); o.write(b)
          (b.length until pad4(b.length)).foreach(_ => o.writeByte(0))
        case Right(ns) =>
          // numeric attrs written at the variable's own type (CF rule
          // for _FillValue); plain doubles otherwise
          val tp = if (nm == "_FillValue") ncType else NcDouble
          name(nm); o.writeInt(tp); o.writeInt(ns.length)
          ns.foreach(d => writeScalar(o, tp, d))
          val raw = ns.length * ncSize(tp)
          (raw until pad4(raw)).foreach(_ => o.writeByte(0))
      }
      o.write(Array[Byte]('C', 'D', 'F', if (v64) 2 else 1))
      o.writeInt(0) // numrecs
      o.writeInt(TagDim); o.writeInt(2)
      name("y"); o.writeInt(geobox.height)
      name("x"); o.writeInt(geobox.width)
      o.writeInt(0); o.writeInt(0) // no global atts
      o.writeInt(TagVar); o.writeInt(vars.size)
      vars.zip(begins).foreach { case (v, begin) =>
        name(v.name)
        o.writeInt(v.dimIds.size)
        v.dimIds.foreach(o.writeInt)
        if (v.atts.isEmpty) { o.writeInt(0); o.writeInt(0) }
        else {
          o.writeInt(TagAtt); o.writeInt(v.atts.size)
          v.atts.foreach { case (nm, av) => att(nm, av) }
        }
        o.writeInt(v.ncType)
        o.writeInt(v.vsize.toInt)
        if (v64) o.writeLong(begin) else o.writeInt(begin.toInt)
      }
      o.flush(); bos.toByteArray
    }
    def layout(v64: Boolean): Seq[Long] = {
      val headerLen = header(vars.map(_ => 0L), v64).length.toLong
      vars.scanLeft(headerLen)((acc, v) => acc + v.vsize).init
    }
    var v64 = force64
    var begins = layout(v64)
    if (!v64 && begins.last + vars.last.vsize > Int.MaxValue) {
      v64 = true // CDF-2: same layout, 64-bit begin fields
      begins = layout(v64)
    }

    // stream straight to the file — the data section of a large store
    // must not materialize as one driver-side byte array
    val o = new DataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 1 << 16))
    o.write(header(begins, v64))
    def data(v: V, values: Int => Double): Unit = {
      var i = 0L
      while (i < v.nElems) { writeScalar(o, v.ncType, values(i.toInt)); i += 1 }
      val raw = v.nElems * ncSize(v.ncType)
      (raw until v.vsize).foreach(_ => o.writeByte(0))
    }
    val byName = planes.toMap
    try {
      vars.foreach {
        case v if v.name == "y" => data(v, ys(_))
        case v if v.name == "x" => data(v, xs(_))
        case v if v.name == "spatial_ref" => data(v, _ => 0.0)
        case v => val px = byName(v.name); data(v, px(_))
      }
    } finally o.close()
  }

  private def writeScalar(o: DataOutputStream, ncType: Int, v: Double): Unit =
    ncType match {
      case NcByte => o.writeByte(v.toInt)
      case NcShort => o.writeShort(v.toInt)
      case NcInt => o.writeInt(v.toInt)
      case NcFloat => o.writeFloat(v.toFloat)
      case NcDouble => o.writeDouble(v)
    }
}
