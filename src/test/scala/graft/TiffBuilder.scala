package graft

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Hand-built classic TIFFs for the reader specs: every layout the
  * native reader decodes (byte order, tiles or strips, chunky or planar,
  * predictor 1 or 2, none / Deflate / PackBits), written sample by
  * sample so no reader under test had a hand in them. Pixel data comes
  * first and the IFD last, with its out-of-line values after it; ImageWidth
  * and ImageLength are LONGs, the small fields SHORTs stored inline. */
object TiffBuilder {

  final case class Layout(bigEndian: Boolean = false,
                          tile: Option[(Int, Int)] = None,
                          rowsPerStrip: Int = Int.MaxValue,
                          planar: Int = 1,
                          predictor: Int = 1,
                          compression: Int = 1)

  /** (BitsPerSample, SampleFormat) of a dtype. */
  def sampleOf(dtype: String): (Int, Int) = dtype match {
    case "uint8" => (8, 1)
    case "int8" => (8, 2)
    case "uint16" => (16, 1)
    case "int16" => (16, 2)
    case "int32" => (32, 2)
    case "float32" => (32, 3)
    case "float64" => (64, 3)
  }

  /** Writes `planes` (one `w`×`h` row-major plane per sample band, values
    * already in the dtype's range) to `path` with geo tags on a 10 m
    * UTM 35S grid and nodata 0; `corrupt(i, bytes)` may rewrite the
    * encoded bytes of block `i` before they are written. */
  def write(path: String, w: Int, h: Int, planes: Seq[Array[Double]],
            dtype: String, l: Layout,
            corrupt: (Int, Array[Byte]) => Array[Byte] = (_, b) => b): Unit = {
    val spp = planes.length
    val (bits, fmt) = sampleOf(dtype)
    val sz = bits / 8
    val order = if (l.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val (bw, bh) = l.tile.getOrElse((w, math.min(l.rowsPerStrip, h)))
    val across = (w + bw - 1) / bw
    val down = (h + bh - 1) / bh
    val spt = if (l.planar == 1) spp else 1
    // raw blocks, in TIFF order (plane-major for planar layouts)
    val blocks = for {
      p <- 0 until (if (l.planar == 1) 1 else spp)
      ty <- 0 until down; tx <- 0 until across
    } yield {
      val rows = if (l.tile.isDefined) bh else math.min(bh, h - ty * bh)
      val bb = ByteBuffer.allocate(rows * bw * spt * sz).order(order)
      for (r <- 0 until rows) {
        val y = ty * bh + r
        val row = ByteBuffer.allocate(bw * spt * sz).order(order)
        for (c <- 0 until bw; s <- 0 until spt) {
          val x = tx * bw + c
          val band = if (l.planar == 1) s else p
          val v = if (x < w && y < h) planes(band)(y * w + x) else 0.0
          put(row, dtype, v)
        }
        if (l.predictor == 2) difference(row, bw * spt, spt, sz)
        bb.put(row.array())
      }
      bb.array()
    }
    val encoded = blocks.zipWithIndex.map { case (b, i) =>
      corrupt(i, l.compression match {
        case 1 => b
        case 8 => deflate(b)
        case 32773 => packBits(b, bw * spt * sz)
      })
    }
    val out = new ByteArrayOutputStream()
    val head = ByteBuffer.allocate(8).order(order)
    head.put((if (l.bigEndian) "MM" else "II").getBytes("US-ASCII"))
    head.putShort(42.toShort)
    val dataOffsets = encoded.scanLeft(8L)(_ + _.length)
    val ifdAt = dataOffsets.last + (dataOffsets.last & 1) // word boundary
    head.putInt(ifdAt.toInt)
    out.write(head.array())
    encoded.foreach(b => out.write(b))
    if ((dataOffsets.last & 1) == 1) out.write(0)
    // entries: (tag, type, values)
    val short = 3; val long = 4; val double = 12; val ascii = 2
    val entries: Seq[(Int, Int, Seq[Any])] = Seq(
      (256, long, Seq(w)), (257, long, Seq(h)),
      (258, short, Seq.fill(spp)(bits)), (259, short, Seq(l.compression)),
      (262, short, Seq(if (spp == 3) 2 else 1))) ++
      (if (l.tile.isEmpty) Seq((273, long, dataOffsets.init))
       else Nil) ++
      Seq((277, short, Seq(spp))) ++
      (if (l.tile.isEmpty) Seq((278, long, Seq(bh)),
        (279, long, encoded.map(_.length))) else Nil) ++
      Seq((284, short, Seq(l.planar))) ++
      (if (l.predictor != 1) Seq((317, short, Seq(l.predictor))) else Nil) ++
      l.tile.toSeq.flatMap { case (tw, th) => Seq((322, long, Seq(tw)),
        (323, long, Seq(th)), (324, long, dataOffsets.init),
        (325, long, encoded.map(_.length))) } ++
      (if (spp == 2 || spp > 3) Seq((338, short, Seq.fill(spp - 1)(0)))
       else Nil) ++
      Seq((339, short, Seq.fill(spp)(fmt)),
        (33550, double, Seq(10.0, 10.0, 0.0)),
        (33922, double, Seq(0.0, 0.0, 0.0, 500000.0, 8000000.0, 0.0)),
        (34735, short, Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1,
          3072, 0, 1, 32735)),
        (42113, ascii, Seq("0")))
    def size(tpe: Int): Int = tpe match { case 3 => 2; case 4 => 4; case 12 => 8; case _ => 1 }
    def bytesOf(tpe: Int, vs: Seq[Any]): Array[Byte] = tpe match {
      case 2 => (vs.head.toString + "\u0000").getBytes("US-ASCII")
      case _ =>
        val bb = ByteBuffer.allocate(vs.length * size(tpe)).order(order)
        vs.foreach { v =>
          val d = v match { case i: Int => i.toDouble; case j: Long => j.toDouble; case x: Double => x }
          tpe match {
            case 3 => bb.putShort(d.toInt.toShort)
            case 4 => bb.putInt(d.toLong.toInt)
            case 12 => bb.putDouble(d)
          }
        }
        bb.array()
    }
    val ifdBytes = 2 + entries.length * 12 + 4
    val ifd = ByteBuffer.allocate(ifdBytes).order(order)
    val extra = new ByteArrayOutputStream()
    ifd.putShort(entries.length.toShort)
    entries.foreach { case (tag, tpe, vs) =>
      val b = bytesOf(tpe, vs)
      ifd.putShort(tag.toShort).putShort(tpe.toShort)
      ifd.putInt(if (tpe == 2) b.length else vs.length)
      if (b.length <= 4) ifd.put(b ++ Array.fill[Byte](4 - b.length)(0))
      else {
        ifd.putInt((ifdAt + ifdBytes + extra.size()).toInt)
        extra.write(b)
        if ((extra.size() & 1) == 1) extra.write(0)
      }
    }
    ifd.putInt(0)
    out.write(ifd.array())
    out.write(extra.toByteArray)
    Files.write(Paths.get(path), out.toByteArray)
  }

  private def put(bb: ByteBuffer, dtype: String, v: Double): Unit = dtype match {
    case "uint8" | "int8" => bb.put(v.toInt.toByte)
    case "uint16" | "int16" => bb.putShort(v.toInt.toShort)
    case "int32" => bb.putInt(v.toInt)
    case "float32" => bb.putFloat(v.toFloat)
    case "float64" => bb.putDouble(v)
  }

  /** Predictor 2 on one row: each sample minus the same component of the
    * pixel before it, as wrapping integers in the row's byte order. */
  private def difference(row: ByteBuffer, samples: Int, spt: Int, sz: Int): Unit =
    for (i <- samples - 1 to spt by -1) {
      val (p, q) = (i * sz, (i - spt) * sz)
      sz match {
        case 1 => row.put(p, (row.get(p) - row.get(q)).toByte)
        case 2 => row.putShort(p, (row.getShort(p) - row.getShort(q)).toShort)
        case 4 => row.putInt(p, row.getInt(p) - row.getInt(q))
      }
    }

  def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(b)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** PackBits, row by row (runs never cross a row): literal runs only. */
  def packBits(b: Array[Byte], rowBytes: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    for (row <- b.grouped(rowBytes); run <- row.grouped(128)) {
      out.write(run.length - 1)
      out.write(run)
    }
    out.toByteArray
  }
}
