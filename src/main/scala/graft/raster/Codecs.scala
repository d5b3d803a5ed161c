package graft.raster

import java.io.IOException
import java.util.zip.{DataFormatException, Inflater}

/** The zlib/Deflate decoder of the compressed containers (TIFF tiles
  * and strips, zarr chunks): it fills an exact number of bytes and fails
  * loudly, naming `what` (the file or chunk), on a stream that ends short
  * of it or cannot be decoded. */
private[raster] object Codecs {

  /** Inflates `src` into `dst(0 until len)`. A stream that ends, or
    * stops making progress, before `len` bytes raises an `IOException`,
    * as does corrupt data. A stream whose data ends at `len` is run to
    * its end in the same call, so zlib checks its checksum; one that
    * holds more is cut at `len` unchecked. */
  def inflate(src: Array[Byte], dst: Array[Byte], len: Int, what: => String): Unit = {
    val inf = new Inflater()
    try {
      inf.setInput(src)
      var off = 0
      while (off < len) {
        val k = inf.inflate(dst, off, len - off)
        if (k == 0) throw new IOException(s"$what: compressed stream ends " +
          s"after $off of $len bytes (truncated or corrupt)")
        off += k
      }
    } catch {
      case e: DataFormatException =>
        throw new IOException(s"$what: corrupt compressed stream (${e.getMessage})", e)
    } finally inf.end()
  }
}
