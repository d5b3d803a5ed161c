package graft

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import rasterops.TileCells._

/** The raster queries' cell conventions on two hand-built tiles: a
  * 3×2 uint16 tile with nodata 0 and a 2×2 float64 tile with a NaN
  * hole (nodata NaN). Rows are compared as strings so NaN cells
  * compare equal to NaN. */
class TileCellsSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark

  private def bytes(dtype: String, px: Seq[Double]): Array[Byte] = {
    val buf = ByteBuffer.allocate(px.size * (if (dtype == "uint16") 2 else 8))
      .order(ByteOrder.LITTLE_ENDIAN)
    px.foreach(v => if (dtype == "uint16") buf.putShort(v.toInt.toShort)
      else buf.putDouble(v))
    buf.array()
  }

  private lazy val tiles: DataFrame = {
    import spark.implicits._
    Seq(("red", 0, 0, 0, 3, 0.0, "uint16",
        bytes("uint16", Seq(5, 0, 7, 0, 9, 65535))),
      ("nir", 1, 0, 1, 2, Double.NaN, "float64",
        bytes("float64", Seq(1.5, Double.NaN, -2.25, 3.0))))
      .toDF("band", "tIdx", "ty", "tx", "width", "nodata", "dtype", "data")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString(",")).toSeq

  private val nirCells = Seq("nir,1,0,1,0,0,1.5", "nir,1,0,1,0,1,NaN",
    "nir,1,0,1,1,0,-2.25", "nir,1,0,1,1,1,3.0")

  test("raw cells: (keys…, py, px, value) in row-major order") {
    assert(rows(cells(tiles, tileKeys, masked = false)).sorted == (Seq(
      "red,0,0,0,0,0,5.0", "red,0,0,0,0,1,0.0", "red,0,0,0,0,2,7.0",
      "red,0,0,0,1,0,0.0", "red,0,0,0,1,1,9.0", "red,0,0,0,1,2,65535.0")
      ++ nirCells).sorted)
    assert(cells(tiles, tileKeys, masked = false).columns.toSeq ==
      Seq("band", "tidx", "ty", "tx", "py", "px", "value"))
  }

  test("masked cells: nodata and NaN pixels read NaN") {
    assert(rows(cells(tiles, tileKeys, masked = true)).sorted == (Seq(
      "red,0,0,0,0,0,5.0", "red,0,0,0,0,1,NaN", "red,0,0,0,0,2,7.0",
      "red,0,0,0,1,0,NaN", "red,0,0,0,1,1,9.0", "red,0,0,0,1,2,65535.0")
      ++ nirCells).sorted)
  }

  test("series keeps pos; grid cells sit at the tile's global position") {
    assert(rows(series(tiles.where(col("band") === "red"), tileKeys)) == Seq(
      "red,0,0,0,0,5.0", "red,0,0,0,1,NaN", "red,0,0,0,2,7.0",
      "red,0,0,0,3,NaN", "red,0,0,0,4,9.0", "red,0,0,0,5,65535.0"))
    assert(rows(gridCells(tiles.where(col("band") === "nir"))) == Seq(
      "nir,1,0,64,1.5", "nir,1,0,65,NaN", "nir,1,1,64,-2.25", "nir,1,1,65,3.0"))
  }

  test("tile summary: counts, ×100 quantized sum and NaN-free extremes") {
    val keys = Seq("band", "tidx", "ty", "tx")
    assert(rows(summary(cells(tiles, tileKeys, masked = true), keys,
      withValid = true)) == Seq(
      "nir,1,0,1,4,3,225,-2.25,3.0",
      "red,0,0,0,6,4,6555600,5.0,65535.0"))
    assert(rows(summary(cells(tiles, tileKeys, masked = false), keys,
      withValid = false)) == Seq(
      "nir,1,0,1,4,225,-2.25,3.0",
      "red,0,0,0,6,6555600,0.0,65535.0"))
  }

  test("plane checksum skips NaN at each scale; plane valid counts non-NaN") {
    import spark.implicits._
    val planes = Seq(Tuple1(Array(1.25, Double.NaN, -0.5, 3.0, 0.125)))
      .toDF("plane")
    val r = planes.select(planeSum("plane", 100), planeSum("plane", 1000),
      planeSum("plane", 1e6), planeValid("plane")).head()
    // 0.125 × 100 = 12.5 rounds half up to 13
    assert(r.getLong(0) == 125 - 50 + 300 + 13)
    assert(r.getLong(1) == 1250 - 500 + 3000 + 125)
    assert(r.getLong(2) == 1250000L - 500000 + 3000000 + 125000)
    assert(r.getInt(3) == 4)
  }
}
