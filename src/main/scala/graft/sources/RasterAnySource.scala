package graft.sources

import graft.raster.RasterFormat
import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 table over EVERY raster container the engine reads
  * (`spark.read.format("raster")`) — the "COG table" of SURVEY §4: GRB,
  * GeoTIFF, zarr v2 stores and netCDF classic files share one pixel-table
  * surface. Container formats are expanded at resolve time — each zarr
  * variable / netCDF variable becomes its own `uri#variable` row source,
  * so `uri` predicates select subdatasets the same way they select files.
  *
  * All scan machinery (ROI/band/uri pushdown, row-band partition
  * planning, column-pruned emit) is [[PixelScan]]; the per-format work is
  * [[RasterFormat]]'s.
  *
  * Row shape: `(uri, band, x, y, wx, wy, value, nodata)` — one row per
  * pixel per addressed band, joinable with everything in the engine.
  */
class RasterAnyDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "raster"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PixelScan.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RasterAnyTable(RasterAnyTable.resolvePaths(properties.get("path")))
}

object RasterAnyTable {
  /** A file, a container store, or a directory of any mix; containers
    * expand to their subdatasets. */
  def resolvePaths(path: String): Seq[String] = {
    require(path != null && path.nonEmpty,
      "raster source requires exactly one path (file, store or directory)")
    val f = new java.io.File(path.stripPrefix("file:").takeWhile(_ != '#'))
    val frag = path.dropWhile(_ != '#') // '#variable' or empty
    if (f.isDirectory && RasterFormat.of(f.getPath) != RasterFormat.ZarrFormat) {
      val listed = f.listFiles()
      require(listed != null, s"cannot list directory: ${f.getPath}")
      listed.toSeq.map(_.getPath).filter(RasterFormat.isRaster)
        .sorted.flatMap(p => RasterFormat.of(p).expand(p))
    } else RasterFormat.of(f.getPath).expand(f.getPath + frag)
  }
}

class RasterAnyTable(uris: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"raster(${uris.mkString(",")})"
  override def schema(): StructType = PixelScan.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PixelScanBuilder(uris)
}
