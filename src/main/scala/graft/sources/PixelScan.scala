package graft.sources

import graft.raster.RasterFormat
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The DSv2 scan of the `raster` pixel table: the prune-only filter
  * pushdown, the row-band partition planner, and the column-pruned
  * row-emit loop. Per-format behavior (header/window/band-count) comes
  * from [[RasterFormat.of]] for each uri.
  *
  * Pushdown design (SURVEY §4 "COG table"):
  *  - **ROI pushdown** (`SupportsPushDownFilters`): x/y comparison
  *    predicates narrow the windowed decode — out-of-window row-bands
  *    are never planned as partitions, and surviving partitions read
  *    only the pushed window (the COG access pattern);
  *  - **band pruning**: `band = k` / `band IN (...)` predicates stop
  *    non-addressed planes from being planned at all;
  *  - **file pruning**: `uri` equality/prefix/suffix/contains predicates
  *    drop whole files (and container subdatasets) at build time;
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): world
  *    coordinates are computed only when projected;
  *  - **parallel scan**: files split into ~[[PixelScan.TargetPartitionPx]]
  *    row-band partitions, so scan parallelism tracks pixel volume, not
  *    file count.
  *
  * Pushed filters are also returned as residual — Spark re-checks them
  * (parquet row-group semantics: pushdown is a prune, not a correctness
  * contract). */
object PixelScan {
  /** Row shape: one row per pixel per addressed band. */
  val Schema: StructType = StructType(Seq(
    StructField("uri", StringType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("wx", DoubleType, nullable = false),
    StructField("wy", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("nodata", DoubleType, nullable = true)))

  /** ~pixels per input partition (row-band split granularity). */
  val TargetPartitionPx: Long = 4L << 20
}

/** Pixel-coordinate ROI accumulated from pushed filters. */
final case class PixelBounds(xMin: Int, xMax: Int, yMin: Int, yMax: Int) {
  def clampTo(w: Int, h: Int): PixelBounds =
    PixelBounds(math.max(0, xMin), math.min(w - 1, xMax),
      math.max(0, yMin), math.min(h - 1, yMax))
  def isEmpty: Boolean = xMin > xMax || yMin > yMax
}

object PixelBounds {
  val All: PixelBounds =
    PixelBounds(Int.MinValue, Int.MaxValue, Int.MinValue, Int.MaxValue)
}

private[sources] class PixelScanBuilder(uris: Seq[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var bounds = PixelBounds.All
  private var uriPred: String => Boolean = _ => true
  private var bandPred: Int => Boolean = _ => true
  private var pushed = Array.empty[Filter]
  private var required: StructType = PixelScan.Schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def narrow(f: Filter): Boolean = f match {
      case GreaterThan("x", v: Int) => bounds = bounds.copy(xMin = math.max(bounds.xMin, v + 1)); true
      case GreaterThanOrEqual("x", v: Int) => bounds = bounds.copy(xMin = math.max(bounds.xMin, v)); true
      case LessThan("x", v: Int) => bounds = bounds.copy(xMax = math.min(bounds.xMax, v - 1)); true
      case LessThanOrEqual("x", v: Int) => bounds = bounds.copy(xMax = math.min(bounds.xMax, v)); true
      case EqualTo("x", v: Int) =>
        bounds = bounds.copy(xMin = math.max(bounds.xMin, v), xMax = math.min(bounds.xMax, v)); true
      case GreaterThan("y", v: Int) => bounds = bounds.copy(yMin = math.max(bounds.yMin, v + 1)); true
      case GreaterThanOrEqual("y", v: Int) => bounds = bounds.copy(yMin = math.max(bounds.yMin, v)); true
      case LessThan("y", v: Int) => bounds = bounds.copy(yMax = math.min(bounds.yMax, v - 1)); true
      case LessThanOrEqual("y", v: Int) => bounds = bounds.copy(yMax = math.min(bounds.yMax, v)); true
      case EqualTo("y", v: Int) =>
        bounds = bounds.copy(yMin = math.max(bounds.yMin, v), yMax = math.min(bounds.yMax, v)); true
      case EqualTo("band", v: Int) =>
        val prev = bandPred; bandPred = b => prev(b) && b == v; true
      case In("band", vs) =>
        val set = vs.collect { case i: Int => i }.toSet
        val prev = bandPred; bandPred = b => prev(b) && set(b); true
      // file-level pruning on the uri column (partition-key analog)
      case EqualTo("uri", v: String) =>
        val prev = uriPred; uriPred = u => prev(u) && u == v; true
      case StringStartsWith("uri", v: String) =>
        val prev = uriPred; uriPred = u => prev(u) && u.startsWith(v); true
      case StringEndsWith("uri", v: String) =>
        val prev = uriPred; uriPred = u => prev(u) && u.endsWith(v); true
      case StringContains("uri", v: String) =>
        val prev = uriPred; uriPred = u => prev(u) && u.contains(v); true
      case And(l, r) => narrow(l) && narrow(r)
      case _ => false
    }
    pushed = filters.filter(narrow)
    filters // all residual: Spark re-checks (prune-only pushdown)
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new PixelScan(uris.filter(uriPred), bounds, bandPred, required)
}

private[sources] class PixelScan(
    uris: Seq[String], bounds: PixelBounds,
    bandPred: Int => Boolean, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"RasterAnyScan window=[x ${bounds.xMin}..${bounds.xMax}, y ${bounds.yMin}..${bounds.yMax}] " +
      s"columns=${required.fieldNames.mkString(",")}"

  /** One partition per (surviving band, row-band of the pushed window)
    * per file — ROI and band pruning happen HERE, at planning time:
    * pruned bands/row-bands are never materialized as partitions.
    * Header reads fan out over a bounded pool ([[PlanUtil.parMap]]):
    * planning must not serialize on per-file metadata I/O when the
    * table spans thousands of files. */
  override def planInputPartitions(): Array[InputPartition] = {
    PlanUtil.parMap(uris) { u =>
      val fmt = RasterFormat.of(u)
      val hd = fmt.header(u, 1)
      val nBands = fmt.numBands(u)
      val b = bounds.clampTo(hd.width, hd.height)
      if (b.isEmpty) Seq.empty
      else {
        val w = b.xMax - b.xMin + 1
        val rowsPer = math.max(1, (PixelScan.TargetPartitionPx / math.max(1, w)).toInt)
        for {
          band <- 1 to nBands if bandPred(band)
          y0 <- b.yMin to b.yMax by rowsPer
        } yield {
          val h = math.min(rowsPer, b.yMax - y0 + 1)
          PixelInputPartition(u, band, b.xMin, y0, w, h): InputPartition
        }
      }
    }.flatten.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PixelReaderFactory(required.fieldNames)
}

final case class PixelInputPartition(uri: String, band: Int,
                                     x0: Int, y0: Int,
                                     w: Int, h: Int) extends InputPartition

private[sources] class PixelReaderFactory(columns: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PixelPartitionReader(
      partition.asInstanceOf[PixelInputPartition], columns)
}

/** Streams the partition's window as pixel rows, materializing only the
  * pruned columns; the decode touches only the window (single span /
  * window-intersecting tiles). */
private[sources] class PixelPartitionReader(
    part: PixelInputPartition, columns: Array[String])
    extends PartitionReader[InternalRow] {

  private val fmt = RasterFormat.of(part.uri)
  private val header = fmt.header(part.uri, part.band)
  private val pixels =
    fmt.window(part.uri, part.x0, part.y0, part.w, part.h, part.band)
  private val uri = UTF8String.fromString(part.uri)
  private val t = header.geobox.transform
  private val nodataOrNull: Any = header.nodata.orNull
  private var i = -1
  private val n = part.w * part.h
  private val row = new GenericInternalRow(columns.length)
  // column dispatch hoisted out of the pixel loop: one int code per
  // projected column, and one shared transform eval when wx/wy project.
  private val codes: Array[Int] = columns.map {
    case "uri" => 0; case "band" => 1; case "x" => 2; case "y" => 3
    case "wx" => 4; case "wy" => 5; case "value" => 6; case "nodata" => 7
  }
  private val needsWorld = codes.exists(c => c == 4 || c == 5)

  override def next(): Boolean = { i += 1; i < n }

  override def get(): InternalRow = {
    val px = part.x0 + i % part.w
    val py = part.y0 + i / part.w
    var wx = 0.0
    var wy = 0.0
    if (needsWorld) {
      val w = t(px + 0.5, py + 0.5)
      wx = w._1; wy = w._2
    }
    var c = 0
    while (c < codes.length) {
      row.update(c, (codes(c): @annotation.switch) match {
        case 0 => uri
        case 1 => part.band
        case 2 => px
        case 3 => py
        case 4 => wx
        case 5 => wy
        case 6 => pixels(i)
        case 7 => nodataOrNull
      })
      c += 1
    }
    row
  }

  override def close(): Unit = ()
}
