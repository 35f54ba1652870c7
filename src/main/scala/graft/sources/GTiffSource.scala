package graft.sources

import graft.raster.{Grb, Tiff}
import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 table over GeoTIFF rasters
  * (`spark.read.format("gtiff")`) — the real-container sibling of the
  * `grb` source (SURVEY §4 "COG table"). All scan machinery (ROI/band/
  * uri pushdown, row-band partition planning, column-pruned emit) is
  * the shared [[PixelScan]] skeleton; the TIFF decode fetches and
  * decodes only the window's tiles/strips (the direct tile reader behind
  * `Tiff.readWindow` — the COG access pattern), and multi-band stacks
  * plan only addressed planes.
  *
  * Row shape: `(uri, band, x, y, wx, wy, value, nodata)` — one row per
  * pixel per addressed band, joinable with everything in the engine.
  */
class GTiffDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "gtiff"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GTiffTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new GTiffTable(GTiffTable.resolvePaths(properties.get("path")))
}

object GTiffTable {
  val Schema: StructType = StructType(Seq(
    StructField("uri", StringType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("wx", DoubleType, nullable = false),
    StructField("wy", DoubleType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("nodata", DoubleType, nullable = true)))

  def resolvePaths(path: String): Seq[String] = {
    require(path != null && path.nonEmpty,
      "gtiff source requires exactly one path (point at a file or directory)")
    val f = new java.io.File(path.stripPrefix("file:"))
    if (f.isDirectory) {
      val listed = f.listFiles()
      require(listed != null, s"cannot list directory: ${f.getPath}")
      listed.toSeq.map(_.getPath)
        .filter(p => p.endsWith(".tif") || p.endsWith(".tiff")).sorted
    } else Seq(f.getPath)
  }

  private[sources] object Format extends PixelFormat {
    override def numBands(uri: String): Int = Tiff.numBands(uri)
    override def header(uri: String, band: Int): Grb.Header =
      Tiff.readHeader(uri, band)
    override def window(uri: String, x0: Int, y0: Int, w: Int, h: Int,
                        band: Int): Array[Double] =
      Tiff.readWindow(uri, x0, y0, w, h, band)
  }
}

class GTiffTable(paths: Seq[String]) extends Table with SupportsRead {
  override def name(): String = s"gtiff(${paths.mkString(",")})"
  override def schema(): StructType = GTiffTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PixelScanBuilder("GTiffScan", paths, GTiffTable.Schema,
      GTiffTable.Format)
}
