package perfbench

import graft.geo.{Affine, Crs, GeoBox}
import graft.load.{Load, LoadResult}
import graft.model.{CollectionMetadata, ParsedItem}
import graft.raster.{Grb, RasterReader, Tiff}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.util.zip.CRC32C

/** Summary of one output tile row: its key, pixel count, valid-pixel
  * count and a CRC32C of its payload bytes. */
final case class TileSum(band: String, tIdx: Int, ty: Int, tx: Int,
                         px: Long, valid: Long, crc: Long)

/** What an output must add up to: tile count, valid-pixel total and an
  * order-independent digest over the tile rows. */
final case class Expectation(tiles: Int, valid: Long, digest: Long) {
  def corrupted: Expectation = copy(digest = digest ^ 1L)
}

object Check {
  def crc(bytes: Array[Byte]): Long = {
    val c = new CRC32C(); c.update(bytes); c.getValue
  }

  /** Little-endian uint16 payload, the engine's tile encoding. */
  def u16le(px: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](px.length * 2)
    var i = 0
    while (i < px.length) {
      out(2 * i) = px(i).toByte; out(2 * i + 1) = (px(i) >>> 8).toByte; i += 1
    }
    out
  }

  def tileSum(band: String, tIdx: Int, ty: Int, tx: Int, px: Array[Int]): TileSum =
    TileSum(band, tIdx, ty, tx, px.length, px.count(_ != 0), crc(u16le(px)))

  def expectation(ts: Seq[TileSum]): Expectation = Expectation(ts.length,
    ts.iterator.map(_.valid).sum,
    ts.iterator.map { t =>
      Formula.mix64((((t.band.hashCode.toLong * 1000003L + t.tIdx) * 1000003L +
        t.ty) * 1000003L + t.tx) ^ Formula.mix64(t.crc ^ (t.valid << 32)))
    }.sum)

  /** None when `got` matches, else what differs. */
  def compare(want: Expectation, got: Seq[TileSum]): Option[String] = {
    val g = expectation(got)
    if (g == want) None
    else Some(s"expected ${want.tiles} tiles / ${want.valid} valid px / " +
      f"digest ${want.digest}%016x, got ${g.tiles} / ${g.valid} / ${g.digest}%016x")
  }

  /** The tile summaries of a load, computed in the tasks that make the
    * tiles: the noop sink. */
  def summarize(res: LoadResult): Seq[TileSum] = {
    val spark = res.tiles.sparkSession
    import spark.implicits._
    res.tiles.as[Load.TileRow].map { r =>
      TileSum(r.band, r.tIdx, r.ty, r.tx, r.width.toLong * r.height,
        r.validCount, crc(r.data))
    }.collect().toSeq
  }

  /** Re-reads exported GeoTIFF tiles (`<band>_t<t>_<ty>_<tx>.tif`). */
  def readBack(dir: File): Seq[TileSum] = {
    val Name = """(.+)_t(\d+)_(\d+)_(\d+)\.tif""".r
    dir.listFiles().toSeq.map(_.getName).sorted.map { case n @ Name(b, t, ty, tx) =>
      val path = new File(dir, n).getPath
      val h = Tiff.readHeader(path)
      val px = Tiff.readWindow(path, 0, 0, h.width, h.height).map(_.toInt)
      tileSum(b, t.toInt, ty.toInt, tx.toInt, px)
    }
  }
}

/** What one load returns to the check; `files`/`bytes` describe a sink
  * that writes. */
final case class SinkOut(tiles: Seq[TileSum], dir: Option[File],
                         files: Long, bytes: Long)

/** One benchmark workload: its generated inputs, its load call and its
  * sink. */
trait Workload {
  def name: String
  /** URI schemes the loads read through. */
  def schemes: Seq[String]
  /** The seed's input files: generated, or reused after verification. */
  def data(seed: Long, root: File): (File, Boolean)
  /** STAC item JSON, one string per item. */
  def jsons(seed: Long, dir: File, baseUrl: String): Seq[String]
  def load(spark: SparkSession, items: Seq[ParsedItem],
           schemas: Map[String, CollectionMetadata], seed: Long,
           reader: RasterReader,
           progress: Option[(Long, Long) => Unit]): LoadResult
  /** The timed sink action. */
  def sink(res: LoadResult, out: File): SinkOut =
    SinkOut(Check.summarize(res), None, 0L, 0L)
  /** Tile summaries the check compares against a load's output (after
    * the timed interval). */
  def observed(out: SinkOut): Seq[TileSum] = out.tiles
}

object Workload {
  val all: Seq[Workload] = Seq(CogHttp, MosaicWarpExport, TimeseriesAoi)
  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name'; known: ${all.map(_.name).mkString(", ")}"))

  val Utm35S: Crs = Crs.Utm(35, south = true)

  /** A STAC item with one asset per band, each a single-band uint16
    * raster with nodata 0 on `gbox`. */
  def item(id: String, collection: String, datetime: String, gbox: GeoBox,
           assets: Seq[(String, String)], mediaType: String): String = {
    val fp = gbox.footprint(Crs.LonLat)
    val ring = (fp.ring :+ fp.ring.head)
      .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val t = gbox.transform
    val as = assets.map { case (band, href) =>
      s""""$band": {"href": "$href", "type": "$mediaType", "roles": ["data"],
         | "proj:shape": [${gbox.height}, ${gbox.width}],
         | "proj:transform": [${t.a}, ${t.b}, ${t.c}, ${t.d}, ${t.e}, ${t.f}],
         | "raster:bands": [{"nodata": 0, "data_type": "uint16"}]}""".stripMargin
    }.mkString(",")
    s"""{"type": "Feature", "stac_version": "1.0.0", "id": "$id",
       |"collection": "$collection",
       |"stac_extensions": ["https://stac-extensions.github.io/projection/v1.1.0/schema.json"],
       |"geometry": {"type": "Polygon", "coordinates": [$ring]},
       |"properties": {"datetime": "$datetime", "proj:epsg": 32735},
       |"assets": {$as}}""".stripMargin
  }

  def grid(x0: Double, y0: Double, w: Int, h: Int, res: Double): GeoBox =
    GeoBox(w, h, Affine.grid(x0, y0, res, -res), Utm35S)
}

/** A 2x2 mosaic of large deflate-compressed, 512-px-tiled uint16 GeoTIFFs
  * served by the in-process range server; each load reads one band over a
  * window straddling the mosaic centre, at native CRS. */
object CogHttp extends Workload {
  val name = "cog_http"
  val schemes = Seq("http")
  val FileW = 3072
  val Win = 2048
  val Chunk = 1024
  val Res = 10.0
  private val X0 = 500000.0
  private val Y0 = 8000000.0

  private def fileGbox(k: Int): GeoBox = Workload.grid(
    X0 + (k % 2) * FileW * Res, Y0 - (k / 2) * FileW * Res, FileW, FileW, Res)

  def data(seed: Long, root: File): (File, Boolean) =
    DataCache.obtain(root, name, s"$name-v${Formula.Version}-s$seed-w$FileW-n4-t512") { dir =>
      DataCache.parallel(4) { k =>
        val px = new Array[Double](FileW * FileW)
        var i = 0
        while (i < px.length) {
          px(i) = Formula.value(seed, k, i % FileW, i / FileW); i += 1
        }
        Tiff.write(new File(dir, s"c$k.tif").getPath, px, fileGbox(k), "uint16",
          Some(0.0), tileSize = Some(512), compression = Some("Deflate"))
      }
      val raw = 4L * FileW * FileW * 2
      val ratio = dir.listFiles().map(_.length).sum.toDouble / raw
      require(ratio >= 0.4 && ratio <= 0.7,
        f"COG compression ratio $ratio%.3f is not near half of raw")
    }

  def jsons(seed: Long, dir: File, baseUrl: String): Seq[String] =
    (0 until 4).map { k =>
      Workload.item(s"cog-$k", "perfbench-cog", "2021-03-04T08:00:00Z",
        fileGbox(k), Seq("b1" -> s"$baseUrl/c$k.tif"),
        "image/tiff; application=geotiff; profile=cloud-optimized")
    }

  /** Window origin in mosaic pixels: always across the file seam, never
    * at a file's top-left, so every seed reads the same nine bins. */
  private def origin(seed: Long): (Int, Int) =
    (FileW - Win / 2 + 256 + Formula.pick(seed, 1, 256),
      FileW - Win / 2 + 256 + Formula.pick(seed, 2, 256))

  def window(seed: Long): GeoBox = {
    val (wx, wy) = origin(seed)
    Workload.grid(X0 + wx * Res, Y0 - wy * Res, Win, Win, Res)
  }

  def load(spark: SparkSession, items: Seq[ParsedItem],
           schemas: Map[String, CollectionMetadata], seed: Long,
           reader: RasterReader,
           progress: Option[(Long, Long) => Unit]): LoadResult =
    Load.load(spark, items, schemas, bands = Seq("b1"),
      geobox = Some(window(seed)), groupby = "solar_day", chunks = Chunk,
      progress = progress, reader = reader)

  /** Expected tiles from the formula: the files do not overlap, so each
    * output pixel has exactly one source. */
  def expected(seed: Long): Seq[TileSum] = {
    val (wx, wy) = origin(seed)
    val n = Win / Chunk
    for (ty <- 0 until n; tx <- 0 until n) yield {
      val px = new Array[Int](Chunk * Chunk)
      for (oy <- 0 until Chunk; ox <- 0 until Chunk) {
        val gx = wx + tx * Chunk + ox
        val gy = wy + ty * Chunk + oy
        px(oy * Chunk + ox) = Formula.value(seed,
          (gy / FileW) * 2 + gx / FileW, gx % FileW, gy % FileW)
      }
      Check.tileSum("b1", 0, ty, tx, px)
    }
  }
}

/** Nine half-overlapping raw GRB scenes with three bands, one solar day,
  * mosaicked and reprojected UTM -> EPSG:3857 and exported as deflate
  * GeoTIFF tiles into a fresh directory per load. */
object MosaicWarpExport extends Workload {
  val name = "mosaic_warp_export"
  val schemes = Seq("", "file")
  val SceneW = 768
  val Dim = 3
  val Res = 10.0
  val Bands = Seq("red", "nir", "blu")

  private def sceneGbox(k: Int): GeoBox = Workload.grid(
    400000.0 + (k % Dim) * (SceneW / 2) * Res,
    8200000.0 - (k / Dim) * (SceneW / 2) * Res, SceneW, SceneW, Res)

  private def file(k: Int, band: String) = s"s$k-$band.grb"

  def data(seed: Long, root: File): (File, Boolean) =
    DataCache.obtain(root, name, s"$name-v${Formula.Version}-s$seed-w$SceneW-n${Dim * Dim}") { dir =>
      DataCache.parallel(Dim * Dim * Bands.length) { i =>
        val (k, b) = (i / Bands.length, i % Bands.length)
        val px = new Array[Double](SceneW * SceneW)
        var j = 0
        while (j < px.length) {
          val x = j % SceneW
          // a nodata stripe on the east edge, so the fuse has holes to fill
          px(j) = if (x >= SceneW * 7 / 8) 0.0
                  else Formula.value(seed, 2000000L + k * 8 + b, x, j / SceneW)
          j += 1
        }
        Grb.write(new File(dir, file(k, Bands(b))).getPath, px, sceneGbox(k),
          "uint16", Some(0.0))
      }
    }

  def jsons(seed: Long, dir: File, baseUrl: String): Seq[String] =
    (0 until Dim * Dim).map { k =>
      Workload.item(s"mosaic-$k", "perfbench-mosaic", s"2020-06-06T0$k:00:00Z",
        sceneGbox(k), Bands.map(b => b -> new File(dir, file(k, b)).getPath),
        "image/tiff; application=geotiff")
    }

  def load(spark: SparkSession, items: Seq[ParsedItem],
           schemas: Map[String, CollectionMetadata], seed: Long,
           reader: RasterReader,
           progress: Option[(Long, Long) => Unit]): LoadResult =
    Load.load(spark, items, schemas, bands = Bands, groupby = "solar_day",
      chunks = 1024, crs = Some("EPSG:3857"), resolution = Some(Res),
      progress = progress, reader = reader)

  override def sink(res: LoadResult, out: File): SinkOut = {
    val n = res.exportCogTiles(out.getPath)
    SinkOut(Nil, Some(out), n, out.listFiles().map(_.length).sum)
  }

  override def observed(out: SinkOut): Seq[TileSum] = Check.readBack(out.dir.get)
}

/** A deep daily time stack: ~1,460 small two-band GRB scenes on two
  * overlapping tracks, read over a field-sized AOI grouped by solar day.
  * Every other day both tracks pass; their order within the day
  * alternates and each scene has a nodata stripe, so first-valid-by-rank
  * decides pixels. */
object TimeseriesAoi extends Workload {
  val name = "timeseries_aoi"
  val schemes = Seq("", "file")
  val S = 224
  val Aoi = 144
  val Days = 976
  val Bands = Seq("b1", "b2")
  val Res = 10.0
  private val BOff = (32, 24)
  private val X0 = 600000.0
  private val Y0 = 8100000.0
  private val Stripe = 48

  private final case class Scene(track: Int, day: Int) {
    def id: String = f"ts-${"ab" (track)}-$day%04d"
    def gbox: GeoBox = Workload.grid(X0 + track * BOff._1 * Res,
      Y0 - track * BOff._2 * Res, S, S, Res)
    def datetime: String = {
      val date = java.time.LocalDate.of(2019, 1, 1).plusDays(day.toLong)
      val hm = if (track == 0) "08:20" else if ((day / 2) % 2 == 0) "08:10" else "08:30"
      s"${date}T$hm:00Z"
    }
    def fileId(b: Int): Long = 1000000L + (track * 100000L + day) * 4 + b
    def file(b: Int): String = s"$id-${Bands(b)}.grb"
    def valid(seed: Long, x: Int): Boolean = {
      val c = Formula.pick(seed, fileId(0), S - Stripe)
      x < c || x >= c + Stripe
    }
  }

  private val scenes: Seq[Scene] =
    (0 until Days).flatMap(d => Scene(0, d) +: (if (d % 2 == 0) Seq(Scene(1, d)) else Nil))

  def data(seed: Long, root: File): (File, Boolean) =
    DataCache.obtain(root, name, s"$name-v${Formula.Version}-s$seed-w$S-d$Days") { dir =>
      DataCache.parallel(scenes.length * Bands.length) { i =>
        val (sc, b) = (scenes(i / Bands.length), i % Bands.length)
        val px = new Array[Double](S * S)
        var j = 0
        while (j < px.length) {
          val x = j % S
          px(j) = if (sc.valid(seed, x)) Formula.value(seed, sc.fileId(b), x, j / S) else 0.0
          j += 1
        }
        Grb.write(new File(dir, sc.file(b)).getPath, px, sc.gbox, "uint16", Some(0.0))
      }
    }

  def jsons(seed: Long, dir: File, baseUrl: String): Seq[String] =
    scenes.map { sc =>
      Workload.item(sc.id, "perfbench-ts", sc.datetime, sc.gbox,
        Bands.indices.map(b => Bands(b) -> new File(dir, sc.file(b)).getPath),
        "image/tiff; application=geotiff")
    }

  /** AOI origin in track-A pixels, inside both tracks' footprints. */
  private def origin(seed: Long): (Int, Int) =
    (BOff._1 + Formula.pick(seed, 11, S - Aoi - BOff._1 + 1),
      BOff._2 + Formula.pick(seed, 12, S - Aoi - BOff._2 + 1))

  def load(spark: SparkSession, items: Seq[ParsedItem],
           schemas: Map[String, CollectionMetadata], seed: Long,
           reader: RasterReader,
           progress: Option[(Long, Long) => Unit]): LoadResult = {
    val (ax, ay) = origin(seed)
    Load.load(spark, items, schemas, bands = Bands,
      geobox = Some(Workload.grid(X0 + ax * Res, Y0 - ay * Res, Aoi, Aoi, Res)),
      groupby = "solar_day", progress = progress, reader = reader)
  }

  /** Expected tiles from the formula: per day, members in (datetime, id)
    * order, first valid pixel wins. */
  def expected(seed: Long): Seq[TileSum] = {
    val (ax, ay) = origin(seed)
    val byDay = scenes.groupBy(_.day)
    val out = new Array[TileSum](Days * Bands.length)
    DataCache.parallel(Days) { d =>
      val members = byDay(d).sortBy(s => (s.datetime, s.id))
      Bands.indices.foreach { b =>
        val px = new Array[Int](Aoi * Aoi)
        for (oy <- 0 until Aoi; ox <- 0 until Aoi) {
          val first = members.find(sc => sc.valid(seed, ax + ox - sc.track * BOff._1))
          px(oy * Aoi + ox) = first.fold(0)(sc => Formula.value(seed, sc.fileId(b),
            ax + ox - sc.track * BOff._1, ay + oy - sc.track * BOff._2))
        }
        out(d * Bands.length + b) = Check.tileSum(Bands(b), d, 0, 0, px)
      }
    }
    out.toSeq
  }
}
