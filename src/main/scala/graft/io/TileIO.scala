package graft.io

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{CfConv, Crs, GridMapping}
import graft.model.Tile

/** Tile-table storage (reference §2.9: the reference is storage-
  * agnostic in-memory xarray with Zarr at the edges — here the durable
  * format is parquet tile tables plus a JSON grid-mapping sidecar,
  * mirroring the Zarr `add_spatial_ref` consolidated-metadata helper,
  * reference: cfconv.py:320-358).
  *
  * Layout:
  *   <path>/tiles/ tj=<n>/...parquet   (partitioned by tile row ->
  *                                      directory-level pruning for
  *                                      clip/window reads)
  *   <path>/gridmapping.json           (geometry + CF CRS attrs)
  *
  * Each row is one tile: (varName, band, tj, ti, h, w) and `data`, the
  * tile's row-major h x w float64 values as ONE raw little-endian
  * `binary` chunk of 8·h·w bytes — as Zarr stores a chunk as one blob.
  * Dictionary encoding is off for `data` alone: parquet would otherwise
  * try to dictionary-encode every float64 of every tile before falling
  * back to plain. Reading decodes each chunk with one bulk copy, and
  * keeps every value's bits (NaN payloads, -0.0) as written.
  */
object TileIO {

  /** A stored tile row: `data` is the raw chunk of [[Tile.data]].
    * Package-private, not private: Spark's generated encoder code must
    * reach its accessors.
    */
  private[io] final case class Chunk(
      varName: String, band: Int, tj: Int, ti: Int, h: Int, w: Int, data: Array[Byte])

  private def encode(t: Tile): Chunk = {
    val buf = ByteBuffer.allocate(8 * t.data.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.asDoubleBuffer().put(t.data)
    Chunk(t.varName, t.band, t.tj, t.ti, t.h, t.w, buf.array())
  }

  private def decode(c: Chunk): Tile = {
    val n = c.h * c.w
    require(c.data.length == 8 * n,
      s"tile (${c.varName}, ${c.band}, ${c.tj}, ${c.ti}): ${c.data.length} bytes for $n values")
    val data = new Array[Double](n)
    ByteBuffer.wrap(c.data).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(data)
    Tile(c.varName, c.band, c.tj, c.ti, c.h, c.w, data)
  }

  def writeTiles(tiles: Dataset[Tile], path: String, gm: GridMapping): Unit = {
    val spark = tiles.sparkSession
    import spark.implicits._
    tiles.map(encode).write
      .mode(SaveMode.Overwrite)
      .option("parquet.enable.dictionary#data", "false")
      .partitionBy("tj")
      .parquet(s"$path/tiles")
    Files.createDirectories(Paths.get(path))
    Sidecars.writeAtomic(Paths.get(s"$path/gridmapping.json"), gridMappingToJson(gm))
  }

  def readTiles(spark: SparkSession, path: String): (Dataset[Tile], GridMapping) =
    (decoded(spark.read.parquet(s"$path/tiles")), readGridMapping(path))

  /** Read only the tiles intersecting an xy bbox — the partition-pruned
    * clip path (`WHERE tj BETWEEN ...` prunes directories before any
    * file is opened; reference clip: utils.py:77-124). The filters run
    * on the stored columns, so pruned rows never reach the decoder.
    */
  def readTilesClipped(
      spark: SparkSession, path: String,
      x0: Double, y0: Double, x1: Double, y1: Double): (Dataset[Tile], GridMapping) = {
    val gm = readGridMapping(path)
    val stored = spark.read.parquet(s"$path/tiles")
    val (i0, j0, i1, j1) = gm.ijBboxFromXyBbox(x0, y0, x1, y1)
    if (i0 < 0) (decoded(stored.filter(lit(false))), gm)
    else {
      val tj0 = j0 / gm.tileHeight; val tj1 = (j1 - 1) / gm.tileHeight
      val ti0 = i0 / gm.tileWidth; val ti1 = (i1 - 1) / gm.tileWidth
      (decoded(stored.filter(col("tj") >= tj0 && col("tj") <= tj1 &&
                             col("ti") >= ti0 && col("ti") <= ti1)), gm)
    }
  }

  private def readGridMapping(path: String): GridMapping =
    gridMappingFromJson(Files.readString(Paths.get(s"$path/gridmapping.json")))

  private def decoded(stored: DataFrame): Dataset[Tile] = {
    val spark = stored.sparkSession
    import spark.implicits._
    stored.select("varName", "band", "tj", "ti", "h", "w", "data").as[Chunk].map(decode)
  }

  /** Write CF CRS metadata INTO AN EXISTING store — the analog of the
    * reference's Zarr `add_spatial_ref` (cfconv.py:320-358), which
    * inserts a `spatial_ref` variable carrying the CF attrs into a
    * store written without one: the sidecar's crs block is replaced in
    * place, all geometry fields untouched, no tile data rewritten.
    */
  def addSpatialRef(path: String, crs: Crs): Unit = {
    val sidecar = Paths.get(s"$path/gridmapping.json")
    require(Files.exists(sidecar), s"no tile store at $path (missing gridmapping.json)")
    val gm = gridMappingFromJson(Files.readString(sidecar))
    Sidecars.writeAtomic(sidecar, gridMappingToJson(gm.copy(crs = crs)))
  }

  private def esc(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }

  def gridMappingToJson(gm: GridMapping): String = {
    val crsAttrs = CfConv.crsToAttrs(gm.crs)
      .map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }.mkString("{", ", ", "}")
    s"""{
       |  "width": ${gm.width}, "height": ${gm.height},
       |  "tileWidth": ${gm.tileWidth}, "tileHeight": ${gm.tileHeight},
       |  "xMin": ${gm.xMin}, "yMin": ${gm.yMin}, "xMax": ${gm.xMax}, "yMax": ${gm.yMax},
       |  "xRes": ${gm.xRes}, "yRes": ${gm.yRes},
       |  "isRegular": ${gm.isRegular}, "isJAxisUp": ${gm.isJAxisUp}, "isLon360": ${gm.isLon360},
       |  "crs": $crsAttrs
       |}""".stripMargin
  }

  def gridMappingFromJson(json: String): GridMapping = {
    // minimal flat-JSON parser for the schema written above (no
    // external deps; values are numbers, booleans, or a flat string map)
    def num(k: String): Double =
      s""""$k":\\s*([-0-9.eE]+)""".r.findFirstMatchIn(json)
        .getOrElse(throw new IllegalArgumentException(s"missing $k")).group(1).toDouble
    def bool(k: String): Boolean =
      s""""$k":\\s*(true|false)""".r.findFirstMatchIn(json)
        .getOrElse(throw new IllegalArgumentException(s"missing $k")).group(1).toBoolean
    val crsBlock = """"crs":\s*\{([^}]*)\}""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException("missing crs block")).group(1)
    val crsAttrs = """"([^"]+)":\s*"([^"]*)"""".r.findAllMatchIn(crsBlock)
      .map(m => m.group(1) -> m.group(2)).toMap
    val crs = crsAttrs.get("crs_name")
      .flatMap(n => scala.util.Try(Crs.fromString(n)).toOption)
      .orElse(CfConv.crsFromAttrs(crsAttrs))
      .getOrElse(throw new IllegalArgumentException("unparseable CRS attrs"))
    GridMapping(
      num("width").toInt, num("height").toInt,
      num("tileWidth").toInt, num("tileHeight").toInt,
      num("xMin"), num("yMin"), num("xMax"), num("yMax"),
      num("xRes"), num("yRes"), crs,
      isRegular = bool("isRegular"), isJAxisUp = bool("isJAxisUp"),
      isLon360 = bool("isLon360"))
  }
}
