package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.GridMapping

/** One raster tile: `data` is row-major `h x w` for variable `varName`,
  * leading-dim index `band` (time/etc.), tile-grid position (tj, ti).
  *
  * This is the engine's dense "tile-columnar" layout — the Spark analog
  * of one dask chunk of an xarray variable (reference:
  * xcube_resampling/dask.py:41-135 builds per-chunk graphs; here a tile
  * is simply a row and kernels run inside mapPartitions/mapGroups).
  * NaN encodes missing.
  *
  * A tile table is dense: every (varName, band) it holds has a tile at
  * every (tj, ti) of its grid, as every dask chunk of a variable exists.
  * `TestSpark.tilesFrom`, [[Raster.pixelsToTiles]] of a full grid,
  * `TileIO` stores and every gather's own output meet this. The gathers
  * rely on it: a target tile with no source window takes its (var, band)
  * inventory from one source tile.
  */
final case class Tile(
    varName: String, band: Int, tj: Int, ti: Int,
    h: Int, w: Int, data: Array[Double])

/** Pixel-row view `(varName, band, j, i, value)` — the SQL-friendly /
  * DuckDB-oracle layout. `value` may be NaN; when written for oracle
  * comparison NaN becomes null.
  */
final case class Pixel(varName: String, band: Int, j: Int, i: Int, value: Double)

/** Declared dimension names of one dataset variable — the metadata the
  * dispatcher uses to split a dataset into resampled / passthrough /
  * dropped variables (reference: xcube_resampling/affine.py:226-233
  * keys the same split off `var.dims`).
  */
final case class VarDims(varName: String, dims: Seq[String])

/** A dataset in the reference's sense: variables with BOTH spatial dims
  * live as tiles; variables with NO spatial dim ride along as an opaque
  * row table `(varName, payload rows...)` that spatial operators copy
  * through UNCHANGED; variables with exactly ONE spatial dim are
  * dropped by the dispatcher with a warning (reference:
  * affine.py:232-233, reproject.py:183-184, rectify.py:176-177).
  */
final case class RasterDataset(
    tiles: Dataset[Tile],
    varDims: Seq[VarDims],
    nonSpatial: DataFrame)

/** Leading-dimension (band) metadata: the `datetime64` time coordinate
  * of a 3D stack (reference fixtures: tests/sampledata.py:45, 115, 136)
  * lives here as a `TimestampType`-encodable column, keyed by
  * (varName, band). Spatial operators never touch `band`, so time
  * coordinates pass through every pipeline untouched — attach them back
  * to any operator output with [[Raster.attachBandMeta]].
  */
final case class BandMeta(varName: String, band: Int, time: java.sql.Timestamp)

object Raster {

  /** Tile-grid indices of a pixel for grid mapping `gm`. */
  @inline def tileOf(gm: GridMapping, i: Int, j: Int): (Int, Int) =
    (j / gm.tileHeight, i / gm.tileWidth)

  /** Pixel table -> tile table. One shuffle on (var, band, tj, ti);
    * missing pixels become NaN.
    */
  def pixelsToTiles(pixels: Dataset[Pixel], gm: GridMapping): Dataset[Tile] = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val tw = gm.tileWidth; val th = gm.tileHeight
    val width = gm.width; val height = gm.height
    pixels
      .filter(col("i") >= 0 && col("i") < width && col("j") >= 0 && col("j") < height)
      .groupByKey(p => (p.varName, p.band, p.j / th, p.i / tw))
      .mapGroups { (key: (String, Int, Int, Int), ps: Iterator[Pixel]) =>
        val (v, b, tj, ti) = key
        val h = math.min(th, height - tj * th)
        val w = math.min(tw, width - ti * tw)
        val data = Array.fill(h * w)(Double.NaN)
        ps.foreach { p => data((p.j - tj * th) * w + (p.i - ti * tw)) = p.value }
        Tile(v, b, tj, ti, h, w, data)
      }
  }

  /** Tile table -> pixel table. Narrow (no shuffle). */
  def tilesToPixels(tiles: Dataset[Tile], gm: GridMapping): Dataset[Pixel] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val tw = gm.tileWidth; val th = gm.tileHeight
    tiles.flatMap { t =>
      val out = new Array[Pixel](t.h * t.w)
      var k = 0
      var j = 0
      while (j < t.h) {
        var i = 0
        while (i < t.w) {
          out(k) = Pixel(t.varName, t.band, t.tj * th + j, t.ti * tw + i, t.data(j * t.w + i))
          k += 1; i += 1
        }
        j += 1
      }
      out.toSeq
    }
  }

  /** Pixel Dataset -> oracle-friendly DataFrame: NaN -> null, stable
    * column names, deterministic ordering left to the harness.
    */
  def pixelsToOracleDf(pixels: Dataset[Pixel]): DataFrame = {
    pixels.toDF("var", "band", "j", "i", "value")
      .withColumn("value", when(isnan(col("value")), lit(null)).otherwise(col("value")))
  }

  /** Build a single-band pixel Dataset from a DataFrame with (j, i,
    * value) columns (value nullable -> NaN).
    */
  def pixelsFromDf(df: DataFrame, varName: String = "v"): Dataset[Pixel] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        lit(varName).as("varName"), lit(0).as("band"),
        col("j").cast("int"), col("i").cast("int"),
        coalesce(col("value").cast("double"), lit(Double.NaN)).as("value"))
      .as[Pixel]
  }

  /** Join band metadata (time coordinates) back onto an operator's
    * output tiles — a broadcast join on (varName, band); bands are
    * passthrough keys in every spatial operator
    * (reference: reproject.py:189-265 iterates leading-dim chunks
    * without touching their coordinate).
    */
  def attachBandMeta(tiles: Dataset[Tile], meta: Dataset[BandMeta]): DataFrame =
    tiles.toDF().join(
      broadcast(meta.toDF().withColumnRenamed("time", "band_time")),
      Seq("varName", "band"), "left")
}
