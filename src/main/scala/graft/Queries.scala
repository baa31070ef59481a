package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{Crs, GridMapping}
import graft.kernel.{Interp, Reducers}
import graft.model.{Policies, Raster}
import graft.model.Policies.{F64, VarPolicy}
import graft.ops.{AffineOp, CoarsenOp, SpatialOps}

/** Harness queries: every operator from SURVEY.md §2 exercised against
  * the driver-generated testdata, each paired with equivalent DuckDB
  * SQL in [[Queries.oracles]].
  *
  * Raster operators run on a deterministic 32x32 pixel grid derived
  * from `lineitem` (cell value = sum of l_quantity for the rows
  * hashing to the cell), densified so window semantics are exact; a
  * second variant carries a deterministic null pattern (at most one
  * null per 2x2 window) to exercise the NaN-skipping float semantics.
  * The engine side runs the REAL tile kernels (pixelsToTiles ->
  * kernel -> tilesToPixels); the oracle recomputes the math in pure
  * SQL.
  */
object Queries {

  val W = 32
  // source grid: 32x32, tile 16 -> 4 tiles; geographic, x 50..53.2, y 56.8..60
  val gmSrc: GridMapping =
    GridMapping.regular(W, W, 50.0, 56.8, 0.1, 0.1, Crs.Geographic, Some((16, 16)))
  // 2x upscale target: 64x64 @ 0.05, origin shifted by a quarter source
  // pixel so nearest samples never land exactly on .5 index boundaries
  // (where 1-ulp noise in the composed affine would flip the rounding)
  val gmUp: GridMapping =
    GridMapping.regular(2 * W, 2 * W, 50.025, 56.775, 0.05, 0.05, Crs.Geographic, Some((16, 16)))
  // 16x16 subset shifted by +8 src pixels
  val gmShift: GridMapping =
    GridMapping.regular(16, 16, 50.8, 57.6, 0.1, 0.1, Crs.Geographic, Some((16, 16)))
  // 2x downscale target: 16x16 @ 0.2
  val gmDown: GridMapping =
    GridMapping.regular(16, 16, 50.0, 56.8, 0.2, 0.2, Crs.Geographic, Some((8, 8)))
  // reproject target: same (geographic) CRS, finer res 0.04, origin
  // offset so fractional source indices never land on .5 rounding
  // boundaries (frac cycle {.05,.45,.85,.25,.65}), and sized to overrun
  // the source on the right/bottom so the fill path is exercised
  val gmReproj: GridMapping =
    GridMapping.regular(80, 80, 50.035, 59.985 - 80 * 0.04, 0.04, 0.04,
      Crs.Geographic, Some((16, 16)))
  // rectify target for the synthetic rotated swath
  val gmRectify: GridMapping =
    GridMapping.regular(W, W, 49.5, 56.0, 0.1, 0.1, Crs.Geographic, Some((16, 16)))
  // the same swath/target pair translated +128.8 degrees so the swath
  // CROSSES the antimeridian (lon ~178.5..182): identical geometry in
  // index space, so every fp margin of the 50-degree fixture carries
  // over; the target lives in lon-360 space (xMax > 180 => isLon360)
  val AntiLonShift = 128.8
  val gmSrcAnti: GridMapping =
    GridMapping.regular(W, W, 50.0 + AntiLonShift, 56.8, 0.1, 0.1,
      Crs.Geographic, Some((16, 16)))
  val gmRectifyAnti: GridMapping =
    GridMapping.regular(W, W, 49.5 + AntiLonShift, 56.0, 0.1, 0.1,
      Crs.Geographic, Some((16, 16)))
  // inset 12x12 rectify target for the INTERPOLATING gathers: origin
  // chosen (numerically searched) so every accepted pixel's fractional
  // source index stays >= 8.4e-3 from an integer and the triangular
  // u+v split >= 5.0e-3 from 1 — no UV_DELTA clamping, no first-writer
  // ambiguity, and the rasterized lookup equals the closed-form inverse
  // rotation to < 6e-14, making the blend SQL-reproducible
  val gmRectifyInt: GridMapping =
    GridMapping.regular(12, 12, 50.3901, 58.8539 - 12 * 0.1, 0.1, 0.1,
      Crs.Geographic, Some((16, 16)))

  // ---------------------------------------------------------------- grids

  def lineitem(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")

  // The raster queries all derive from the same tiny dense grid; cache
  // it (and its tile form) per sfDir so a multi-query run (Verify/
  // Bench) scans lineitem once instead of 20+ times. The cache holds
  // 1024-row DataFrames — negligible memory, large bench win.
  private val gridCache = new graft.model.Memo[(String, String), DataFrame]
  private val tileCache =
    new graft.model.Memo[(String, String), org.apache.spark.sql.Dataset[graft.model.Tile]]
  private val rectifyInputCache = new graft.model.Memo[(String, Boolean),
    (org.apache.spark.sql.Dataset[graft.model.Tile], org.apache.spark.sql.Dataset[graft.model.Tile])]

  /** Dense 32x32 grid; missing cells -> 0.0. */
  def grid0(s: SparkSession, dir: String): DataFrame =
    gridCache((dir, "grid0")) {
      val agg = lineitem(s, dir)
        .groupBy((col("l_orderkey") % W).as("j"), (col("l_partkey") % W).as("i"))
        .agg(sum(col("l_quantity")).as("v"))
      val cells = s.range(W.toLong * W)
        .select((col("id") / W).cast("long").as("j"), (col("id") % W).as("i"))
      cells.join(agg, Seq("j", "i"), "left")
        .select(col("j"), col("i"), coalesce(col("v"), lit(0.0)).as("value"))
        .persist()
    }

  /** Cached tile form of grid0/gridN on gmSrc. */
  def gridTiles(s: SparkSession, dir: String, useNullGrid: Boolean): org.apache.spark.sql.Dataset[graft.model.Tile] =
    tileCache((dir, if (useNullGrid) "n" else "0")) {
      val g = if (useNullGrid) gridN(s, dir) else grid0(s, dir)
      Raster.pixelsToTiles(Raster.pixelsFromDf(g), gmSrc).persist()
    }

  /** Dense grid with a deterministic null pattern: (j*31+i)%17==0.
    * Window offsets {0,1,31,32} are distinct mod 17, so a 2x2 window
    * never holds more than one null.
    */
  def gridN(s: SparkSession, dir: String): DataFrame =
    grid0(s, dir).select(col("j"), col("i"),
      when((col("j") * 31 + col("i")) % 17 === 0, lit(null)).otherwise(col("value")).as("value"))

  val sqlGrid0: String =
    s"""WITH agg AS (
       |  SELECT l_orderkey % $W AS j, l_partkey % $W AS i, SUM(l_quantity) AS v
       |  FROM lineitem GROUP BY 1, 2
       |), cells AS (
       |  SELECT r // $W AS j, r % $W AS i FROM range(0, ${W * W}) t(r)
       |), grid0 AS (
       |  SELECT c.j, c.i, COALESCE(a.v, 0.0) AS value
       |  FROM cells c LEFT JOIN agg a ON a.j = c.j AND a.i = c.i
       |)""".stripMargin

  val sqlGridN: String =
    s"""$sqlGrid0, gridn AS (
       |  SELECT j, i, CASE WHEN (j*31+i) % 17 = 0 THEN NULL ELSE value END AS value
       |  FROM grid0
       |)""".stripMargin

  // ------------------------------------------------------------- helpers

  /** Run one coarsen reducer through the real tile kernel path. */
  private def coarsenKernel(
      s: SparkSession, dir: String, method: Reducers.Method, useNullGrid: Boolean,
      roundDigits: Option[Int]): DataFrame = {
    val tiles = gridTiles(s, dir, useNullGrid)
    val out = CoarsenOp.coarsenTiles(tiles, 2, 2, _ => (method, false))
    val gmOut = gmSrc.scale(0.5, 0.5).derive(tileSize = Some((8, 8)))
    val pxOut = Raster.tilesToPixels(out, gmOut)
    val df = Raster.pixelsToOracleDf(pxOut)
      .select(col("j").cast("long"), col("i").cast("long"), col("value"))
    roundDigits.fold(df)(d => df.withColumn("value", round(col("value"), d)))
  }

  private def sqlRound(e: String, d: Option[Int]): String =
    d.fold(e)(n => s"ROUND($e, $n)")

  /** Oracle SQL for one coarsen reducer (div 2x2). */
  private def coarsenSql(method: Reducers.Method, useNullGrid: Boolean,
      roundDigits: Option[Int]): String = {
    val src = if (useNullGrid) "gridn" else "grid0"
    val cte = if (useNullGrid) sqlGridN else sqlGrid0
    import Reducers._
    val body = method match {
      case Center =>
        s"SELECT j // 2 AS j, i // 2 AS i, value FROM $src WHERE j % 2 = 1 AND i % 2 = 1"
      case First =>
        s"SELECT j // 2 AS j, i // 2 AS i, value FROM $src WHERE j % 2 = 0 AND i % 2 = 0"
      case Last =>
        s"SELECT j // 2 AS j, i // 2 AS i, value FROM $src WHERE j % 2 = 1 AND i % 2 = 1"
      case Mode =>
        s"""SELECT j, i, value FROM (
           |  SELECT j, i, value,
           |         ROW_NUMBER() OVER (PARTITION BY j, i ORDER BY cnt DESC, value ASC) AS rn
           |  FROM (SELECT j // 2 AS j, i // 2 AS i, value, COUNT(*) AS cnt
           |        FROM $src GROUP BY 1, 2, 3)
           |) WHERE rn = 1""".stripMargin
      case _ =>
        val agg = method match {
          case Count => "CAST(SUM(CASE WHEN value <> 0 THEN 1 ELSE 0 END) AS DOUBLE)"
          case Max => "MAX(value)"
          case Mean => "AVG(value)"
          case Median => "QUANTILE_CONT(value, 0.5)"
          case Min => "MIN(value)"
          case Prod => "PRODUCT(value)"
          case Std => "STDDEV_POP(value)"
          case Sum => "SUM(value)"
          case Var => "VAR_POP(value)"
          case other => throw new IllegalArgumentException(other.name)
        }
        s"SELECT j // 2 AS j, i // 2 AS i, ${sqlRound(agg, roundDigits)} AS value FROM $src GROUP BY 1, 2"
    }
    s"$cte SELECT * FROM ($body) ORDER BY j, i"
  }

  /** Which grid + rounding each reducer query uses. Float NaN-skip
    * reducers run on the null grid; positional/categorical ones on the
    * dense grid (NaN-in-window semantics for those are covered by the
    * golden ScalaTests, not the SQL oracle).
    */
  private val coarsenConfigs: Seq[(Reducers.Method, Boolean, Option[Int])] = Seq(
    (Reducers.Mean, true, Some(6)), (Reducers.Sum, true, Some(6)),
    (Reducers.Min, true, None), (Reducers.Max, true, None),
    (Reducers.Median, true, Some(6)), (Reducers.Std, true, Some(6)),
    (Reducers.Var, true, Some(6)),
    (Reducers.Count, false, None), (Reducers.Center, false, None),
    (Reducers.First, false, None), (Reducers.Last, false, None),
    // prod: values are exact integral doubles; ROUND(,6) would LOSE
    // precision in DuckDB (x*1e6 > 2^53) -> compare unrounded
    (Reducers.Mode, false, None), (Reducers.Prod, false, None))

  // ------------------------------------------------------- affine family

  private def affineQuery(s: SparkSession, dir: String, dstGm: GridMapping,
      interp: Int, agg: Reducers.Method, useNullGrid: Boolean = false,
      recoverNan: Boolean = false): DataFrame = {
    val tiles = gridTiles(s, dir, useNullGrid)
    val pol = Map("v" -> VarPolicy(interp, agg, recoverNan, fill = 0.0, dtype = F64))
    val out = AffineOp.affineTransform(tiles, gmSrc, dstGm, pol)
    Raster.pixelsToOracleDf(Raster.tilesToPixels(out, dstGm))
      .select(col("j").cast("long"), col("i").cast("long"),
        round(col("value"), 6).as("value"))
  }

  /** The cached synthetic-swath rectify inputs (data + rotated 2D coord
    * tiles) for one sfDir — staged once per dir (like gridTiles) so the
    * bench times the rectify pipeline, not input staging.
    *
    * The antimeridian variant shifts the swath by [[AntiLonShift]],
    * STORES the lons signed (178.5 stays, 181.2 becomes -178.8 — the
    * [-180, 180] convention swath products ship in), and re-normalizes
    * through the engine's [[SpatialOps.toLon360]] before rectifying
    * onto the lon-360 target. Both hops are bit-exact for |lon| in
    * [128, 256) (360 is a multiple of that binade's ulp), so the
    * oracle replays them verbatim.
    */
  private def rectifyInputs(s: SparkSession, dir: String, anti: Boolean = false)
      : (org.apache.spark.sql.Dataset[graft.model.Tile], org.apache.spark.sql.Dataset[graft.model.Tile]) =
    rectifyInputCache((dir, anti)) {
      val irr = (if (anti) gmSrcAnti else gmSrc).copy(isRegular = false)
      val px = Raster.pixelsFromDf(grid0(s, dir))
      val ang = 0.1
      val cosA = math.cos(ang); val sinA = math.sin(ang)
      val lon0 = if (anti) 50.0 + AntiLonShift else 50.0
      val x360 = lit(lon0) + (col("i") + 0.5) * cosA * 0.1 - (col("j") + 0.5) * sinA * 0.1
      val xSigned = when(x360 > 180.0, x360 - 360.0).otherwise(x360)
      val xCol = if (anti) SpatialOps.toLon360(xSigned) else x360
      val coordPx = coordsDf(s).select(
        col("j").cast("int"), col("i").cast("int"),
        xCol.as("x"),
        (lit(60.0) - (col("j") + 0.5) * cosA * 0.1 - (col("i") + 0.5) * sinA * 0.1).as("y"))
      import s.implicits._
      // both coord images through ONE pixelsToTiles shuffle
      val coords = Raster.pixelsToTiles(
        coordPx.select(lit("x").as("varName"), lit(0).as("band"), col("j"), col("i"),
            col("x").as("value"))
          .union(coordPx.select(lit("y").as("varName"), lit(0).as("band"), col("j"), col("i"),
            col("y").as("value")))
          .as[graft.model.Pixel], irr)
      (Raster.pixelsToTiles(px, irr).persist(), coords.persist())
    }

  /** Eagerly stage every per-dir harness cache (dense grids, tile
    * forms, rectify swath inputs) OUTSIDE any timed region, so bench
    * timings measure operators rather than fixture staging.
    */
  def prewarm(s: SparkSession, dir: String): Unit = {
    gridTiles(s, dir, useNullGrid = false).count()
    gridTiles(s, dir, useNullGrid = true).count()
    val (dataTiles, coordTiles) = rectifyInputs(s, dir)
    dataTiles.count(); coordTiles.count()
    val (dataAnti, coordAnti) = rectifyInputs(s, dir, anti = true)
    dataAnti.count(); coordAnti.count()
  }

  /** Synthetic-swath rectify through the real pipeline: 32x32 grid with
    * slightly rotated 2D lon/lat coordinate images, rectified onto a
    * regular target; oracle = closed-form inverse rotation.
    */
  private def rectifyQuery(
      s: SparkSession, dir: String, interp: Int, dstGm: GridMapping,
      roundDigits: Int, anti: Boolean = false): DataFrame = {
    val irr = (if (anti) gmSrcAnti else gmSrc).copy(isRegular = false)
    val (dataTiles, coordTilesBoth) = rectifyInputs(s, dir, anti)
    // equal res (scale 1.0) so the bench measures the rasterize +
    // gather pipeline, not the (separately golden-tested) prepass
    val pol = Map("v" -> VarPolicy(interp, Reducers.Mean, false, Double.NaN, F64))
    val out = graft.ops.RectifyOp.rectify(dataTiles, coordTilesBoth, irr, dstGm, pol)
    Raster.pixelsToOracleDf(Raster.tilesToPixels(out, dstGm))
      .filter(col("value").isNotNull)
      .select(col("j").cast("long"), col("i").cast("long"),
        round(col("value"), roundDigits).as("value"))
  }

  /** Full reproject pipeline (plan, gather shuffle, kernel, fill) on
    * the geographic pair; out-of-coverage NaN rows are dropped (the
    * oracle's inner joins drop the same rows).
    */
  private def reprojectQuery(
      s: SparkSession, dir: String, interp: Int,
      srcJUp: Boolean = false, dstJUp: Boolean = false): DataFrame = {
    val tiles = gridTiles(s, dir, useNullGrid = false)
    val src = if (srcJUp) gmSrc.copy(isJAxisUp = true) else gmSrc
    val dst = if (dstJUp) gmReproj.copy(isJAxisUp = true) else gmReproj
    val pol = Map("v" -> VarPolicy(interp, Reducers.Mean, false, Double.NaN, F64))
    val out = graft.ops.ReprojectOp.reproject(tiles, src, dst, pol)
    Raster.pixelsToOracleDf(Raster.tilesToPixels(out, dst))
      .filter(col("value").isNotNull)
      .select(col("j").cast("long"), col("i").cast("long"), round(col("value"), 6).as("value"))
  }

  // dst index -> src index for the three affine targets (edge-affine
  // convention: src = (dstMin - srcMin)/srcRes + dst * dstRes/srcRes)
  //   upscale 2x: src = 0.5*dst ; shift: src = dst + 8 ; down 2x: src = 2*dst

  private val sqlUpNearest: String =
    s"""$sqlGrid0, cells2 AS (
       |  SELECT r // ${2 * W} AS j, r % ${2 * W} AS i FROM range(0, ${4 * W * W}) t(r)
       |)
       |SELECT c.j, c.i, ROUND(COALESCE(g.value, 0.0), 6) AS value
       |FROM cells2 c
       |LEFT JOIN grid0 g
       |  ON g.j = CAST(FLOOR(0.5 * c.j + 0.25 + 0.5) AS BIGINT)
       | AND g.i = CAST(FLOOR(0.5 * c.i + 0.25 + 0.5) AS BIGINT)
       |ORDER BY c.j, c.i""".stripMargin

  private val sqlUpBilinear: String =
    s"""$sqlGrid0, cells2 AS (
       |  SELECT r // ${2 * W} AS j, r % ${2 * W} AS i FROM range(0, ${4 * W * W}) t(r)
       |), f AS (
       |  SELECT j, i,
       |         CAST(FLOOR(0.5 * i + 0.25) AS BIGINT) AS i0, 0.5 * i + 0.25 - FLOOR(0.5 * i + 0.25) AS u,
       |         CAST(FLOOR(0.5 * j + 0.25) AS BIGINT) AS j0, 0.5 * j + 0.25 - FLOOR(0.5 * j + 0.25) AS v
       |  FROM cells2
       |)
       |SELECT f.j, f.i,
       |       ROUND(
       |         (COALESCE(g00.value, 0.0) + f.u * (COALESCE(g01.value, 0.0) - COALESCE(g00.value, 0.0)))
       |         + f.v * ((COALESCE(g10.value, 0.0) + f.u * (COALESCE(g11.value, 0.0) - COALESCE(g10.value, 0.0)))
       |                  - (COALESCE(g00.value, 0.0) + f.u * (COALESCE(g01.value, 0.0) - COALESCE(g00.value, 0.0)))), 6) AS value
       |FROM f
       |LEFT JOIN grid0 g00 ON g00.j = f.j0     AND g00.i = f.i0
       |LEFT JOIN grid0 g01 ON g01.j = f.j0     AND g01.i = f.i0 + 1
       |LEFT JOIN grid0 g10 ON g10.j = f.j0 + 1 AND g10.i = f.i0
       |LEFT JOIN grid0 g11 ON g11.j = f.j0 + 1 AND g11.i = f.i0 + 1
       |ORDER BY f.j, f.i""".stripMargin

  private val sqlShift: String =
    s"""$sqlGrid0, cells16 AS (
       |  SELECT r // 16 AS j, r % 16 AS i FROM range(0, 256) t(r)
       |)
       |SELECT c.j, c.i, ROUND(COALESCE(g.value, 0.0), 6) AS value
       |FROM cells16 c
       |LEFT JOIN grid0 g ON g.j = c.j + 8 AND g.i = c.i + 8
       |ORDER BY c.j, c.i""".stripMargin

  private val sqlDownMean: String =
    s"""$sqlGrid0
       |SELECT j // 2 AS j, i // 2 AS i, ROUND(AVG(value), 6) AS value
       |FROM grid0 GROUP BY 1, 2 ORDER BY j, i""".stripMargin

  // ------------------------------------------------- clip / bbox / select

  /** Coordinate pixel table of gmSrc: (j, i, x, y). */
  private def coordsDf(s: SparkSession): DataFrame =
    s.range(W.toLong * W).select(
      (col("id") / W).cast("long").as("j"), (col("id") % W).as("i"))
      .select(col("j"), col("i"),
        (lit(gmSrc.xMin) + (col("i") + 0.5) * gmSrc.xRes).as("x"),
        (lit(gmSrc.yMax) - (col("j") + 0.5) * gmSrc.yRes).as("y"))

  private val sqlCoords: String =
    s"""coords AS (
       |  SELECT r // $W AS j, r % $W AS i,
       |         ${gmSrc.xMin} + (r % $W + 0.5) * ${gmSrc.xRes} AS x,
       |         ${gmSrc.yMax} - (r // $W + 0.5) * ${gmSrc.yRes} AS y
       |  FROM range(0, ${W * W}) t(r)
       |)""".stripMargin

  // ---------------------------------------------------------- public map

  def all: Map[String, (SparkSession, String) => DataFrame] = {
    val coarsenQs = coarsenConfigs.map { case (m, useN, rd) =>
      s"q_coarsen_${m.name}" -> ((s: SparkSession, dir: String) => coarsenKernel(s, dir, m, useN, rd))
    }.toMap

    coarsenQs ++ Map[String, (SparkSession, String) => DataFrame](
      "q_affine_upscale_nearest" -> ((s, dir) =>
        affineQuery(s, dir, gmUp, Interp.NEAREST, Reducers.Mean)),
      "q_affine_upscale_bilinear" -> ((s, dir) =>
        affineQuery(s, dir, gmUp, Interp.BILINEAR, Reducers.Mean)),
      "q_affine_subset_shift" -> ((s, dir) =>
        affineQuery(s, dir, gmShift, Interp.NEAREST, Reducers.Mean)),
      "q_affine_downscale_mean" -> ((s, dir) =>
        affineQuery(s, dir, gmDown, Interp.BILINEAR, Reducers.Mean)),
      "q_clip_bbox" -> ((s, dir) => {
        val px = Raster.pixelsFromDf(gridN(s, dir))
        val clipped = SpatialOps.clipPixelsByBbox(px, gmSrc, 50.5, 57.5, 51.5, 58.5)
        Raster.pixelsToOracleDf(clipped)
          .select(col("j").cast("long"), col("i").cast("long"), col("value"))
      }),
      // temporal compositing: 12-band time stack (band = l_suppkey %
      // 12) reduced in 3-band buckets, deterministic null pattern
      // exercising the NaN-skip; per-band sums are integer-valued
      // doubles, so every aggregate is bit-stable across engines
      "q_temporal_composite" -> ((s, dir) => {
        val li = lineitem(s, dir)
        val stack = li.select(lit("v").as("varName"),
            (col("l_suppkey") % 12).cast("int").as("band"),
            (col("l_orderkey") % W).cast("int").as("j"),
            (col("l_partkey") % W).cast("int").as("i"),
            col("l_quantity").as("value"))
          .groupBy(col("varName"), col("band"), col("j"), col("i"))
          .agg(sum(col("value")).as("value"))
          .select(col("varName"), col("band"), col("j"), col("i"),
            when((col("band") * 31 + col("j") * 7 + col("i")) % 23 === 0, lit(null))
              .otherwise(col("value")).as("value"))
        graft.ops.TemporalOp.compositeStats(stack, bucket = 3)
          .select(col("bucket"), col("j").cast("long"), col("i").cast("long"),
            col("n_obs"), col("mean_v"), col("min_v"), col("max_v"))
      }),
      // zonal statistics over the null grid: 3 bboxes (one partially
      // off-grid, one overlapping another), NaN cells skipped
      "q_zonal_stats" -> ((s, dir) => {
        val px = Raster.pixelsFromDf(gridN(s, dir))
        SpatialOps.zonalStats(px, gmSrc, Seq(
          (0L, (50.2, 57.0, 51.0, 58.0)),
          (1L, (51.0, 57.5, 52.4, 59.9)),
          (2L, (49.0, 56.0, 50.4, 57.2))))
      }),
      "q_select_vars" -> ((s, dir) => {
        val li = lineitem(s, dir)
        val px = li.select(col("l_returnflag").as("varName"), lit(0).as("band"),
            (col("l_orderkey") % W).cast("int").as("j"),
            (col("l_partkey") % W).cast("int").as("i"),
            col("l_quantity").as("value"))
          .groupBy("varName", "band", "j", "i").agg(sum("value").as("value"))
        import s.implicits._
        val ds = px.as[graft.model.Pixel]
        SpatialOps.selectVariables(ds, Seq("A", "R")).toDF()
          .select(col("varName").as("var"), col("j").cast("long"), col("i").cast("long"), col("value"))
      }),
      "q_ij_bbox_from_xy_bbox" -> ((s, _) =>
        SpatialOps.ijBboxFromCoords(coordsDf(s), 50.5, 57.5, 51.5, 58.5)),
      "q_resample_identity" -> ((s, dir) => {
        // dispatcher identity elision: is_close target -> input unchanged
        val tiles = gridTiles(s, dir, useNullGrid = true)
        val pol = Map("v" -> VarPolicy(Interp.BILINEAR, Reducers.Mean, false, Double.NaN, F64))
        val (out, gmOut) = graft.ops.ResampleInSpace(tiles, None, gmSrc, Some(gmSrc), pol)
        Raster.pixelsToOracleDf(Raster.tilesToPixels(out, gmOut))
          .select(col("j").cast("long"), col("i").cast("long"), col("value"))
      }),
      // geographic -> geographic: the identity CRS transform makes the
      // FULL reproject pipeline (plan, window-alignment shuffle,
      // per-tile kernel, out-of-coverage fill) expressible as SQL.
      // The projected-CRS math (UTM32 -> LAEA3035) is covered by the
      // ReprojectGoldenSpec pyproj-parity goldens.
      "q_reproject_nearest" -> ((s, dir) => reprojectQuery(s, dir, Interp.NEAREST)),
      "q_reproject_bilinear" -> ((s, dir) => reprojectQuery(s, dir, Interp.BILINEAR)),
      // the float-default method chain's triangular kernel
      // (reproject.py:285-314): same stencil as bilinear, two-triangle
      // blend split on u+v<1. The frac cycle keeps u+v >= 0.1 from the
      // split boundary, and its NaN-set equals bilinear's (both
      // branches read v01 and v10; the extra corner can only be
      // out-of-extent when one of those already is), so the oracle's
      // 4-way inner join drops exactly the fill rows
      "q_reproject_triangular" -> ((s, dir) => reprojectQuery(s, dir, Interp.TRIANGULAR)),
      // j-axis-up on BOTH sides: source tiles flip through
      // RasterOps.flipJ (normalize), target rows scan bottom-up through
      // the kernel's jUp branch
      "q_reproject_jup" -> ((s, dir) =>
        reprojectQuery(s, dir, Interp.NEAREST, srcJUp = true, dstJUp = true)),
      // scipy-style 3-pass NaN recovery on the null grid: warp the
      // zero-filled image and the inverted NaN mask with the same
      // bilinear weights, renormalize, NaN where the norm ~ 0
      "q_affine_nanrec" -> ((s, dir) =>
        affineQuery(s, dir, gmUp, Interp.BILINEAR, Reducers.Mean,
          useNullGrid = true, recoverNan = true)),
      "q_rectify_nearest" -> ((s, dir) => rectifyQuery(s, dir, Interp.NEAREST, gmRectify, 6)),
      // dateline-crossing swath: signed lons normalized to [0, 360)
      // through SpatialOps.toLon360, rectified onto a lon-360 target
      // (coords.py:144-149 semantics); geometry identical to
      // q_rectify_nearest in index space
      "q_rectify_antimeridian" -> ((s, dir) =>
        rectifyQuery(s, dir, Interp.NEAREST, gmRectifyAnti, 6, anti = true)),
      // interpolating gathers on the inset target (see gmRectifyInt):
      // the rasterized lookup is fp-noisy (~1e-13 vs the closed form),
      // so these round to 4 digits — measured >= 8e-8 absolute margin
      // to every rounding boundary at all three SFs
      "q_rectify_bilinear" -> ((s, dir) => rectifyQuery(s, dir, Interp.BILINEAR, gmRectifyInt, 4)),
      "q_rectify_triangular" -> ((s, dir) => rectifyQuery(s, dir, Interp.TRIANGULAR, gmRectifyInt, 4)),
      "q_gm_to_coords" -> ((s, _) =>
        graft.geom.GridMappingInference.toCoordsDf(s, gmSrc)),
      "q_xy_bbox" -> ((s, _) => {
        val df = SpatialOps.computeXyBbox(coordsDf(s))
        df.select(round(col("x_min"), 6).as("x_min"), round(col("y_min"), 6).as("y_min"),
          round(col("x_max"), 6).as("x_max"), round(col("y_max"), 6).as("y_max"))
      })
    )
  }

  /** Interpolate a Scala Double into SQL bit-exactly: Double.toString
    * round-trips, and the string->DOUBLE cast parses to the nearest
    * double — the same bits the JVM kernel used. Plain numeric literals
    * would be DuckDB DECIMALs with different arithmetic.
    */
  private def d(v: Double): String = s"'$v'::DOUBLE"

  /** Oracle for the geographic->geographic reproject: the kernel maps
    * each target pixel center through the (identity) CRS transform to
    * fractional source indices and samples nearest (rint); out-of-range
    * indices fall out of the join = the NaN-fill path. Arithmetic
    * mirrors ReprojectOp's kernel expression-for-expression.
    */
  private def sqlReprojectNearest: String = {
    val g = gmReproj
    s"""$sqlGrid0, tcells AS (
       |  SELECT r // ${g.width} AS j, r % ${g.width} AS i
       |  FROM range(0, ${g.width * g.height}) t(r)
       |), f AS (
       |  SELECT j, i,
       |    ((${d(g.xMin)} + (i + 0.5) * ${d(g.xRes)}) - ${d(gmSrc.xMin)}) / ${d(gmSrc.xRes)} - 0.5 AS fi,
       |    (${d(gmSrc.yMax)} - (${d(g.yMax)} - (j + 0.5) * ${d(g.yRes)})) / ${d(gmSrc.yRes)} - 0.5 AS fj
       |  FROM tcells
       |)
       |SELECT f.j, f.i, ROUND(g.value, 6) AS value
       |FROM f JOIN grid0 g
       |  ON g.i = CAST(ROUND(fi) AS BIGINT) AND g.j = CAST(ROUND(fj) AS BIGINT)
       |ORDER BY f.j, f.i""".stripMargin
  }

  /** Oracle for the synthetic-swath rectify: the swath coords are a
    * rotation of pixel-center index space, so the triangle rasterizer's
    * barycentric lookup reduces to the closed-form inverse rotation;
    * acceptance is the UV_DELTA-grown swath extent and nearest sampling
    * is the kernel's `frac > 0.5` step. Margins verified: every target
    * center is >= 4e-5 from a 0.5-rounding boundary and >= 9e-3 from
    * the acceptance boundary, far beyond fp noise.
    *
    * The antimeridian variant's engine side stores the SOURCE coords
    * signed and re-normalizes via toLon360 — a subtract/add of 360
    * that is bit-exact for |lon| in [128, 256) (360 is a multiple of
    * that binade's ulp), so the lon-360 coords equal the direct
    * closed form and the oracle is simply the rotation inverse
    * translated by [[AntiLonShift]]; every index-space margin above
    * carries over unchanged.
    */
  private def sqlRectifyNearest(anti: Boolean = false): String = {
    val ang = 0.1
    val c = math.cos(ang); val s = math.sin(ang)
    val dst = if (anti) gmRectifyAnti else gmRectify
    val lon0 = if (anti) 50.0 + AntiLonShift else 50.0
    val xNorm = s"(${d(dst.xMin)} + (i + 0.5) * ${d(dst.xRes)})"
    s"""$sqlGrid0, tcells AS (
       |  SELECT r // ${dst.width} AS j, r % ${dst.width} AS i
       |  FROM range(0, ${dst.width * dst.height}) t(r)
       |), f AS (
       |  SELECT j, i,
       |    ${d(c)} * (($xNorm - ${d(lon0)}) / 0.1)
       |      + ${d(s)} * ((60.0 - (${d(dst.yMax)} - (j + 0.5) * ${d(dst.yRes)})) / 0.1) - 0.5 AS fi,
       |    -${d(s)} * (($xNorm - ${d(lon0)}) / 0.1)
       |      + ${d(c)} * ((60.0 - (${d(dst.yMax)} - (j + 0.5) * ${d(dst.yRes)})) / 0.1) - 0.5 AS fj
       |  FROM tcells
       |), hit AS (
       |  SELECT j, i,
       |    CAST(FLOOR(fi) AS BIGINT) + CASE WHEN fi - FLOOR(fi) > 0.5 THEN 1 ELSE 0 END AS si,
       |    CAST(FLOOR(fj) AS BIGINT) + CASE WHEN fj - FLOOR(fj) > 0.5 THEN 1 ELSE 0 END AS sj
       |  FROM f
       |  WHERE fi >= -0.001 AND fi <= ${W - 1} + 0.002
       |    AND fj >= -0.001 AND fj <= ${W - 1} + 0.002
       |)
       |SELECT h.j, h.i, ROUND(g.value, 6) AS value
       |FROM hit h JOIN grid0 g ON g.i = h.si AND g.j = h.sj
       |ORDER BY h.j, h.i""".stripMargin
  }

  /** Oracle for the interpolating reprojects: same fractional-index
    * mapping as the nearest oracle, then the kernel's exact blend —
    * bilinear's 4-neighbor `vu0 + v*(vu1 - vu0)` (reproject.py:315-328)
    * or triangular's two-triangle split on `u + v < 1`
    * (reproject.py:285-314) — mirrored operation-for-operation so the
    * doubles are bit-identical before ROUND. Fractional parts cycle
    * {.05,.25,.45,.65,.85} — never 0, and pairwise sums stay >= 0.1
    * from 1 — so the kernel's floor/ceil stencil is always (i0, i0+1)
    * and the triangle split is fp-stable. A NaN fill (any stencil
    * neighbor out of extent) maps to the inner joins dropping the row;
    * for triangular this is exact because both branches read v01 and
    * v10, whose extent membership implies the remaining corner's.
    */
  private def sqlReprojectInterp(bilinear: Boolean): String = {
    val g = gmReproj
    val body =
      if (bilinear)
        """(g00.value + u * (g01.value - g00.value))
          |    + v * ((g10.value + u * (g11.value - g10.value))
          |           - (g00.value + u * (g01.value - g00.value)))""".stripMargin
      else
        """CASE WHEN u + v < 1.0
          |    THEN g00.value + u * (g01.value - g00.value) + v * (g10.value - g00.value)
          |    ELSE g11.value + (1.0 - u) * (g10.value - g11.value) + (1.0 - v) * (g01.value - g11.value)
          |    END""".stripMargin
    s"""$sqlGrid0, tcells AS (
       |  SELECT r // ${g.width} AS j, r % ${g.width} AS i
       |  FROM range(0, ${g.width * g.height}) t(r)
       |), f AS (
       |  SELECT j, i,
       |    ((${d(g.xMin)} + (i + 0.5) * ${d(g.xRes)}) - ${d(gmSrc.xMin)}) / ${d(gmSrc.xRes)} - 0.5 AS fi,
       |    (${d(gmSrc.yMax)} - (${d(g.yMax)} - (j + 0.5) * ${d(g.yRes)})) / ${d(gmSrc.yRes)} - 0.5 AS fj
       |  FROM tcells
       |), b AS (
       |  SELECT j, i, CAST(FLOOR(fi) AS BIGINT) AS i0, CAST(FLOOR(fj) AS BIGINT) AS j0,
       |         fi - FLOOR(fi) AS u, fj - FLOOR(fj) AS v
       |  FROM f
       |)
       |SELECT b.j, b.i,
       |  ROUND($body, 6) AS value
       |FROM b
       |JOIN grid0 g00 ON g00.j = b.j0     AND g00.i = b.i0
       |JOIN grid0 g01 ON g01.j = b.j0     AND g01.i = b.i0 + 1
       |JOIN grid0 g10 ON g10.j = b.j0 + 1 AND g10.i = b.i0
       |JOIN grid0 g11 ON g11.j = b.j0 + 1 AND g11.i = b.i0 + 1
       |ORDER BY b.j, b.i""".stripMargin
  }

  /** Oracle for the j-axis-up reproject (nearest): the j-up SOURCE is
    * normalized by flipping rows (flipped(jd) = grid0(31 - jd)), and
    * the j-up TARGET computes dy = yMin + (j + 0.5) * yRes. Net: join
    * grid0 at (31 - rint(fj), rint(fi)).
    */
  private def sqlReprojectJup: String = {
    val g = gmReproj
    s"""$sqlGrid0, tcells AS (
       |  SELECT r // ${g.width} AS j, r % ${g.width} AS i
       |  FROM range(0, ${g.width * g.height}) t(r)
       |), f AS (
       |  SELECT j, i,
       |    ((${d(g.xMin)} + (i + 0.5) * ${d(g.xRes)}) - ${d(gmSrc.xMin)}) / ${d(gmSrc.xRes)} - 0.5 AS fi,
       |    (${d(gmSrc.yMax)} - (${d(g.yMin)} + (j + 0.5) * ${d(g.yRes)})) / ${d(gmSrc.yRes)} - 0.5 AS fj
       |  FROM tcells
       |)
       |SELECT f.j, f.i, ROUND(g.value, 6) AS value
       |FROM f JOIN grid0 g
       |  ON g.i = CAST(ROUND(fi) AS BIGINT)
       | AND g.j = ${W - 1} - CAST(ROUND(fj) AS BIGINT)
       |ORDER BY f.j, f.i""".stripMargin
  }

  /** Oracles for the interpolating rectify gathers on the inset target
    * (see gmRectifyInt): closed-form inverse rotation to (fi, fj), then
    * the gather kernel's bilinear / two-triangle blend. All 144 pixels
    * are interior and unclamped, so no acceptance filter is needed.
    */
  private def sqlRectifyInterp(bilinear: Boolean): String = {
    val ang = 0.1
    val c = math.cos(ang); val s = math.sin(ang)
    val dst = gmRectifyInt
    val body =
      if (bilinear)
        """(g00.value + u * (g01.value - g00.value))
          |    + v * ((g10.value + u * (g11.value - g10.value))
          |           - (g00.value + u * (g01.value - g00.value)))""".stripMargin
      else
        """CASE WHEN u + v < 1.0
          |    THEN g00.value + u * (g01.value - g00.value) + v * (g10.value - g00.value)
          |    ELSE g11.value + (1.0 - u) * (g10.value - g11.value) + (1.0 - v) * (g01.value - g11.value)
          |    END""".stripMargin
    s"""$sqlGrid0, tcells AS (
       |  SELECT r // ${dst.width} AS j, r % ${dst.width} AS i
       |  FROM range(0, ${dst.width * dst.height}) t(r)
       |), f AS (
       |  SELECT j, i,
       |    ${d(c)} * ((${d(dst.xMin)} + (i + 0.5) * ${d(dst.xRes)} - 50.0) / 0.1)
       |      + ${d(s)} * ((60.0 - (${d(dst.yMax)} - (j + 0.5) * ${d(dst.yRes)})) / 0.1) - 0.5 AS fi,
       |    -${d(s)} * ((${d(dst.xMin)} + (i + 0.5) * ${d(dst.xRes)} - 50.0) / 0.1)
       |      + ${d(c)} * ((60.0 - (${d(dst.yMax)} - (j + 0.5) * ${d(dst.yRes)})) / 0.1) - 0.5 AS fj
       |  FROM tcells
       |), b AS (
       |  SELECT j, i, CAST(FLOOR(fi) AS BIGINT) AS i0, CAST(FLOOR(fj) AS BIGINT) AS j0,
       |         fi - FLOOR(fi) AS u, fj - FLOOR(fj) AS v
       |  FROM f
       |)
       |SELECT b.j, b.i, ROUND($body, 4) AS value
       |FROM b
       |JOIN grid0 g00 ON g00.j = b.j0     AND g00.i = b.i0
       |JOIN grid0 g01 ON g01.j = b.j0     AND g01.i = b.i0 + 1
       |JOIN grid0 g10 ON g10.j = b.j0 + 1 AND g10.i = b.i0
       |JOIN grid0 g11 ON g11.j = b.j0 + 1 AND g11.i = b.i0 + 1
       |ORDER BY b.j, b.i""".stripMargin
  }

  /** Oracle for the NaN-recovery affine upscale: warp the zero-filled
    * null grid and the inverted NaN mask with the SAME bilinear
    * weights, divide, NULL where |norm| <= 1e-8 (np.isclose atol;
    * reference: affine.py:344-360). Out-of-extent neighbors contribute
    * fill = 0.0 to both blends. u, v mirror sqlUpBilinear.
    */
  private def sqlAffineNanrec: String = {
    def blend(p: String): String =
      s"((${p}00 + u * (${p}01 - ${p}00)) + v * ((${p}10 + u * (${p}11 - ${p}10)) - (${p}00 + u * (${p}01 - ${p}00))))"
    s"""$sqlGridN, cells2 AS (
       |  SELECT r // ${2 * W} AS j, r % ${2 * W} AS i FROM range(0, ${4 * W * W}) t(r)
       |), f AS (
       |  SELECT j, i,
       |         CAST(FLOOR(0.5 * i + 0.25) AS BIGINT) AS i0, 0.5 * i + 0.25 - FLOOR(0.5 * i + 0.25) AS u,
       |         CAST(FLOOR(0.5 * j + 0.25) AS BIGINT) AS j0, 0.5 * j + 0.25 - FLOOR(0.5 * j + 0.25) AS v
       |  FROM cells2
       |), n AS (
       |  SELECT f.j, f.i, f.u, f.v,
       |         COALESCE(g00.value, 0.0) AS f00, COALESCE(g01.value, 0.0) AS f01,
       |         COALESCE(g10.value, 0.0) AS f10, COALESCE(g11.value, 0.0) AS f11,
       |         CASE WHEN g00.value IS NOT NULL THEN 1.0 ELSE 0.0 END AS w00,
       |         CASE WHEN g01.value IS NOT NULL THEN 1.0 ELSE 0.0 END AS w01,
       |         CASE WHEN g10.value IS NOT NULL THEN 1.0 ELSE 0.0 END AS w10,
       |         CASE WHEN g11.value IS NOT NULL THEN 1.0 ELSE 0.0 END AS w11
       |  FROM f
       |  LEFT JOIN gridn g00 ON g00.j = f.j0     AND g00.i = f.i0
       |  LEFT JOIN gridn g01 ON g01.j = f.j0     AND g01.i = f.i0 + 1
       |  LEFT JOIN gridn g10 ON g10.j = f.j0 + 1 AND g10.i = f.i0
       |  LEFT JOIN gridn g11 ON g11.j = f.j0 + 1 AND g11.i = f.i0 + 1
       |)
       |SELECT j, i,
       |  ROUND(CASE WHEN ABS(${blend("w")}) <= 1e-8 THEN NULL
       |        ELSE ${blend("f")} / ${blend("w")} END, 6) AS value
       |FROM n ORDER BY j, i""".stripMargin
  }

  def oracles: Map[String, String] = {
    val coarsenOs = coarsenConfigs.map { case (m, useN, rd) =>
      s"q_coarsen_${m.name}" -> coarsenSql(m, useN, rd)
    }.toMap

    coarsenOs ++ Map(
      "q_reproject_nearest" -> sqlReprojectNearest,
      "q_reproject_bilinear" -> sqlReprojectInterp(bilinear = true),
      "q_reproject_triangular" -> sqlReprojectInterp(bilinear = false),
      "q_reproject_jup" -> sqlReprojectJup,
      "q_rectify_nearest" -> sqlRectifyNearest(),
      "q_rectify_antimeridian" -> sqlRectifyNearest(anti = true),
      "q_rectify_bilinear" -> sqlRectifyInterp(bilinear = true),
      "q_rectify_triangular" -> sqlRectifyInterp(bilinear = false),
      "q_affine_nanrec" -> sqlAffineNanrec,
      "q_affine_upscale_nearest" -> sqlUpNearest,
      "q_affine_upscale_bilinear" -> sqlUpBilinear,
      "q_affine_subset_shift" -> sqlShift,
      "q_affine_downscale_mean" -> sqlDownMean,
      "q_temporal_composite" ->
        s"""WITH s0 AS (
           |  SELECT l_suppkey % 12 AS band, l_orderkey % $W AS j, l_partkey % $W AS i,
           |         SUM(l_quantity) AS v
           |  FROM lineitem GROUP BY 1, 2, 3
           |), stack AS (
           |  SELECT band, j, i,
           |    CASE WHEN (band * 31 + j * 7 + i) % 23 = 0 THEN NULL ELSE v END AS value
           |  FROM s0
           |)
           |SELECT CAST(band // 3 AS INT) AS bucket, j, i,
           |  COUNT(value) AS n_obs,
           |  ROUND(SUM(value) / COUNT(value), 6) AS mean_v,
           |  MIN(value) AS min_v, MAX(value) AS max_v
           |FROM stack GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

      "q_zonal_stats" ->
        s"""$sqlGridN, zones(zone_id, xmin, ymin, xmax, ymax) AS (VALUES
           |  (CAST(0 AS BIGINT), 50.2e0, 57.0e0, 51.0e0, 58.0e0),
           |  (CAST(1 AS BIGINT), 51.0e0, 57.5e0, 52.4e0, 59.9e0),
           |  (CAST(2 AS BIGINT), 49.0e0, 56.0e0, 50.4e0, 57.2e0))
           |SELECT zone_id, COUNT(*) AS n_px, SUM(value) AS sum_v,
           |       ROUND(SUM(value) / COUNT(*), 6) AS mean_v,
           |       MIN(value) AS min_v, MAX(value) AS max_v
           |FROM gridn g JOIN zones z
           |  ON ${gmSrc.xMin} + (g.i + 0.5) * ${gmSrc.xRes} BETWEEN z.xmin AND z.xmax
           | AND ${gmSrc.yMax} - (g.j + 0.5) * ${gmSrc.yRes} BETWEEN z.ymin AND z.ymax
           |WHERE g.value IS NOT NULL
           |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q_clip_bbox" ->
        s"""$sqlGridN
           |SELECT j, i, value FROM gridn
           |WHERE ${gmSrc.xMin} + (i + 0.5) * ${gmSrc.xRes} BETWEEN 50.5 AND 51.5
           |  AND ${gmSrc.yMax} - (j + 0.5) * ${gmSrc.yRes} BETWEEN 57.5 AND 58.5
           |ORDER BY j, i""".stripMargin,
      "q_select_vars" ->
        s"""SELECT l_returnflag AS var, l_orderkey % $W AS j, l_partkey % $W AS i,
           |       SUM(l_quantity) AS value
           |FROM lineitem WHERE l_returnflag IN ('A', 'R')
           |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
      "q_resample_identity" ->
        s"""$sqlGridN SELECT j, i, value FROM gridn ORDER BY j, i""",
      "q_ij_bbox_from_xy_bbox" ->
        s"""WITH $sqlCoords
           |SELECT COALESCE(MIN(i), -1) AS i_min, COALESCE(MIN(j), -1) AS j_min,
           |       COALESCE(MAX(i), -1) AS i_max, COALESCE(MAX(j), -1) AS j_max
           |FROM coords
           |WHERE x BETWEEN 50.5 AND 51.5 AND y BETWEEN 57.5 AND 58.5""".stripMargin,
      "q_gm_to_coords" ->
        s"""SELECT 'x' AS axis, r AS idx,
           |       ${gmSrc.xMin} + (r + 0.5) * ${gmSrc.xRes} AS coord,
           |       ${gmSrc.xMin} + (r + 0.5) * ${gmSrc.xRes} - ${gmSrc.xRes} / 2 AS bnd_lo,
           |       ${gmSrc.xMin} + (r + 0.5) * ${gmSrc.xRes} + ${gmSrc.xRes} / 2 AS bnd_hi
           |FROM range(0, $W) t(r)
           |UNION ALL
           |SELECT 'y', r,
           |       ${gmSrc.yMax} - (r + 0.5) * ${gmSrc.yRes},
           |       ${gmSrc.yMax} - (r + 0.5) * ${gmSrc.yRes} + ${gmSrc.yRes} / 2,
           |       ${gmSrc.yMax} - (r + 0.5) * ${gmSrc.yRes} - ${gmSrc.yRes} / 2
           |FROM range(0, $W) t(r)
           |ORDER BY 1, 2""".stripMargin,
      "q_xy_bbox" ->
        s"""WITH $sqlCoords
           |SELECT ROUND(MIN(x), 6) AS x_min, ROUND(MIN(y), 6) AS y_min,
           |       ROUND(MAX(x), 6) AS x_max, ROUND(MAX(y), 6) AS y_max
           |FROM coords""".stripMargin
    )
  }
}
