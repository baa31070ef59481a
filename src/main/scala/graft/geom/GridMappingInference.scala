package graft.geom

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tile

/** Grid-mapping detection from coordinate data — the Spark build of
  * `GridMapping.from_coords` (reference:
  * xcube_resampling/gridmapping/coords.py:99-327).
  *
  * 1D analysis runs on driver arrays (axis coords are O(width+height)
  * doubles — exactly what the reference holds in memory). 2D analysis
  * runs over the coordinate tile table fully distributed: boundary
  * regularity/antimeridian/bbox checks fold per-tile O(1) EDGE
  * SUMMARIES (the driver sees O(numTiles) records, never a coordinate
  * slice), the j-up orientation is one pointwise aggregate, and the
  * irregular-resolution estimation is a per-tile kernel + global
  * min/max aggregate — the reference's full-image `da.diff` pass,
  * tile-localized (neighbor diffs at tile seams use the reference's
  * own last-row/column duplication trick, applied per tile).
  */
object GridMappingInference {

  val ER = 6371000.0 // sphere radius used by the reference (coords.py)
  val DefaultTolerance = 1e-5

  private def absNoZero(a: Array[Double]): Array[Double] =
    a.map(v => { val x = math.abs(v); if (x < 1e-8) Double.NaN else x })

  /** Any |diff| > 180 along the folded slice (the antimeridian jump). */
  private def bigJump(f: FoldedEdge): Boolean = f.nDiffs > 0 && f.maxAbsD > 180

  private def diffs(a: Array[Double]): Array[Double] =
    Array.tabulate(a.length - 1)(k => a(k + 1) - a(k))

  /** 1D coords -> grid mapping (regular iff deltas are constant within
    * tolerance; res snapped by round_to_fraction like the reference).
    */
  def fromCoords1D(
      xs0: Array[Double], ys: Array[Double], crs: Crs,
      tileSize: Option[(Int, Int)] = None,
      tolerance: Double = DefaultTolerance): GridMapping = {
    require(xs0.length >= 2 && ys.length >= 2,
      "sizes of x_coords and y_coords 1D arrays must be >= 2")
    var xs = xs0
    var isLon360 = crs.isGeographic && xs.exists(_ > 180)
    var xDiff = absNoZero(diffs(xs))
    val yDiff = absNoZero(diffs(ys))

    if (!isLon360 && crs.isGeographic && xDiff.filterNot(_.isNaN).foldLeft(0.0)(math.max) > 180) {
      // antimeridian crossing -> normalize to [0, 360)
      xs = xs.map(x => if (x >= 0) x else x + 360.0)
      xDiff = absNoZero(diffs(xs))
      isLon360 = true
    }

    var xRes = xDiff(0)
    var yRes = yDiff(0)
    val isRegular =
      xDiff.forall(d => !d.isNaN && math.abs(d - xRes) <= tolerance) &&
      yDiff.forall(d => !d.isNaN && math.abs(d - yRes) <= tolerance)
    if (isRegular) {
      xRes = GridMapping.roundToFraction(xRes, 5, 0.25)
      yRes = GridMapping.roundToFraction(yRes, 5, 0.25)
    } else {
      xRes = GridMapping.roundToFraction(median(xDiff), 2, 0.5)
      yRes = GridMapping.roundToFraction(median(yDiff), 2, 0.5)
    }

    val isJAxisUp = ys(0) < ys(ys.length - 1)
    val xMin = GridMapping.toIntOrFloat(xs(0).min(xs(xs.length - 1)) - xRes / 2)
    val xMax = GridMapping.toIntOrFloat(xs(0).max(xs(xs.length - 1)) + xRes / 2)
    val yMin = GridMapping.toIntOrFloat(math.min(ys(0), ys(ys.length - 1)) - yRes / 2)
    val yMax = GridMapping.toIntOrFloat(math.max(ys(0), ys(ys.length - 1)) + yRes / 2)
    val (tw, th) = tileSize.getOrElse((xs.length, ys.length))
    GridMapping(
      xs.length, ys.length, math.min(tw, xs.length), math.min(th, ys.length),
      xMin, yMin, xMax, yMax, xRes, yRes, crs,
      isRegular = isRegular, isJAxisUp = isJAxisUp, isLon360 = isLon360)
  }

  private def median(a0: Array[Double]): Double = {
    val a = a0.filterNot(_.isNaN).sorted
    if (a.isEmpty) Double.NaN
    else if (a.length % 2 == 1) a(a.length / 2)
    else (a(a.length / 2 - 1) + a(a.length / 2)) / 2
  }

  /** O(1) summary of one tile's boundary slice: first/last elements
    * (for cross-tile diffs on the driver), |diff| extremes, value
    * extremes (NaN-skipped), and NaN presence. `tag` names the slice
    * (top row / first column / ... of x or y), `idx` orders tiles along
    * the slice.
    */
  private[geom] final case class EdgeStat(
      tag: String, idx: Int, n: Int, first: Double, last: Double,
      firstAbsDiff: Double, minAbsD: Double, maxAbsD: Double,
      minV: Double, maxV: Double, hasNaN: Boolean)

  private def edgeStat(tag: String, idx: Int, vals: Array[Double]): EdgeStat = {
    var minV = Double.PositiveInfinity; var maxV = Double.NegativeInfinity
    var hasNaN = false
    var k = 0
    while (k < vals.length) {
      val v = vals(k)
      if (v.isNaN) hasNaN = true
      else { if (v < minV) minV = v; if (v > maxV) maxV = v }
      k += 1
    }
    var minD = Double.PositiveInfinity; var maxD = Double.NegativeInfinity
    var firstD = Double.NaN
    k = 1
    while (k < vals.length) {
      val d = math.abs(vals(k) - vals(k - 1))
      if (k == 1) firstD = d
      if (d.isNaN) hasNaN = true
      else { if (d < minD) minD = d; if (d > maxD) maxD = d }
      k += 1
    }
    EdgeStat(tag, idx, vals.length, vals.head, vals.last, firstD, minD, maxD, minV, maxV, hasNaN)
  }

  /** Driver-side fold of one slice's tile summaries (ordered by idx):
    * the global |diff| extremes include the cross-tile seam diffs, `d0`
    * is the slice's first |diff| (what the reference reads the
    * resolution from), min/max the slice value extremes.
    */
  private final case class FoldedEdge(
      d0: Double, minAbsD: Double, maxAbsD: Double,
      minV: Double, maxV: Double, hasNaN: Boolean, nDiffs: Long)

  private def foldEdge(stats: Seq[EdgeStat]): FoldedEdge = {
    var minD = Double.PositiveInfinity; var maxD = Double.NegativeInfinity
    var minV = Double.PositiveInfinity; var maxV = Double.NegativeInfinity
    var hasNaN = false
    var d0 = Double.NaN
    var nDiffs = 0L
    var k = 0
    while (k < stats.length) {
      val s = stats(k)
      hasNaN ||= s.hasNaN
      if (s.minV < minV) minV = s.minV
      if (s.maxV > maxV) maxV = s.maxV
      if (s.n >= 2) {
        if (k == 0) d0 = s.firstAbsDiff
        if (s.minAbsD < minD) minD = s.minAbsD
        if (s.maxAbsD > maxD) maxD = s.maxAbsD
        nDiffs += s.n - 1
      }
      if (k > 0) {
        val cross = math.abs(stats(k).first - stats(k - 1).last)
        if (k == 1 && stats(0).n < 2) d0 = cross
        if (cross.isNaN) hasNaN = true
        else {
          if (cross < minD) minD = cross
          if (cross > maxD) maxD = cross
        }
        nDiffs += 1
      }
      k += 1
    }
    FoldedEdge(d0, minD, maxD, minV, maxV, hasNaN, nDiffs)
  }

  /** The "x" and "y" tiles among one coord tile position's tiles. A
    * coordinate set missing either one is input error, named by tile.
    */
  def xyPair(tj: Int, ti: Int, ts: Iterator[Tile]): (Tile, Tile) = {
    val arr = ts.toArray
    val xt = arr.find(_.varName == "x"); val yt = arr.find(_.varName == "y")
    require(xt.isDefined && yt.isDefined, s"missing x or y coord tile at ($tj,$ti)")
    (xt.get, yt.get)
  }

  /** 2D coord images (vars "x"/"y" in `coordTiles`, tiled per
    * (tileW, tileH)) -> grid mapping. Returns an irregular mapping with
    * the reference's area-blend resolution estimate
    * (reference: coords.py:226-264).
    */
  def fromCoords2D(
      coordTiles: Dataset[Tile],
      width: Int, height: Int, tileW: Int, tileH: Int,
      crs: Crs, tolerance: Double = DefaultTolerance): GridMapping = {
    val spark = coordTiles.sparkSession
    import spark.implicits._

    // ONE job folds per-tile EDGE SUMMARIES (first/last rows/columns as
    // O(1) stats each, plus the lon>180 flag): the driver sees
    // O(numTiles) records and reconstructs the cross-tile seam diffs
    // from first/last elements — no coordinate slice is ever collected
    val nTy = (height + tileH - 1) / tileH
    val nTx = (width + tileW - 1) / tileW
    def edgeStatsOf(src: Dataset[Tile]): Map[String, FoldedEdge] =
      src.flatMap { t =>
        val isX = t.varName == "x"
        val out = Seq.newBuilder[EdgeStat]
        if (t.tj == 0)
          out += edgeStat(if (isX) "r0x" else "r0y", t.ti,
            Array.tabulate(t.w)(i => t.data(i)))
        if (t.ti == 0)
          out += edgeStat(if (isX) "c0x" else "c0y", t.tj,
            Array.tabulate(t.h)(j => t.data(j * t.w)))
        if (!isX && t.tj == nTy - 1)
          out += edgeStat("lrY", t.ti, Array.tabulate(t.w)(i => t.data((t.h - 1) * t.w + i)))
        if (isX && t.ti == nTx - 1)
          out += edgeStat("lcX", t.tj, Array.tabulate(t.h)(j => t.data(j * t.w + t.w - 1)))
        if (isX && t.data.exists(_ > 180))
          out += EdgeStat("l360", 0, 0, 0, 0, 0, 0, 0, 0, 0, hasNaN = false)
        out.result()
      }.collect().groupBy(_.tag)
        .map { case (tag, sts) => tag -> foldEdge(sts.sortBy(_.idx).toSeq) }

    val raw = edgeStatsOf(coordTiles)
    var isLon360 = crs.isGeographic && raw.contains("l360")
    var tiles = coordTiles
    val crossesAnti = !isLon360 && crs.isGeographic && (
      bigJump(raw("r0x")) || bigJump(raw("c0x")))
    if (crossesAnti) {
      tiles = coordTiles.map { t =>
        if (t.varName == "x") t.copy(data = t.data.map(x => if (x >= 0) x else x + 360.0)) else t
      }
      isLon360 = true
    }
    // antimeridian normalization changes the x slices' diffs and
    // extremes, so re-fold the (narrowly re-mapped) x stats
    val ed = if (crossesAnti) edgeStatsOf(tiles.filter(col("varName") === "x")) ++
      raw.view.filterKeys(k => k == "r0y" || k == "c0y" || k == "lrY").toMap
    else raw

    val xx = ed("r0x"); val yy = ed("c0y")
    val xy = ed("c0x"); val yx = ed("r0y")
    var xRes = xx.d0
    var yRes = yy.d0
    def regularAlong(f: FoldedEdge, res: Double): Boolean =
      !f.hasNaN && !res.isNaN &&
        (f.nDiffs == 0 ||
          (math.abs(f.minAbsD - res) <= tolerance && math.abs(f.maxAbsD - res) <= tolerance))
    def flatAcross(f: FoldedEdge): Boolean =
      !f.hasNaN && (f.nDiffs == 0 || f.maxAbsD <= tolerance)
    val isRegular =
      regularAlong(xx, xRes) && regularAlong(yy, yRes) &&
      flatAcross(xy) && flatAcross(yx)

    if (!isRegular) {
      // area-based estimation (reference: coords.py:226-264), per tile
      // with the last-row/column duplication applied tile-locally
      val geographic = crs.isGeographic
      val (amin, amax) = tiles.groupByKey(t => (t.tj, t.ti))
        .mapGroups { (key: (Int, Int), ts: Iterator[Tile]) =>
          val (xt, yt) = xyPair(key._1, key._2, ts)
          val h = xt.h; val w = xt.w
          var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
          // diff arrays extended by duplicating the LAST DIFF row/col
          // (reference: coords.py:231-238) -> clamp the diff BASE index
          @inline def dx(a: Array[Double], j: Int, i: Int): Double = {
            val i0 = math.min(i, w - 2)
            val v = math.abs(a(j * w + i0 + 1) - a(j * w + i0))
            if (v.isNaN || v < 1e-8) 0.0 else v
          }
          @inline def dy(a: Array[Double], j: Int, i: Int): Double = {
            val j0 = math.min(j, h - 2)
            val v = math.abs(a((j0 + 1) * w + i) - a(j0 * w + i))
            if (v.isNaN || v < 1e-8) 0.0 else v
          }
          var j = 0
          while (j < h) {
            var i = 0
            while (i < w) {
              val xxd = dx(xt.data, j, i); val xyd = dy(xt.data, j, i)
              val yxd = dx(yt.data, j, i); val yyd = dy(yt.data, j, i)
              var xAbs = math.sqrt(xxd * xxd + xyd * xyd)
              var yAbs = math.sqrt(yxd * yxd + yyd * yyd)
              if (geographic) {
                val xr = math.toRadians(xAbs); val yr = math.toRadians(yAbs)
                xAbs = ER * math.cos(xr) * yr // verbatim reference formula
                yAbs = ER * yr
              }
              val area = xAbs * yAbs
              if (area > 0) {
                if (area < mn) mn = area
                if (area > mx) mx = area
              }
              i += 1
            }
            j += 1
          }
          (mn, mx)
        }
        .reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
      var res = 0.7 * math.sqrt(amin) + 0.3 * math.sqrt(amax)
      if (geographic) res = math.toDegrees(res / ER)
      res = GridMapping.roundToFraction(res, 1, 0.5)
      xRes = res; yRes = res
    }

    // pointwise first-row < last-row comparison per column — one
    // distributed aggregate (group state is one column's two values)
    val isJAxisUp = coordTiles.flatMap { t =>
      if (t.varName != "y" || (t.tj != 0 && t.tj != nTy - 1)) Seq.empty[(Int, Boolean, Double)]
      else {
        val out = Seq.newBuilder[(Int, Boolean, Double)]
        if (t.tj == 0)
          (0 until t.w).foreach(i => out += ((t.ti * tileW + i, true, t.data(i))))
        if (t.tj == nTy - 1)
          (0 until t.w).foreach(i => out += ((t.ti * tileW + i, false, t.data((t.h - 1) * t.w + i))))
        out.result()
      }
    }.groupByKey(_._1).mapGroups { (_, it) =>
      var top = Double.NaN; var bot = Double.NaN
      it.foreach { r => if (r._2) top = r._3 else bot = r._3 }
      top < bot
    }.reduce(_ && _)
    // bbox: first/last column x extremes, first/last row y extremes
    val lcx = ed("lcX"); val lry = ed("lrY")
    val xMin = GridMapping.toIntOrFloat(math.min(lcx.minV, xy.minV) - xRes / 2)
    val xMax = GridMapping.toIntOrFloat(math.max(lcx.maxV, xy.maxV) + xRes / 2)
    val (yMin, yMax) =
      if (isJAxisUp)
        (GridMapping.toIntOrFloat(yx.minV - yRes / 2), GridMapping.toIntOrFloat(lry.maxV + yRes / 2))
      else
        (GridMapping.toIntOrFloat(lry.minV - yRes / 2), GridMapping.toIntOrFloat(yx.maxV + yRes / 2))

    GridMapping(
      width, height, math.min(tileW, width), math.min(tileH, height),
      xMin, yMin, xMax, yMax, xRes, yRes, crs,
      isRegular = isRegular, isJAxisUp = isJAxisUp, isLon360 = isLon360)
  }

  /** CF-style axis coordinates + 2-column cell bounds
    * (reference: coords.py:340-472, base.py:631-665). Returned as
    * a DataFrame (axis, idx, coord, bnd_lo, bnd_hi) for SQL-friendly
    * consumption.
    *
    * Defined for ANY mapping, matching the reference: its
    * `grid_mapping_to_coords` derives the axes from the bbox and
    * resolution without consulting is_regular, so an irregular
    * mapping yields the axis coordinates of its DERIVED regular grid
    * (the bbox/res the inference computed) — the true per-pixel 2D
    * coordinates stay with [[xyCoordsDf]]. Lon-360 mappings fold x
    * coords AND bounds back to [-180, 180] (`from_lon_360`), exactly
    * as the reference folds both arrays.
    */
  def toCoordsDf(spark: SparkSession, gm: GridMapping): DataFrame = {
    import spark.implicits._
    def foldLon(v: Double): Double =
      if (gm.isLon360 && v > 180.0) v - 360.0 else v
    // np.linspace-style endpoint interpolation. For REGULAR grids the
    // bbox is consistent (x2 - x1 == w * res) and this equals the
    // stride form x1 + (k+0.5)*res, so the regular path keeps the
    // stride arithmetic its SQL oracle mirrors bit-for-bit; for
    // IRREGULAR mappings the two diverge (the bbox is an estimate) and
    // the endpoint form is what the reference prints.
    def linspace(a: Double, b: Double, n: Int)(k: Int): Double =
      if (n == 1) a
      else if (k == n - 1) b
      else a + k * ((b - a) / (n - 1))
    val (w, h) = (gm.width, gm.height)
    val xr2 = gm.xRes / 2; val yr2 = gm.yRes / 2
    val xRows = (0 until w).map { i =>
      val (c, lo, hi) =
        if (gm.isRegular)
          (gm.xCoord(i), gm.xCoord(i) - xr2, gm.xCoord(i) + xr2)
        else
          (linspace(gm.xMin + xr2, gm.xMax - xr2, w)(i),
            linspace(gm.xMin, gm.xMax - gm.xRes, w)(i),
            linspace(gm.xMin + gm.xRes, gm.xMax, w)(i))
      ("x", i.toLong, foldLon(c), foldLon(lo), foldLon(hi))
    }
    val yRows = (0 until h).map { j =>
      // bounds follow axis direction (descending y -> upper edge first)
      val (c, b0, b1) =
        if (gm.isRegular) {
          val c = gm.yCoord(j)
          if (gm.isJAxisUp) (c, c - yr2, c + yr2) else (c, c + yr2, c - yr2)
        } else if (gm.isJAxisUp)
          (linspace(gm.yMin + yr2, gm.yMax - yr2, h)(j),
            linspace(gm.yMin, gm.yMax - gm.yRes, h)(j),
            linspace(gm.yMin + gm.yRes, gm.yMax, h)(j))
        else
          (linspace(gm.yMax - yr2, gm.yMin + yr2, h)(j),
            linspace(gm.yMax, gm.yMin + gm.yRes, h)(j),
            linspace(gm.yMax - gm.yRes, gm.yMin, h)(j))
      ("y", j.toLong, c, b0, b1)
    }
    (xRows ++ yRows).toDF("axis", "idx", "coord", "bnd_lo", "bnd_hi")
  }

  /** Full 2D coordinate variables — one row per pixel (j, i, x, y) —
    * for ANY mapping, the analog of the reference's `xy_coords`
    * property (reference: coords.py:74-96 — `Coords2DGridMapping`
    * returns its 2D coord images stacked; `Coords1DGridMapping`
    * broadcasts 1D axes to 2D).
    *
    * Regular mappings synthesize coordinates DISTRIBUTEDLY from the
    * affine transform (`spark.range`, no driver-side materialization —
    * a 10^10-pixel grid never exists as one array). Irregular mappings
    * flatten their x/y coord tiles (the tiles ARE the 2D coords);
    * irregular 1D axes go through [[GridMappingOps.meshgridCoordTiles]]
    * first, which is exactly the reference's 1D-to-2D broadcast.
    */
  def xyCoordsDf(
      spark: SparkSession, gm: GridMapping,
      coordTiles: Option[Dataset[graft.model.Tile]] = None): DataFrame = {
    import spark.implicits._
    coordTiles match {
      case None =>
        require(gm.isRegular,
          "xyCoordsDf for an irregular mapping needs its x/y coord tiles " +
            "(2D coords are the tiles themselves; irregular 1D axes go " +
            "through meshgridCoordTiles)")
        val w = gm.width
        spark.range(w.toLong * gm.height).map { id =>
          val j = (id / w).toInt; val i = (id % w).toInt
          (j, i, gm.xCoord(i), gm.yCoord(j))
        }.toDF("j", "i", "x", "y")
      case Some(tiles) =>
        val th = gm.tileHeight; val tw = gm.tileWidth
        tiles.filter(t => (t.varName == "x" || t.varName == "y") && t.band == 0)
          .groupByKey(t => (t.tj, t.ti))
          .flatMapGroups { (key: (Int, Int), it: Iterator[graft.model.Tile]) =>
            val (tj, ti) = key
            val (xt, yt) = xyPair(tj, ti, it)
            val out = new Array[(Int, Int, Double, Double)](xt.h * xt.w)
            var k = 0
            var r = 0
            while (r < xt.h) {
              var c = 0
              while (c < xt.w) {
                out(k) = (tj * th + r, ti * tw + c, xt.data(k), yt.data(k))
                k += 1; c += 1
              }
              r += 1
            }
            out.iterator
          }.toDF("j", "i", "x", "y")
    }
  }
}
