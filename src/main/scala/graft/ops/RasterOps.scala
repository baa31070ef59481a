package graft.ops

import org.apache.spark.sql.Dataset
import graft.geom.{Affine, GridMapping}
import graft.model.{Policies, Tile}
import graft.model.Policies.VarPolicy

/** Tile-table utility transforms shared by the resampling pipelines. */
object RasterOps {

  /** Flip the j axis (j-axis-up <-> j-axis-down normalization;
    * reference: xcube_resampling/reproject.py:116-118,
    * base.py:145-205 `derive(is_j_axis_up=...)`). Implemented as an
    * exact nearest warp `j -> H-1-j` through the standard gather, so
    * arbitrary (non-tile-aligned) heights work.
    */
  def flipJ(tiles: Dataset[Tile], gm: GridMapping): Dataset[Tile] = {
    val m = Affine(1, 0, 0, 0, -1, gm.height - 1.0)
    val vars = collectVarPolicies(tiles)
    AffineOp.upscale(tiles, gm, gm, m, vars)
  }

  /** Clip to an xy bbox (pixel centers within bbox, like label-based
    * `sel(slice)`; reference: xcube_resampling/utils.py:77-124).
    * Returns (tiles, new gm). If the clip offset is tile-aligned the
    * retile is a pure re-key map (NO shuffle); otherwise one gather.
    */
  def clipTiles(
      tiles: Dataset[Tile], gm: GridMapping,
      x0: Double, y0: Double, x1: Double, y1: Double): (Dataset[Tile], GridMapping) = {
    // the y-bound math and positional re-key below assume j-axis-down;
    // normalize with flipJ first (as ReprojectOp does) for j-up grids
    require(!gm.isJAxisUp, "clipTiles requires a j-axis-down grid; flipJ first")
    val (i0, j0, i1, j1) = gm.ijBboxFromXyBbox(x0, y0, x1, y1)
    if (i0 < 0) {
      // non-overlapping bbox: the reference returns a ZERO-SIZED
      // dataset with a warning (utils.py:119-124), not the input
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"Clipped dataset is empty: bbox ($x0,$y0,$x1,$y1) does not overlap the grid extent")
      return (tiles.limit(0), gm.copy(width = 0, height = 0))
    }
    val w = i1 - i0; val h = j1 - j0
    val newGm = GridMapping(
      width = w, height = h,
      tileWidth = math.min(gm.tileWidth, w), tileHeight = math.min(gm.tileHeight, h),
      xMin = gm.xMin + i0 * gm.xRes, yMin = gm.yMax - j1 * gm.yRes,
      xMax = gm.xMin + i1 * gm.xRes, yMax = gm.yMax - j0 * gm.yRes,
      xRes = gm.xRes, yRes = gm.yRes, crs = gm.crs,
      isRegular = true, isJAxisUp = false, isLon360 = gm.isLon360)

    val aligned = i0 % gm.tileWidth == 0 && j0 % gm.tileHeight == 0 &&
      newGm.tileWidth == gm.tileWidth && newGm.tileHeight == gm.tileHeight
    if (aligned) {
      val spark = tiles.sparkSession
      import spark.implicits._
      val tOffI = i0 / gm.tileWidth; val tOffJ = j0 / gm.tileHeight
      val nTx = newGm.numTilesX; val nTy = newGm.numTilesY
      val tw = newGm.tileWidth; val th = newGm.tileHeight
      val clipped = tiles
        .filter(t => t.ti >= tOffI && t.ti - tOffI < nTx && t.tj >= tOffJ && t.tj - tOffJ < nTy)
        .map { t =>
          val ntj = t.tj - tOffJ; val nti = t.ti - tOffI
          val nh = math.min(th, h - ntj * th); val nw = math.min(tw, w - nti * tw)
          if (nh == t.h && nw == t.w) t.copy(tj = ntj, ti = nti)
          else { // edge tile shrinks: crop the payload
            val d = new Array[Double](nh * nw)
            var j = 0
            while (j < nh) {
              System.arraycopy(t.data, j * t.w, d, j * nw, nw)
              j += 1
            }
            Tile(t.varName, t.band, ntj, nti, nh, nw, d)
          }
        }
      (clipped, newGm)
    } else {
      val m = Affine(1, 0, i0.toDouble, 0, 1, j0.toDouble)
      (AffineOp.upscale(tiles, gm, newGm, m, collectVarPolicies(tiles)), newGm)
    }
  }

  /** Integer-exact nearest policies for structural moves (flip/clip):
    * every var keeps its values bit-exactly.
    */
  private def collectVarPolicies(tiles: Dataset[Tile]): Map[String, VarPolicy] = {
    import graft.kernel.{Interp, Reducers}
    val spark = tiles.sparkSession
    import spark.implicits._
    // the varName column alone: a typed map would deserialize every payload
    tiles.select("varName").distinct().as[String].collect().map { v =>
      v -> VarPolicy(Interp.NEAREST, Reducers.Center, recoverNan = false,
        fill = Double.NaN, dtype = Policies.F64)
    }.toMap
  }
}
