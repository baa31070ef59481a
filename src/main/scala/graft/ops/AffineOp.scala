package graft.ops

import org.apache.spark.sql.Dataset
import graft.geom.{Affine, GridMapping}
import graft.kernel.{AffineWarp, Interp, Window}
import graft.model.{Policies, Tile}
import graft.model.Policies.VarPolicy

/** Affine resampling between two REGULAR grids in the same CRS — the
  * Spark build of `affine_transform_dataset`
  * (reference: xcube_resampling/affine.py:52-240).
  *
  * Pipeline per variable:
  *   - matrix = targetGm.ijTransformTo(sourceGm), mapping target pixel
  *     index -> source pixel index (reference: affine.py:121)
  *   - downscale iff scale > 1 and interp != nearest
  *     (reference: affine.py:253): warp to an intermediate grid of
  *     exact integer-divisor size, then window-aggregate
  *     (reference: affine.py:277-313)
  *   - else a single inverse-mapping warp (reference: affine.py:316-362)
  *
  * The warp is a TileGather: a driver-computed tile->source-window plan
  * (pure affine math, no data pass), a narrow crop of each source tile
  * to the windows that read it + one shuffle keyed by target tile, then
  * a tight per-tile kernel. The coarsen step after an upscale is
  * tile-local (intermediate tiling is chosen divisor-aligned), so a
  * downscale costs the SAME single shuffle.
  */
object AffineOp {

  /** Resample all variables of `tiles` from `srcGm` onto `dstGm`.
    * CRS compatibility must hold (both-geographic counts as equal,
    * reference: utils.py:181-189).
    */
  def affineTransform(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    require(srcGm.crs.equalsCrs(dstGm.crs),
      "affine_transform_dataset() requires CRS of source_gm and target_gm to be equal")
    resampleWithMatrix(tiles, srcGm, dstGm, dstGm.ijTransformTo(srcGm), policies)
  }

  /** Core branching with an explicit target-index -> source-index
    * matrix (used directly by the rectify downscale prepass, which
    * works in pure index space on an irregular grid —
    * reference: rectify.py:248-257 calling `resample_dataset` with
    * matrix ((1/xs,0,0),(0,1/ys,0))).
    */
  def resampleWithMatrix(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      matrix: Affine,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    val iScale = matrix.a; val jScale = matrix.e

    val needDownscale = policies.values.exists(p =>
      (iScale > 1 || jScale > 1) && p.interp != Interp.NEAREST)
    val needUpscale = policies.values.exists(p =>
      !((iScale > 1 || jScale > 1) && p.interp != Interp.NEAREST))

    val parts = Seq(
      if (needDownscale)
        Some(downscale(
          tiles.filter(filterFor(policies, downscalePath = true, iScale, jScale)),
          srcGm, dstGm, matrix, policies))
      else None,
      if (needUpscale)
        Some(upscale(
          tiles.filter(filterFor(policies, downscalePath = false, iScale, jScale)),
          srcGm, dstGm, matrix, policies))
      else None
    ).flatten
    parts.reduce(_ union _)
  }

  private def filterFor(
      policies: Map[String, VarPolicy], downscalePath: Boolean,
      iScale: Double, jScale: Double): Tile => Boolean = { t =>
    policies.get(t.varName).exists { p =>
      val down = (iScale > 1 || jScale > 1) && p.interp != Interp.NEAREST
      down == downscalePath
    }
  }

  /** Single inverse-mapping warp (reference: affine.py:316-362). Each
    * target tile's window is pure affine math on its index; a tile the
    * warp maps outside the source gets no window and is sampled to fill
    * in the same gather.
    */
  def upscale(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      matrix: Affine,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    val dstWd = dstGm.width; val dstHt = dstGm.height
    val dTw = dstGm.tileWidth; val dTh = dstGm.tileHeight
    val srcWd = srcGm.width; val srcHt = srcGm.height
    val m = matrix
    val windowOf = (dtj: Int, dti: Int) => {
      val i0 = dti * dTw; val j0 = dtj * dTh
      val i1 = math.min(i0 + dTw, dstWd); val j1 = math.min(j0 + dTh, dstHt)
      val (a, b, c, d) = warpWindow(m, srcWd, srcHt, i0, j0, i1, j1)
      TileGather.WindowRow(dtj, dti, a, b, c, d)
    }
    TileGather.gatherWithWindows(tiles, srcGm, dstGm, windowOf, (dtj: Int, dti: Int) => {
      val h = dstGm.tileH(dtj); val w = dstGm.tileW(dti)
      (v: String, b: Int, win: Window) => {
        val p = policies(v)
        val order = p.interp match {
          case Interp.NEAREST => 0
          case Interp.BILINEAR => 1
          case _ => throw new IllegalArgumentException(
            "interp_methods must be one of 0, 1, 'nearest', 'bilinear'. " +
            "Higher order is not supported for 3D arrays in affine transforms, " +
            "as it causes unintended blending across the non-spatial (e.g., time) dimension.")
        }
        val data = AffineWarp.warpTile(
          win, srcWd, srcHt, dti * dTw, dtj * dTh, w, h,
          matrix, order, p.fill, p.recoverNan)
        Tile(v, b, dtj, dti, h, w, data)
      }
    })
  }

  /** Integer-divisor downscale (reference: affine.py:277-313): divide
    * the scale by ceil(scale), warp to the intermediate grid (target
    * size x divisor, tiled divisor-aligned), then coarsen tile-locally.
    */
  def downscale(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      matrix: Affine,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    val iDiv = math.ceil(math.abs(matrix.a)).toInt
    val jDiv = math.ceil(math.abs(matrix.e)).toInt
    val interMatrix = Affine(
      matrix.a / iDiv, matrix.b, matrix.c,
      matrix.d, matrix.e / jDiv, matrix.f)
    // intermediate grid in target-index space scaled up by the divisors;
    // its tiling is divisor-aligned so the coarsen stays tile-local
    val interGm = GridMapping(
      width = dstGm.width * iDiv, height = dstGm.height * jDiv,
      tileWidth = dstGm.tileWidth * iDiv, tileHeight = dstGm.tileHeight * jDiv,
      xMin = dstGm.xMin, yMin = dstGm.yMin, xMax = dstGm.xMax, yMax = dstGm.yMax,
      xRes = dstGm.xRes / iDiv, yRes = dstGm.yRes / jDiv,
      crs = dstGm.crs, isRegular = true,
      isJAxisUp = dstGm.isJAxisUp, isLon360 = dstGm.isLon360)
    val inter = upscale(tiles, srcGm, interGm, interMatrix, policies)
    CoarsenOp.coarsenTiles(inter, jDiv, iDiv,
      v => { val p = policies(v); (p.agg, p.dtype.isInt) })
  }

  /** Source window of one target index box [i0,i1) x [j0,j1): map the
    * tile's index corners through the matrix, widen by 1 px for the
    * interpolation stencil, clip to the source extent. (-1,-1,-1,-1) =
    * no overlap (fill-only).
    */
  def warpWindow(
      matrix: Affine, srcW: Int, srcH: Int,
      i0: Int, j0: Int, i1: Int, j1: Int): (Int, Int, Int, Int) = {
    // dst pixel indices run i0..i1-1; sample coords = matrix * index
    val corners = Seq(
      matrix(i0, j0), matrix(i1 - 1, j0), matrix(i0, j1 - 1), matrix(i1 - 1, j1 - 1))
    val sxMin = math.floor(corners.map(_._1).min).toInt - 1
    val sxMax = math.ceil(corners.map(_._1).max).toInt + 2
    val syMin = math.floor(corners.map(_._2).min).toInt - 1
    val syMax = math.ceil(corners.map(_._2).max).toInt + 2
    val ci0 = math.max(0, sxMin); val ci1 = math.min(srcW, sxMax)
    val cj0 = math.max(0, syMin); val cj1 = math.min(srcH, syMax)
    if (ci0 >= ci1 || cj0 >= cj1) (-1, -1, -1, -1)
    else (ci0, cj0, ci1, cj1)
  }
}
