package graft.ops

import org.apache.spark.sql.Dataset
import graft.geom.{Affine, Crs, CrsTransformer, GridMapping}
import graft.kernel.{Interp, Window}
import graft.model.{Policies, Tile}
import graft.model.Policies.VarPolicy

/** Reprojection between regular grids in DIFFERENT CRSes — the Spark
  * build of `reproject_dataset`
  * (reference: xcube_resampling/reproject.py:51-186).
  *
  * Stages (mirroring the reference pipeline, SURVEY.md §3.2):
  *  1. normalize source to j-axis-down (reference: reproject.py:116-118)
  *  2. optional clip + affine-downscale of the source when its
  *     resolution is finer than the target's, transformed into source
  *     CRS (`SCALE_LIMIT = 0.95`; reference: reproject.py:338-382)
  *  3. driver plan: per-target-tile source ij windows from inverse
  *     transform_bounds of the tile bboxes
  *     (reference: reproject.py:385-423; the uniform-size padding of
  *     the dask version is unnecessary here — rows vary freely)
  *  4. one gather shuffle + per-tile kernel: transform each target
  *     pixel center into source CRS once per target tile
  *     (reference: reproject.py:472-496), compute fractional source
  *     indices, and interpolate every (var, band) from them with
  *     nearest/triangular/bilinear (reference: reproject.py:268-335)
  */
object ReprojectOp {

  val ScaleLimit = 0.95 // reference: constants.py:79

  def reproject(
      tiles: Dataset[Tile],
      srcGm0: GridMapping,
      dstGm: GridMapping,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    require(srcGm0.isRegular && dstGm.isRegular, "reproject requires regular grids")

    // 1. normalize j-axis-down
    val (tiles1, srcGm1) =
      if (srcGm0.isJAxisUp) (RasterOps.flipJ(tiles, srcGm0), srcGm0.copy(isJAxisUp = false))
      else (tiles, srcGm0)

    val inv = CrsTransformer(dstGm.crs, srcGm1.crs)

    // 2. downscale prepass
    val (tiles2, srcGm2) = downscaleSource(tiles1, srcGm1, dstGm, inv, policies)

    // 3. plan: per-target-tile source windows — a pure function of the
    // tile index (inverse transform_bounds of the tile bbox); built on
    // the driver for small grids, generated distributed at scale so
    // nothing driver-side grows with tile count
    val cx0 = srcGm2.xMin + srcGm2.xRes / 2 // center of column 0
    val cy0 = srcGm2.yMax - srcGm2.yRes / 2 // center of row 0 (j-down)
    val srcGmP = srcGm2; val dstGmP = dstGm; val invP = inv
    val windowOf = (dtj: Int, dti: Int) => {
      val (bx0, by0, bx1, by1) = dstGmP.xyBboxOfTile(dtj, dti)
      val (sx0, sy0, sx1, sy1) = invP.transformBounds(bx0, by0, bx1, by1)
      val iMin = math.floor((sx0 - cx0) / srcGmP.xRes).toInt
      val iMax = math.ceil((sx1 - cx0) / srcGmP.xRes).toInt
      val jMin = math.floor((cy0 - sy1) / srcGmP.yRes).toInt
      val jMax = math.ceil((cy0 - sy0) / srcGmP.yRes).toInt
      val ci0 = math.max(0, iMin); val ci1 = math.min(srcGmP.width, iMax + 1)
      val cj0 = math.max(0, jMin); val cj1 = math.min(srcGmP.height, jMax + 1)
      if (ci0 >= ci1 || cj0 >= cj1) TileGather.WindowRow(dtj, dti, -1, -1, -1, -1)
      else TileGather.WindowRow(dtj, dti, ci0, cj0, ci1, cj1)
    }

    // 4. gather + kernel
    val srcXMin = srcGm2.xMin; val srcYMax = srcGm2.yMax
    val srcXRes = srcGm2.xRes; val srcYRes = srcGm2.yRes
    val dtw = dstGm.tileWidth; val dth = dstGm.tileHeight
    val dW = dstGm.width; val dH = dstGm.height
    val dXMin = dstGm.xMin; val dYMin = dstGm.yMin; val dYMax = dstGm.yMax
    val dXRes = dstGm.xRes; val dYRes = dstGm.yRes
    val jUp = dstGm.isJAxisUp

    TileGather.gatherWithWindows(tiles2, srcGm2, dstGm.numTilesX, dstGm.numTilesY,
      windowOf, (dtj: Int, dti: Int) => {
      val h = math.min(dth, dH - dtj * dth)
      val w = math.min(dtw, dW - dti * dtw)
      // fractional source indices of the tile's pixel centres: one
      // transform per target pixel, shared by every (var, band)
      lazy val srcIdx = {
        val si = new Array[Double](h * w); val sj = new Array[Double](h * w)
        var j = 0
        while (j < h) {
          val gj = dtj * dth + j
          val dy = if (jUp) dYMin + (gj + 0.5) * dYRes else dYMax - (gj + 0.5) * dYRes
          var i = 0
          while (i < w) {
            val gi = dti * dtw + i
            val dx = dXMin + (gi + 0.5) * dXRes
            val (sx, sy) = inv.transformPoint(dx, dy)
            si(j * w + i) = (sx - srcXMin) / srcXRes - 0.5
            sj(j * w + i) = (srcYMax - sy) / srcYRes - 0.5
            i += 1
          }
          j += 1
        }
        (si, sj)
      }
      (v: String, b: Int, win: Window) => {
        val p = policies(v)
        // an empty window samples to fill everywhere: skip the transform
        val out =
          if (win.w == 0 || win.h == 0) Array.fill(h * w)(p.fill)
          else {
            val (fi, fj) = srcIdx
            val out = new Array[Double](h * w)
            var k = 0
            while (k < out.length) {
              out(k) = Interp.sample(win, fi(k), fj(k), p.interp, p.fill)
              k += 1
            }
            out
          }
        Tile(v, b, dtj, dti, h, w, out)
      }
    })
  }

  /** Pre-aggregation rewrite: when the source is finer than the target
    * (transformed into source CRS), clip to the transformed target bbox
    * (+2 px margin) and affine-downscale first
    * (reference: reproject.py:338-382). Returns possibly-unchanged
    * (tiles, gm).
    */
  def downscaleSource(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      inv: CrsTransformer,
      policies: Map[String, VarPolicy]): (Dataset[Tile], GridMapping) = {
    val (bx0, by0, bx1, by1) = inv.transformBounds(dstGm.xMin, dstGm.yMin, dstGm.xMax, dstGm.yMax)
    val xResTrans = (bx1 - bx0) / dstGm.width
    val yResTrans = (by1 - by0) / dstGm.height
    val xScale = srcGm.xRes / xResTrans
    val yScale = srcGm.yRes / yResTrans
    if (xScale >= ScaleLimit && yScale >= ScaleLimit) (tiles, srcGm)
    else {
      val m = 2.0
      val (cTiles, cGm) = RasterOps.clipTiles(
        tiles, srcGm,
        bx0 - m * srcGm.xRes, by0 - m * srcGm.yRes,
        bx1 + m * srcGm.xRes, by1 + m * srcGm.yRes)
      val w = math.max(2, math.round(xScale * cGm.width).toInt)
      val h = math.max(2, math.round(yScale * cGm.height).toInt)
      val downGm = GridMapping.regular(
        w, h, cGm.xMin, cGm.yMin, xResTrans, yResTrans, cGm.crs,
        tileSize = Some((cGm.tileWidth, cGm.tileHeight)))
      val downPolicies = policies.view.mapValues(p =>
        if (p.interp == Interp.TRIANGULAR) p.copy(interp = Interp.BILINEAR) else p).toMap
      (AffineOp.affineTransform(cTiles, cGm, downGm, downPolicies), downGm)
    }
  }
}
