package graft.ops

import org.apache.spark.sql.Dataset
import graft.geom.{CrsTransformer, GridMapping, GridMappingInference}
import graft.kernel.TriangleRasterizer
import graft.model.Tile
import graft.model.Policies.VarPolicy

/** Rectification of an irregular (swath) source grid — with 2D per-pixel
  * coordinate images — onto a regular target grid. The Spark build of
  * `rectify_dataset` (reference: xcube_resampling/rectify.py:54-179).
  *
  * Stages (SURVEY.md §3.3):
  *  1. (optional, different CRS) forward-transform the 2D coord images
  *     into the target CRS (reference: rectify.py:182-231)
  *  2. driver plan: per-target-tile source ij bbox by scanning the
  *     coord images — a filter + min/max aggregate over the coord pixel
  *     table, batched into ONE Spark job for all tiles
  *     (reference: rectify.py:329-344, base.py:535-629)
  *  3. lookup-image stage: per target tile, rasterize source quads
  *     (two triangles each) writing fractional source (i, j) —
  *     `TriangleRasterizer` (reference: rectify.py:373-576)
  *  4. per-variable gather through the lookup image
  *     (reference: rectify.py:579-734)
  *
  * Both stages plan with [[TileGather.plan]] and gather on
  * [[TileGather.byTargetTile]], the exchange affine and reproject run
  * on. In stage 4 each lookup tile travels through that exchange as a
  * [[TileGather.Piece]] named [[LookupName]], ahead of the (var, band)
  * pieces of its target tile, so the lookup is shipped and read once for
  * all variables (the reference shares it across vars too,
  * rectify.py:146-174). A target tile with no lookup reads its (var,
  * band)s through empty windows in the same exchange, and its run,
  * having no lookup at its head, is sampled to fill.
  */
object RectifyOp {

  val UvDelta = 1e-3 // reference: constants.py:80

  /** The varName of a lookup piece. The empty string sorts ahead of
    * every variable, so a lookup heads its target tile's run. Its piece
    * holds the target tile's srcI ++ srcJ (pw x ph each) and, as its
    * window, the source extent the lookup reads.
    */
  private val LookupName = ""

  /** Rectify `tiles` (vars on the irregular source grid) given coord
    * tiles holding 2D x/y images (varName "x" and "y" on the SAME
    * tiling). Returns target tiles.
    *
    * The lookup is materialized via `localCheckpoint` (computed once,
    * shared by the plan-derivation and gather passes), NOT `cache()`:
    * cached data is pinned by the session's CacheManager until an
    * explicit unpersist, so every rectify call in a long-lived session
    * would leak blocks forever — checkpoint blocks are instead freed by
    * the ContextCleaner as soon as the caller drops the result.
    */
  def rectify(
      tiles: Dataset[Tile],
      coordTiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    require(!policies.contains(LookupName), "rectify: no variable may be named \"\", the lookup tiles' name")
    val (tiles2, coords2, srcGm2) =
      downscaleSource(tiles, coordTiles, srcGm, dstGm, policies)
    val lookup = computeLookup(coords2, srcGm2, dstGm).localCheckpoint()
    graft.model.Lineage.retire(lookup)
    gatherVars(tiles2, lookup, srcGm2, dstGm, policies)
  }

  val ScaleLimit = 0.95 // reference: constants.py:79

  /** Pre-aggregation rewrite: when the (estimated) source resolution is
    * finer than the target's, affine-downscale the source — INCLUDING
    * its 2D coordinate images — in pure index space, then re-infer the
    * source mapping (reference: rectify.py:234-260).
    */
  def downscaleSource(
      tiles: Dataset[Tile],
      coordTiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      policies: Map[String, VarPolicy]): (Dataset[Tile], Dataset[Tile], GridMapping) = {
    val xScale = srcGm.xRes / dstGm.xRes
    val yScale = srcGm.yRes / dstGm.yRes
    if (xScale >= ScaleLimit && yScale >= ScaleLimit) (tiles, coordTiles, srcGm)
    else {
      val w = math.max(2, math.round(xScale * srcGm.width).toInt)
      val h = math.max(2, math.round(yScale * srcGm.height).toInt)
      val m = graft.geom.Affine.scaleTranslate(1.0 / xScale, 1.0 / yScale, 0.0, 0.0)
      val gmSmall = srcGm.copy(
        width = w, height = h,
        tileWidth = math.min(srcGm.tileWidth, w), tileHeight = math.min(srcGm.tileHeight, h),
        xRes = srcGm.xRes / xScale, yRes = srcGm.yRes / yScale)
      // triangular -> bilinear for the prepass (reference: utils.py:239-251)
      val dataPolicies = policies.view.mapValues(p =>
        if (p.interp == graft.kernel.Interp.TRIANGULAR)
          p.copy(interp = graft.kernel.Interp.BILINEAR) else p).toMap
      // coords resolve from the same option set as the data vars
      // (reference passes the one interp_methods to resample_dataset)
      val coordInterp = dataPolicies.values.map(_.interp).toSet.toList match {
        case one :: Nil => one
        case _ => graft.kernel.Interp.BILINEAR
      }
      val coordPolicies = Map(
        "x" -> VarPolicy(coordInterp, graft.kernel.Reducers.Mean, false, Double.NaN,
          graft.model.Policies.F64),
        "y" -> VarPolicy(coordInterp, graft.kernel.Reducers.Mean, false, Double.NaN,
          graft.model.Policies.F64))
      val tiles2 = AffineOp.resampleWithMatrix(tiles, srcGm, gmSmall, m, dataPolicies)
      val coords2 = AffineOp.resampleWithMatrix(coordTiles, srcGm, gmSmall, m, coordPolicies)
      val srcGm2 = GridMappingInference.fromCoords2D(
        coords2, w, h, gmSmall.tileWidth, gmSmall.tileHeight, srcGm.crs)
      (tiles2, coords2, srcGm2)
    }
  }

  /** Transform 2D coordinate images into another CRS
    * (reference: rectify.py:182-231) — a narrow per-tile map over the
    * paired x/y coord tiles.
    */
  def transformCoords(
      coordTiles: Dataset[Tile], from: graft.geom.Crs, to: graft.geom.Crs): Dataset[Tile] = {
    val spark = coordTiles.sparkSession
    import spark.implicits._
    val t = CrsTransformer(from, to)
    if (t.isIdentity) coordTiles
    else coordTiles
      .groupByKey(c => (c.band, c.tj, c.ti))
      .flatMapGroups { (key: (Int, Int, Int), ts: Iterator[Tile]) =>
        val (xs, ys) = GridMappingInference.xyPair(key._2, key._3, ts)
        val nx = xs.data.clone(); val ny = ys.data.clone()
        var k = 0
        while (k < nx.length) {
          val (px, py) = t.transformPoint(nx(k), ny(k))
          nx(k) = px; ny(k) = py
          k += 1
        }
        Seq(xs.copy(data = nx), ys.copy(data = ny))
      }
  }

  /** Stage 2+3: per-target-tile source bbox plan (one aggregate job over
    * the coord tiles — each pixel bins ANALYTICALLY into the few target
    * tiles whose grown bbox can contain it, O(1) per pixel instead of a
    * loop over every tile), then the rasterization gather. Only target
    * tiles that some triangle reaches get a lookup piece: a tile with no
    * window gets empty x/y windows, which hold no quad. On large
    * grids [[TileGather.plan]] keeps the windows and plan as Datasets,
    * so nothing driver-side scales with tile count.
    */
  private[ops] def computeLookup(
      coordTiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping): Dataset[TileGather.Piece] = {
    val spark = coordTiles.sparkSession
    import spark.implicits._

    // empirical xy border growing with tile count
    // (reference: rectify.py:329-344)
    val numTilesXF = dstGm.width.toDouble / dstGm.tileWidth
    val numTilesYF = dstGm.height.toDouble / dstGm.tileHeight
    val xyBorder = math.min(
      math.min(2 * numTilesXF * dstGm.xRes, 2 * numTilesYF * dstGm.yRes),
      math.min(0.5 * (dstGm.xMax - dstGm.xMin), 0.5 * (dstGm.yMax - dstGm.yMin)))

    val srcTw = srcGm.tileWidth; val srcTh = srcGm.tileHeight
    val dtw = dstGm.tileWidth; val dth = dstGm.tileHeight
    val dW = dstGm.width; val dH = dstGm.height
    val dXMin = dstGm.xMin; val dYMin = dstGm.yMin; val dYMax = dstGm.yMax
    val dXRes = dstGm.xRes; val dYRes = dstGm.yRes
    val jUp = dstGm.isJAxisUp
    val nTx = dstGm.numTilesX; val nTy = dstGm.numTilesY

    // ONE scan of the coord tiles: each coord pixel votes min/max into
    // the target tiles whose grown bbox contains it (reference numba
    // scan: gridmapping/bboxes.py:28-106 — same pixel-center-vs-grown-
    // bbox predicate, but the candidate tiles come from O(1) index
    // arithmetic on the regular target grid, not a scan of all boxes)
    val partials = coordTiles
      .groupByKey(c => (c.tj, c.ti))
      .flatMapGroups { (key: (Int, Int), ts: Iterator[Tile]) =>
        val (xs, ys) = GridMappingInference.xyPair(key._1, key._2, ts)
        val acc = new java.util.HashMap[Long, Array[Int]]()
        val spanX = dtw * dXRes; val spanY = dth * dYRes
        var j = 0
        while (j < xs.h) {
          var i = 0
          while (i < xs.w) {
            val x = xs.data(j * xs.w + i); val y = ys.data(j * xs.w + i)
            if (!x.isNaN && !y.isNaN) {
              val gi = xs.ti * srcTw + i; val gj = xs.tj * srcTh + j
              // conservative candidate ranges (±1 tile), exact
              // grown-bbox predicate applied per candidate
              var tiLo = math.floor((x - dXMin - xyBorder) / spanX).toInt - 1
              var tiHi = math.floor((x - dXMin + xyBorder) / spanX).toInt + 1
              if (tiLo < 0) tiLo = 0
              if (tiHi > nTx - 1) tiHi = nTx - 1
              val yOff = if (jUp) y - dYMin else dYMax - y
              var tjLo = math.floor((yOff - xyBorder) / spanY).toInt - 1
              var tjHi = math.floor((yOff + xyBorder) / spanY).toInt + 1
              if (tjLo < 0) tjLo = 0
              if (tjHi > nTy - 1) tjHi = nTy - 1
              var dtj = tjLo
              while (dtj <= tjHi) {
                var dti = tiLo
                while (dti <= tiHi) {
                  val i0 = dti * dtw; val i1 = math.min(i0 + dtw, dW)
                  val j0 = dtj * dth; val j1 = math.min(j0 + dth, dH)
                  val bx0 = dXMin + i0 * dXRes - xyBorder
                  val bx1 = dXMin + i1 * dXRes + xyBorder
                  val by0 = (if (jUp) dYMin + j0 * dYRes else dYMax - j1 * dYRes) - xyBorder
                  val by1 = (if (jUp) dYMin + j1 * dYRes else dYMax - j0 * dYRes) + xyBorder
                  if (x >= bx0 && x <= bx1 && y >= by0 && y <= by1) {
                    val key = (dtj.toLong << 32) | (dti.toLong & 0xFFFFFFFFL)
                    var e = acc.get(key)
                    if (e == null) {
                      e = Array(gi, gj, gi, gj)
                      acc.put(key, e)
                    } else {
                      if (gi < e(0)) e(0) = gi
                      if (gj < e(1)) e(1) = gj
                      if (gi > e(2)) e(2) = gi
                      if (gj > e(3)) e(3) = gj
                    }
                  }
                  dti += 1
                }
                dtj += 1
              }
            }
            i += 1
          }
          j += 1
        }
        val it = acc.entrySet().iterator()
        new Iterator[(Int, Int, Int, Int, Int, Int)] {
          def hasNext: Boolean = it.hasNext
          def next(): (Int, Int, Int, Int, Int, Int) = {
            val e = it.next()
            val k = e.getKey; val v = e.getValue
            ((k >> 32).toInt, k.toInt, v(0), v(1), v(2), v(3))
          }
        }
      }

    // merge partials per target tile, then apply the reference's window
    // border: ij_border = 1 and the inclusive +1 slice end
    // (reference: rectify.py:343-344, 397-399)
    val srcWd = srcGm.width; val srcHt = srcGm.height
    val windowRows0 = partials
      .groupByKey(r => (r._1, r._2))
      .reduceGroups { (a, b) =>
        (a._1, a._2,
          math.min(a._3, b._3), math.min(a._4, b._4),
          math.max(a._5, b._5), math.max(a._6, b._6))
      }
      .map { case (_, (dtj, dti, i0, j0, i1, j1)) =>
        TileGather.WindowRow(dtj, dti,
          math.max(0, i0 - 1), math.max(0, j0 - 1),
          math.min(srcWd, i1 + 1 + 1), math.min(srcHt, j1 + 1 + 1))
      }

    // each target tile's x and y windows, assembled from coord pieces
    // (sorted by (varName, band): "x" before "y")
    val reads = TileGather.plan(srcGm, nTx, nTy, windowRows0)
    TileGather.byTargetTile(TileGather.pieces(coordTiles, srcGm, reads), TileGather.TargetTiles.of(dstGm)) {
      (dtj, dti, pcs) =>
        val wins = TileGather.windowRuns(pcs).map { case (v, _, win) => v -> win }.toMap
        val xWin = wins("x"); val yWin = wins("y")
        val h = dstGm.tileH(dtj); val w = dstGm.tileW(dti)
        val srcI = TileGather.filled(h * w, Double.NaN)
        val srcJ = TileGather.filled(h * w, Double.NaN)
        val dstXOffset = dXMin + dti * dtw * dXRes
        val (dstYOffset, dstYScale) =
          if (jUp) (dYMin + dtj * dth * dYRes, dYRes)
          else (dYMax - dtj * dth * dYRes, -dYRes)
        TriangleRasterizer.rasterize(
          xWin.data, yWin.data, xWin.w, xWin.h, xWin.i0, xWin.j0,
          dstXOffset, dstYOffset, dXRes, dstYScale,
          w, h, UvDelta, srcI, srcJ)
        lookupPiece(dtj, dti, h, w, srcI, srcJ, srcWd, srcHt).iterator
    }
  }

  /** The lookup piece of target tile (dtj, dti). Its window is the
    * source (i, j) extent the lookup reads (reference:
    * rectify.py:622-630); None when no lookup pixel is set, so a
    * target tile no triangle reaches gets no lookup.
    */
  private def lookupPiece(
      dtj: Int, dti: Int, h: Int, w: Int, srcI: Array[Double], srcJ: Array[Double],
      srcW: Int, srcH: Int): Option[TileGather.Piece] = {
    var i0 = Double.MaxValue; var j0 = Double.MaxValue
    var i1 = Double.MinValue; var j1 = Double.MinValue
    var k = 0
    while (k < srcI.length) {
      val fi = srcI(k); val fj = srcJ(k)
      if (!fi.isNaN) {
        if (fi < i0) i0 = fi; if (fi > i1) i1 = fi
        if (fj < j0) j0 = fj; if (fj > j1) j1 = fj
      }
      k += 1
    }
    if (i1 < i0) None
    else Some(TileGather.Piece(LookupName, 0, dtj, dti,
      i0.toInt, j0.toInt, math.min(i1.toInt + 2, srcW), math.min(j1.toInt + 2, srcH),
      0, 0, w, h, srcI ++ srcJ))
  }

  /** Stage 4: sample every variable through the lookup image. Each
    * lookup's window plans the variable pieces of its target tile; one
    * [[TileGather.byTargetTile]] exchange carries the lookup pieces and
    * the variable pieces, and each run samples every (var, band) of its
    * target tile through the lookup at its head. A target tile with no
    * lookup has no window, so its (var, band)s arrive as empty pieces
    * with no lookup ahead of them and are filled, as `gatherValue`
    * samples a NaN lookup.
    */
  private def gatherVars(
      tiles: Dataset[Tile],
      lookup: Dataset[TileGather.Piece],
      srcGm: GridMapping,
      dstGm: GridMapping,
      policies: Map[String, VarPolicy]): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._

    val reads = TileGather.plan(srcGm, dstGm.numTilesX, dstGm.numTilesY,
      lookup.select("dtj", "dti", "i0", "j0", "i1", "j1").as[TileGather.WindowRow])
    val srcW = srcGm.width; val srcH = srcGm.height
    val pieces = lookup.union(TileGather.pieces(tiles, srcGm, reads))
    TileGather.byTargetTile(pieces, TileGather.TargetTiles.of(dstGm)) { (dtj, dti, pcs) =>
      val run = pcs.buffered
      if (run.head.varName != LookupName) {
        val h = dstGm.tileH(dtj); val w = dstGm.tileW(dti)
        TileGather.windowRuns(run).map { case (v, b, _) =>
          Tile(v, b, dtj, dti, h, w, TileGather.filled(h * w, policies(v).fill))
        }
      } else {
        val lt = run.next() // LookupName sorts first
        val n = lt.pw * lt.ph
        TileGather.windowRuns(run).map { case (v, b, win) =>
          val pol = policies(v)
          val out = new Array[Double](n)
          var k = 0
          while (k < n) {
            out(k) = TriangleRasterizer.gatherValue(
              win, srcW, srcH, lt.data(k), lt.data(n + k), pol.interp, pol.fill)
            k += 1
          }
          Tile(v, b, dtj, dti, lt.ph, lt.pw, out)
        }
      }
    }
  }
}
