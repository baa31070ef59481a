package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import graft.geom.GridMapping
import graft.kernel.Window
import graft.model.Tile

/** The one real shuffle of the resampling pipelines: align source tiles
  * to the target tiles whose kernels need them, then run a per-target-
  * tile kernel over the assembled source windows.
  *
  * The reference does this as `_reorganize_data_array_slice`
  * (reference: xcube_resampling/reproject.py:499-530) — a dask gather
  * that concatenates each target tile's source window into one dense
  * array. Here it is a join of the tile->window plan against the source
  * tile table, a narrow crop of each joined tile to its window, then
  * `groupByKey(target tile).flatMapSortedGroups(assemble + kernel)`.
  * One group holds every (var, band) of a target tile, so the kernel's
  * per-tile work (the reference's `_transform_gridpoints`,
  * reproject.py:472-496) runs once for all variables.
  *
  * Scale notes: the plan has numTargetTiles x overlap rows and is
  * GENERATED DISTRIBUTED (a Dataset flatMap over the target tile index
  * range) — nothing driver-side scales with tile count. The plan⋈tiles
  * join is a plain equi-join on (srcTj, srcTi): AQE broadcasts the plan
  * side when it is small and falls back to a shuffle join at large tile
  * counts, so a 10^7-tile image never materializes a multi-GB plan on
  * the driver. Each source tile is cut down to the part each reading
  * target tile needs before the exchange, so shuffle volume is
  * O(source bytes) (plus the windows' small overlap), not O(source
  * bytes x overlap). Empty windows (plan rows with srcTj = -1) still
  * produce a fill-only tile — matching the reference's `-1`-bbox fill
  * blocks (reference: reproject.py:415-423, rectify.py:393-396).
  */
object TileGather {

  /** One plan row: target tile (dtj, dti) reads source window
    * [i0, i1) x [j0, j1); srcTj/srcTi name a source tile overlapping it.
    */
  final case class PlanRow(
      dtj: Int, dti: Int, i0: Int, j0: Int, i1: Int, j1: Int,
      srcTj: Int, srcTi: Int)

  /** One source window per target tile; i0 < 0 means "no source
    * coverage" (fill-only task).
    */
  final case class WindowRow(dtj: Int, dti: Int, i0: Int, j0: Int, i1: Int, j1: Int)

  /** Expand one target-tile window into its (target tile, source tile)
    * plan rows. A window with i0 < 0 yields a single srcTj = -1
    * (fill-only) row.
    */
  def planRowsOf(
      srcTileW: Int, srcTileH: Int, srcNumTilesX: Int, srcNumTilesY: Int,
      w: WindowRow): Seq[PlanRow] =
    if (w.i0 < 0) Seq(PlanRow(w.dtj, w.dti, -1, -1, -1, -1, -1, -1))
    else {
      val stj0 = math.max(0, w.j0 / srcTileH)
      val stj1 = math.min(srcNumTilesY - 1, (w.j1 - 1) / srcTileH)
      val sti0 = math.max(0, w.i0 / srcTileW)
      val sti1 = math.min(srcNumTilesX - 1, (w.i1 - 1) / srcTileW)
      for (stj <- stj0 to stj1; sti <- sti0 to sti1)
        yield PlanRow(w.dtj, w.dti, w.i0, w.j0, w.i1, w.j1, stj, sti)
    }

  /** Driver-side plan expansion (small tile counts / tests). */
  def planFromWindows(
      srcGm: GridMapping,
      windows: Seq[(Int, Int, (Int, Int, Int, Int))]): Seq[PlanRow] =
    windows.flatMap { case (dtj, dti, (i0, j0, i1, j1)) =>
      planRowsOf(srcGm.tileWidth, srcGm.tileHeight, srcGm.numTilesX, srcGm.numTilesY,
        WindowRow(dtj, dti, i0, j0, i1, j1))
    }

  /** Distributed plan expansion: the scale path — plan rows never touch
    * the driver.
    */
  def planDs(srcGm: GridMapping, windows: Dataset[WindowRow]): Dataset[PlanRow] = {
    val spark = windows.sparkSession
    import spark.implicits._
    val tw = srcGm.tileWidth; val th = srcGm.tileHeight
    val ntx = srcGm.numTilesX; val nty = srcGm.numTilesY
    windows.flatMap(w => planRowsOf(tw, th, ntx, nty, w))
  }

  /** Below this many TARGET tiles the plan is built on the driver and
    * broadcast (a few MB at most — lower latency for small grids and
    * tests); above it, the plan is generated distributed and joined, so
    * a 10^7-tile raster never materializes its plan on the driver.
    */
  val DriverPlanMaxTiles: Long = 4096L

  /** A kernel of the shared gather, called once per target tile
    * (dtj, dti). It returns the sampler that turns each (var, band)'s
    * assembled source window into that variable's output tile, so work
    * that depends only on the target tile (the CRS transform of its
    * pixel centres) is done once for all variables. The outer call must
    * stay cheap: fill-only tiles call it once per (var, band) with an
    * empty window, so per-tile work belongs in a lazy value.
    */
  type TileKernel = (Int, Int) => (String, Int, Window) => Tile

  /** Plan + gather for window functions of the target tile index: picks
    * the driver/broadcast path for small grids, the distributed path at
    * scale. `windowOf` must be pure (it runs in executors at scale).
    */
  def gatherWithWindows(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstNumTilesX: Int, dstNumTilesY: Int,
      windowOf: (Int, Int) => WindowRow,
      kernel: TileKernel): Dataset[Tile] = {
    val n = dstNumTilesX.toLong * dstNumTilesY
    if (n <= DriverPlanMaxTiles) {
      val windows = for (dtj <- 0 until dstNumTilesY; dti <- 0 until dstNumTilesX)
        yield { val w = windowOf(dtj, dti); (w.dtj, w.dti, (w.i0, w.j0, w.i1, w.j1)) }
      gather(tiles, srcGm, planFromWindows(srcGm, windows), kernel)
    } else {
      val spark = tiles.sparkSession
      import spark.implicits._
      val nTx = dstNumTilesX
      val windowsDs = spark.range(n).map(id => windowOf((id / nTx).toInt, (id % nTx).toInt))
      gatherDs(tiles, srcGm, planDs(srcGm, windowsDs), kernel)
    }
  }

  /** The same gather for a kernel of one (var, band, target tile). */
  def gatherWithWindows(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstNumTilesX: Int, dstNumTilesY: Int,
      windowOf: (Int, Int) => WindowRow,
      kernel: (String, Int, Int, Int, Window) => Tile): Dataset[Tile] =
    gatherWithWindows(tiles, srcGm, dstNumTilesX, dstNumTilesY, windowOf,
      (dtj: Int, dti: Int) => (v: String, b: Int, win: Window) => kernel(v, b, dtj, dti, win))

  /** Run `kernel` once per target tile, and its sampler once per
    * (var, band) over the source window assembled from the joined
    * source tiles. The window is never null; it is zero-sized for
    * fill-only tiles.
    */
  def gather(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      plan: Seq[PlanRow],
      kernel: TileKernel): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    // driver knows whether fill tasks exist — skip their stages if not
    gatherDs(tiles, srcGm, spark.createDataset(plan), kernel,
      mayHaveFills = plan.exists(_.srcTj < 0))
  }

  /** Dataset-plan gather — the scale path. Each joined source tile is
    * cropped to its target window before the exchange; the group of a
    * target tile arrives sorted by (var, band) and is streamed one
    * assembled window at a time. `mayHaveFills = false` skips the
    * fill-task stages when the caller knows no srcTj = -1 rows exist.
    */
  def gatherDs(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      plan: Dataset[PlanRow],
      kernel: TileKernel,
      mayHaveFills: Boolean = true): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._

    val realPlan = plan.filter(_.srcTj >= 0)
    val srcTileW = srcGm.tileWidth; val srcTileH = srcGm.tileHeight
    val pieces = tiles
      .joinWith(realPlan,
        tiles("tj") === realPlan("srcTj") && tiles("ti") === realPlan("srcTi"), "inner")
      .map { case (t, p) => crop(t, p, srcTileW, srcTileH) }

    val grouped = pieces
      .groupByKey(pc => (pc.dtj, pc.dti))
      .flatMapSortedGroups(col("varName"), col("band")) {
        (key: (Int, Int), rows: Iterator[Piece]) =>
          val sample = kernel(key._1, key._2)
          windowRuns(rows).map { case (v, b, win) => sample(v, b, win) }
      }

    if (!mayHaveFills) grouped
    else {
      // fill-only tasks (srcTj = -1 rows never join): cross with the
      // (var, band) inventory — tiny — and emit fill tiles DISTRIBUTED
      val fillPlans = plan.filter(_.srcTj < 0)
      val varsBands = tiles.map(t => (t.varName, t.band)).distinct()
      val empty = new Window(0, 0, 0, 0, Array.empty)
      val fills = fillPlans
        .joinWith(broadcast(varsBands), lit(true), "inner")
        .map { case (p, (v, b)) => kernel(p.dtj, p.dti)(v, b, empty) }
      grouped.union(fills)
    }
  }

  /** One source tile cut down to a target tile's window: the source
    * pixels `[pi0, pi0 + pw) x [pj0, pj0 + ph)`, row-major, bound for
    * the window `[i0, i1) x [j0, j1)` of target tile (dtj, dti).
    */
  final case class Piece(
      varName: String, band: Int, dtj: Int, dti: Int,
      i0: Int, j0: Int, i1: Int, j1: Int,
      pi0: Int, pj0: Int, pw: Int, ph: Int,
      data: Array[Double])

  /** Crop source tile `t` to the window of plan row `p`. */
  def crop(t: Tile, p: PlanRow, srcTileW: Int, srcTileH: Int): Piece = {
    val tI0 = t.ti * srcTileW; val tJ0 = t.tj * srcTileH
    val ci0 = math.max(p.i0, tI0); val cj0 = math.max(p.j0, tJ0)
    val pw = math.max(0, math.min(p.i1, tI0 + t.w) - ci0)
    val ph = math.max(0, math.min(p.j1, tJ0 + t.h) - cj0)
    val data = new Array[Double](pw * ph)
    var r = 0
    while (r < ph) {
      System.arraycopy(t.data, (cj0 - tJ0 + r) * t.w + (ci0 - tI0), data, r * pw, pw)
      r += 1
    }
    Piece(t.varName, t.band, p.dtj, p.dti, p.i0, p.j0, p.i1, p.j1, ci0, cj0, pw, ph, data)
  }

  /** Copy pieces of one window into a dense window array; cells no
    * piece covers stay NaN, as in [[assembleWindow]].
    */
  def assemblePieces(pieces: Seq[Piece]): Window = {
    val p = pieces.head
    val w = p.i1 - p.i0; val h = p.j1 - p.j0
    val data = Array.fill(w * h)(Double.NaN)
    pieces.foreach { pc =>
      var r = 0
      while (r < pc.ph) {
        System.arraycopy(pc.data, r * pc.pw, data, (pc.pj0 - p.j0 + r) * w + (pc.pi0 - p.i0), pc.pw)
        r += 1
      }
    }
    new Window(p.i0, p.j0, w, h, data)
  }

  /** Stream the (var, band) windows of one target tile's pieces, which
    * arrive sorted by (var, band): only one window's pieces are held at
    * a time.
    */
  private def windowRuns(rows: Iterator[Piece]): Iterator[(String, Int, Window)] = {
    val it = rows.buffered
    new Iterator[(String, Int, Window)] {
      def hasNext: Boolean = it.hasNext
      def next(): (String, Int, Window) = {
        val first = it.next()
        val run = ArrayBuffer(first)
        while (it.hasNext && it.head.band == first.band && it.head.varName == first.varName)
          run += it.next()
        (first.varName, first.band, assemblePieces(run.toSeq))
      }
    }
  }

  /** Copy the overlapping parts of each source tile into a dense window
    * array; cells no tile covers stay NaN (kernels treat NaN / fill at
    * sample time).
    */
  def assembleWindow(
      p: PlanRow, tiles: Array[Tile], srcTileW: Int, srcTileH: Int): Window = {
    val w = p.i1 - p.i0; val h = p.j1 - p.j0
    val data = Array.fill(math.max(0, w * h))(Double.NaN)
    tiles.foreach { t =>
      val tI0 = t.ti * srcTileW; val tJ0 = t.tj * srcTileH
      val ci0 = math.max(p.i0, tI0); val ci1 = math.min(p.i1, tI0 + t.w)
      val cj0 = math.max(p.j0, tJ0); val cj1 = math.min(p.j1, tJ0 + t.h)
      var j = cj0
      while (j < cj1) {
        var i = ci0
        while (i < ci1) {
          data((j - p.j0) * w + (i - p.i0)) = t.data((j - tJ0) * t.w + (i - tI0))
          i += 1
        }
        j += 1
      }
    }
    new Window(p.i0, p.j0, math.max(0, w), math.max(0, h), data)
  }
}
