package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, least, lit}
import org.apache.spark.sql.types.{IntegerType, LongType}
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
  * array. Here it is the tile->window plan ([[plan]]) applied to the
  * source tile table, a narrow crop of each source tile to every window
  * that reads it ([[pieces]]), then one exchange that deals contiguous
  * runs of whole target tiles over the partitions ([[byTargetTile]])
  * and a sorted pass that assembles each window and runs the kernel.
  * One run holds every (var, band) of a target tile, so the kernel's
  * per-tile work (the reference's `_transform_gridpoints`,
  * reproject.py:472-496) runs once for all variables. Rectify builds
  * both of its stages from the same parts ([[plan]], [[pieces]],
  * [[byTargetTile]], [[windowRuns]]); its lookup tile rides the same
  * exchange at the head of its target tile's run.
  * Every raster gather of the engine therefore groups target tiles in
  * [[byTargetTile]] and plans in [[plan]].
  *
  * Scale notes: every target tile has at least one plan row, so the
  * one exchange carries every output tile and no second branch joins
  * it after. Up to [[DriverPlanMaxTiles]] target tiles the plan is
  * built on the driver as a map from source tile to the plan rows that
  * read it. [[pieces]] captures it in one `flatMap` over the source
  * tiles, coalesced (narrow, no exchange) to at most the shuffle
  * partitions: no join, no broadcast job, and one map task per shuffle
  * partition rather than one per source partition. Nothing is ever
  * broadcast from the driver, so no size estimate can make the planner
  * ship the raster (a source mapped from `spark.range` keeps the
  * range's estimate of 8 bytes per row, whatever its payload holds).
  * Above [[DriverPlanMaxTiles]] the plan (numTargetTiles x overlap
  * rows) is GENERATED DISTRIBUTED (a Dataset flatMap over the windows)
  * and joined to the source tiles, so nothing driver-side scales with
  * tile count and a 10^7-tile image never materializes a multi-GB plan
  * on the driver. Each source tile is cut down to the part each reading
  * target tile needs before the exchange, so shuffle volume is the
  * source bytes times the windows' overlap: close to O(source bytes)
  * when windows hug their tiles (affine, reproject), but not for
  * rectify's lookup windows, which `xyBorder` grows with the target
  * tile count until each is most of the swath. A target tile with no
  * window reads one source tile through an empty window
  * ([[planRowsOf]]): its empty (var, band) pieces cross the same
  * exchange and the kernel samples them to fill, as the reference's
  * per-block task does for a `-1` bbox (reference: reproject.py:415-423,
  * rectify.py:393-396). Only rectify's windows leave a tile without a
  * row; [[plan]] finds those, with an anti-join at scale. The source
  * must be densely tiled (see [[graft.model.Tile]]): a (var, band)
  * missing the source tile that a window or fill row reads gets no
  * output there.
  */
object TileGather {

  /** One plan row: target tile (dtj, dti) reads source window
    * [i0, i1) x [j0, j1); srcTj/srcTi name a source tile overlapping it
    * (any source tile when the window is empty, i0 = -1).
    */
  final case class PlanRow(
      dtj: Int, dti: Int, i0: Int, j0: Int, i1: Int, j1: Int,
      srcTj: Int, srcTi: Int)

  /** One source window per target tile; i0 < 0 means "no source
    * coverage" (the tile samples every (var, band) to its fill).
    */
  final case class WindowRow(dtj: Int, dti: Int, i0: Int, j0: Int, i1: Int, j1: Int)

  /** Expand one target-tile window into its (target tile, source tile)
    * plan rows. A tile with no window (i0 < 0) gets one row with an
    * empty window that reads source tile k mod (source tiles), k =
    * dtj · dstNumTilesX + dti: its (var, band) pieces are empty and
    * still cross [[byTargetTile]], so the kernel samples each from an
    * empty window, like the reference's `-1`-bbox blocks (reference:
    * reproject.py:415-423, rectify.py:393-396). A source with no tiles
    * has nothing to read, so such a tile gets no row.
    */
  def planRowsOf(
      srcTileW: Int, srcTileH: Int, srcNumTilesX: Int, srcNumTilesY: Int, dstNumTilesX: Int,
      w: WindowRow): Seq[PlanRow] =
    if (w.i0 < 0) {
      val numSrc = srcNumTilesX.toLong * srcNumTilesY
      if (numSrc == 0) Nil
      else {
        val k = ((w.dtj.toLong * dstNumTilesX + w.dti) % numSrc).toInt
        Seq(PlanRow(w.dtj, w.dti, -1, -1, -1, -1, k / srcNumTilesX, k % srcNumTilesX))
      }
    } else {
      val stj0 = math.max(0, w.j0 / srcTileH)
      val stj1 = math.min(srcNumTilesY - 1, (w.j1 - 1) / srcTileH)
      val sti0 = math.max(0, w.i0 / srcTileW)
      val sti1 = math.min(srcNumTilesX - 1, (w.i1 - 1) / srcTileW)
      for (stj <- stj0 to stj1; sti <- sti0 to sti1)
        yield PlanRow(w.dtj, w.dti, w.i0, w.j0, w.i1, w.j1, stj, sti)
    }

  /** Below this many TARGET tiles the plan is built on the driver and
    * captured in the pieces' closure (a few MB at most — lower latency
    * for small grids and tests); above it, the plan is generated
    * distributed and joined, so a 10^7-tile raster never materializes
    * its plan on the driver.
    */
  val DriverPlanMaxTiles: Long = 4096L

  /** A gather's plan: the rows that read each source tile, keyed by
    * (srcTj, srcTi), either built on the driver or a distributed
    * Dataset. Every target tile has at least one row.
    */
  private[ops] sealed trait Reads
  private[ops] final case class DriverReads(bySource: Map[(Int, Int), Array[PlanRow]]) extends Reads
  private[ops] final case class DistributedReads(rows: Dataset[PlanRow]) extends Reads

  /** The plan for a `dstNumTilesX` x `dstNumTilesY` target grid whose
    * `windows` hold at most one row per target tile and may have none
    * for a tile without a window (rectify's). Up to
    * [[DriverPlanMaxTiles]] target tiles the windows are collected (no
    * job when they are a local relation) and the plan is built on the
    * driver; above it, the tiles with no row are an anti-join of the
    * target tile index range against the windows. Either way a tile
    * with no row reads like one whose window has i0 < 0.
    */
  private[ops] def plan(
      srcGm: GridMapping, dstNumTilesX: Int, dstNumTilesY: Int,
      windows: Dataset[WindowRow]): Reads = {
    val spark = windows.sparkSession
    import spark.implicits._
    val nTx = dstNumTilesX
    val n = nTx.toLong * dstNumTilesY
    if (n <= DriverPlanMaxTiles) {
      val byTile = windows.collect().map(w => (w.dtj, w.dti) -> w).toMap
      readsOnDriver(srcGm, nTx, for (dtj <- 0 until dstNumTilesY; dti <- 0 until nTx)
        yield byTile.getOrElse((dtj, dti), WindowRow(dtj, dti, -1, -1, -1, -1)))
    } else {
      val noRow = spark.range(n)
        .select((col("id") / nTx).cast(IntegerType).as("dtj"), (col("id") % nTx).cast(IntegerType).as("dti"))
        .join(windows.select("dtj", "dti"), Seq("dtj", "dti"), "left_anti")
        .select(col("dtj"), col("dti"), lit(-1).as("i0"), lit(-1).as("j0"), lit(-1).as("i1"), lit(-1).as("j1"))
        .as[WindowRow]
      readsDistributed(srcGm, nTx, windows.unionByName(noRow))
    }
  }

  /** The plan of at most [[DriverPlanMaxTiles]] target tiles, built on
    * the driver from one window per target tile.
    */
  private def readsOnDriver(srcGm: GridMapping, dstNumTilesX: Int, windows: Seq[WindowRow]): Reads =
    DriverReads(windows
      .flatMap(w => planRowsOf(srcGm.tileWidth, srcGm.tileHeight, srcGm.numTilesX, srcGm.numTilesY, dstNumTilesX, w))
      .groupBy(p => (p.srcTj, p.srcTi))
      .map { case (k, ps) => k -> ps.toArray })

  /** The plan of a Dataset of one window per target tile, expanded in
    * the executors.
    */
  private def readsDistributed(srcGm: GridMapping, dstNumTilesX: Int, windows: Dataset[WindowRow]): Reads = {
    val spark = windows.sparkSession
    import spark.implicits._
    val tw = srcGm.tileWidth; val th = srcGm.tileHeight
    val ntx = srcGm.numTilesX; val nty = srcGm.numTilesY
    DistributedReads(windows.flatMap(w => planRowsOf(tw, th, ntx, nty, dstNumTilesX, w)))
  }

  /** The target grid as [[byTargetTile]] deals it: `width` x `height`
    * pixels in `tileW` x `tileH` tiles, the last row and column possibly
    * smaller. Each target tile weighs its pixel count.
    */
  private[ops] final case class TargetTiles(width: Int, height: Int, tileW: Int, tileH: Int) {
    val numTilesX: Int = (width + tileW - 1) / tileW
    val numTilesY: Int = (height + tileH - 1) / tileH
    def numTiles: Long = numTilesX.toLong * numTilesY

    /** The partition of target tile (dtj, dti) among `n`, as a Column
      * of the pieces' dtj and dti: tiles in row-major order fill the
      * partitions in contiguous runs of about equal pixel count. Tile k
      * goes to floor((pixels before k + half of k's) · n / all pixels),
      * in exact integer arithmetic. Every row above dtj is full height
      * and every column left of dti full width, so the pixels before
      * the tile are dtj·tileH·width + (its row's height)·dti·tileW.
      */
    def partitionOf(n: Int): Column = {
      val dtj = col("dtj").cast(LongType); val dti = col("dti").cast(LongType)
      val rowH = least(lit(tileH.toLong), lit(height.toLong) - dtj * tileH)
      val colW = least(lit(tileW.toLong), lit(width.toLong) - dti * tileW)
      val twiceCentre = (dtj * (tileH.toLong * width) + rowH * dti * tileW) * 2 + rowH * colW
      call_function("div", twiceCentre * n.toLong, lit(2L * width * height)).cast(IntegerType)
    }
  }

  private[ops] object TargetTiles {
    def of(gm: GridMapping): TargetTiles = TargetTiles(gm.width, gm.height, gm.tileWidth, gm.tileHeight)

    /** A `numTilesX` x `numTilesY` grid whose tiles all weigh the same. */
    def equal(numTilesX: Int, numTilesY: Int): TargetTiles = TargetTiles(numTilesX, numTilesY, 1, 1)
  }

  /** A kernel of the shared gather, called once per target tile
    * (dtj, dti). It returns the sampler that turns each (var, band)'s
    * assembled source window into that variable's output tile, so work
    * that depends only on the target tile (the CRS transform of its
    * pixel centres) is done once for all variables. A target tile with
    * no window is called once too, and each (var, band) is sampled from
    * an empty window (w = h = 0), so per-tile work that an empty window
    * does not need belongs in a lazy value.
    */
  type TileKernel = (Int, Int) => (String, Int, Window) => Tile

  /** Plan + gather for window functions of the target tile index onto
    * the target grid `dstGm`. The windows are computed where [[plan]]
    * builds the plan: on the driver for small grids, in executors at
    * scale, so `windowOf` must be pure.
    */
  def gatherWithWindows(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstGm: GridMapping,
      windowOf: (Int, Int) => WindowRow,
      kernel: TileKernel): Dataset[Tile] =
    gather(tiles, srcGm, TargetTiles.of(dstGm), windowOf, kernel)

  /** The same gather onto a `dstNumTilesX` x `dstNumTilesY` grid of
    * target tiles of unknown size, dealt as if all were the same size.
    */
  def gatherWithWindows(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      dstNumTilesX: Int, dstNumTilesY: Int,
      windowOf: (Int, Int) => WindowRow,
      kernel: TileKernel): Dataset[Tile] =
    gather(tiles, srcGm, TargetTiles.equal(dstNumTilesX, dstNumTilesY), windowOf, kernel)

  private def gather(
      tiles: Dataset[Tile],
      srcGm: GridMapping,
      target: TargetTiles,
      windowOf: (Int, Int) => WindowRow,
      kernel: TileKernel): Dataset[Tile] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val nTx = target.numTilesX; val nTy = target.numTilesY
    val reads =
      if (target.numTiles <= DriverPlanMaxTiles)
        readsOnDriver(srcGm, nTx, for (dtj <- 0 until nTy; dti <- 0 until nTx) yield windowOf(dtj, dti))
      else readsDistributed(srcGm, nTx, spark.range(target.numTiles).map(id => windowOf((id / nTx).toInt, (id % nTx).toInt)))
    byTargetTile(pieces(tiles, srcGm, reads), target) { (dtj, dti, rows) =>
      val sample = kernel(dtj, dti)
      windowRuns(rows).map { case (v, b, win) => sample(v, b, win) }
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

  /** The gathers' one grouping exchange. Target tiles are dealt over
    * n = min(target tiles, shuffle partitions) partitions in contiguous
    * row-major runs of about equal pixel count
    * ([[TargetTiles.partitionOf]]; `repartitionById`, so no hash can
    * pile tiles into one task), each partition is sorted by (dtj, dti,
    * varName, band), and `perTile` runs once per target tile on its
    * pieces in (var, band) order. `perTile` may leave pieces unread. A
    * partition holds about rows/n + 1 tile rows, so a write partitioned
    * by tile row opens at most rows + n files.
    */
  private[ops] def byTargetTile[T: Encoder](pieces: Dataset[Piece], target: TargetTiles)(
      perTile: (Int, Int, Iterator[Piece]) => Iterator[T]): Dataset[T] = {
    val n = math.max(1L,
      math.min(target.numTiles, pieces.sparkSession.sessionState.conf.numShufflePartitions.toLong)).toInt
    pieces
      .repartitionById(n, target.partitionOf(n))
      .sortWithinPartitions("dtj", "dti", "varName", "band")
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
          val dtj = it.head.dtj; val dti = it.head.dti
          val run = new Iterator[Piece] {
            def hasNext: Boolean = it.hasNext && it.head.dtj == dtj && it.head.dti == dti
            def next(): Piece = it.next()
          }
          perTile(dtj, dti, run) ++ { run.foreach(_ => ()); Iterator.empty[T] }
        }
      }
  }

  /** Every source tile cropped to the window of each plan row that
    * reads it: the pieces a gather groups by target tile. A driver plan
    * is looked up per source tile in one `flatMap`, over the source
    * coalesced to at most the shuffle partitions (narrow, so the map
    * side runs no more tasks than the exchange's reduce side); a
    * distributed plan is joined on (srcTj, srcTi).
    */
  private[ops] def pieces(tiles: Dataset[Tile], srcGm: GridMapping, reads: Reads): Dataset[Piece] = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val srcTileW = srcGm.tileWidth; val srcTileH = srcGm.tileHeight
    reads match {
      case DriverReads(bySource) =>
        tiles.coalesce(spark.sessionState.conf.numShufflePartitions).flatMap { t =>
          bySource.getOrElse((t.tj, t.ti), Array.empty[PlanRow]).iterator.map(p => crop(t, p, srcTileW, srcTileH))
        }
      case DistributedReads(reads) =>
        tiles
          .joinWith(reads, tiles("tj") === reads("srcTj") && tiles("ti") === reads("srcTi"), "inner")
          .map { case (t, p) => crop(t, p, srcTileW, srcTileH) }
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
    * piece covers stay NaN (kernels treat NaN / fill at sample time).
    */
  def assemblePieces(pieces: Seq[Piece]): Window = {
    val p = pieces.head
    val w = p.i1 - p.i0; val h = p.j1 - p.j0
    val data = filled(w * h, Double.NaN)
    pieces.foreach { pc =>
      var r = 0
      while (r < pc.ph) {
        System.arraycopy(pc.data, r * pc.pw, data, (pc.pj0 - p.j0 + r) * w + (pc.pi0 - p.i0), pc.pw)
        r += 1
      }
    }
    new Window(p.i0, p.j0, w, h, data)
  }

  /** A new array of `n` copies of `x`, stored unboxed (`Array.fill`
    * boxes every element through its ClassTag).
    */
  private[ops] def filled(n: Int, x: Double): Array[Double] = {
    val a = new Array[Double](n)
    java.util.Arrays.fill(a, x)
    a
  }

  /** Stream the (var, band) windows of one target tile's pieces, which
    * arrive sorted by (var, band): only one window's pieces are held at
    * a time.
    */
  private[ops] def windowRuns(rows: Iterator[Piece]): Iterator[(String, Int, Window)] = {
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
}
