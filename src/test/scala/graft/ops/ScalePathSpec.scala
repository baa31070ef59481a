package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark._
import graft.geom.{Crs, GridMapping}
import graft.kernel.{Interp, Reducers}
import graft.model.Policies.{F64, VarPolicy}
import graft.model.Raster

/** The hybrid planner switches to the fully distributed plan above
  * `TileGather.DriverPlanMaxTiles` target tiles. These tests cross the
  * threshold with tiny tiles and assert pixel-for-pixel equality with
  * the driver/broadcast path on the SAME grid geometry tiled coarsely —
  * proving the scale path (Dataset windows, plan flatMap, shuffle join,
  * distributed fill tasks from an anti-join of the target tile range)
  * computes exactly what the small path does.
  */
class ScalePathSpec extends AnyFunSuite {
  val nan = Double.NaN

  private def pixelMap(tiles: Seq[graft.model.Tile], gm: GridMapping): Map[(Int, Int), Double] = {
    val out = scala.collection.mutable.Map.empty[(Int, Int), Double]
    tiles.foreach { t =>
      for (j <- 0 until t.h; i <- 0 until t.w)
        out((t.tj * gm.tileHeight + j, t.ti * gm.tileWidth + i)) = t.data(j * t.w + i)
    }
    out.toMap
  }

  private def assertSamePixels(
      a: Map[(Int, Int), Double], b: Map[(Int, Int), Double]): Unit = {
    assert(a.keySet == b.keySet)
    a.foreach { case (k, va) =>
      val vb = b(k)
      assert((va.isNaN && vb.isNaN) || va == vb, s"at $k: $va vs $vb")
    }
  }

  test("affine upscale: distributed plan (4900 tiles) == broadcast plan (16 tiles)") {
    val src = GridMapping.regular(64, 64, 0.0, 0.0, 1.0, 1.0, Crs.Geographic, Some((16, 16)))
    val data = Array.tabulate(64, 64)((j, i) => (j * 64 + i).toDouble)
    val tiles = toDs(tilesFrom("v", data, src))
    val pol = Map("v" -> VarPolicy(Interp.NEAREST, Reducers.Mean, false, nan, F64))
    // 140x140 target overrunning the source on the right/bottom so fill
    // tasks exist on both paths
    def dst(tile: Int) = GridMapping.regular(
      140, 140, 0.0, -6.0, 0.5, 0.5, Crs.Geographic, Some((tile, tile)))
    val dstFine = dst(2)    // 70x70 = 4900 tiles > DriverPlanMaxTiles
    val dstCoarse = dst(35) // 16 tiles -> driver/broadcast path
    assert(dstFine.numTilesX.toLong * dstFine.numTilesY > TileGather.DriverPlanMaxTiles)
    assert(dstCoarse.numTilesX.toLong * dstCoarse.numTilesY <= TileGather.DriverPlanMaxTiles)
    val fine = pixelMap(AffineOp.affineTransform(tiles, src, dstFine, pol).collect().toSeq, dstFine)
    val coarse = pixelMap(AffineOp.affineTransform(tiles, src, dstCoarse, pol).collect().toSeq, dstCoarse)
    assertSamePixels(fine, coarse)
    // sanity: fills really occurred (target overruns the source)
    assert(fine.valuesIterator.exists(_.isNaN))
    assert(fine.valuesIterator.exists(!_.isNaN))
  }

  test("reproject: distributed plan (4900 tiles, CRS transform in executors) == broadcast plan") {
    val utm = GridMapping.regular(64, 64, 565000.0, 5930000.0, 100.0, 100.0,
      Crs.utm(32, north = true), Some((16, 16)))
    val data = Array.tabulate(64, 64)((j, i) => (j * 64 + i).toDouble)
    val tiles = toDs(tilesFrom("v", data, utm))
    val pol = Map("v" -> VarPolicy(Interp.NEAREST, Reducers.Mean, false, nan, F64))
    def dst(tile: Int) = GridMapping.regular(
      140, 140, 4318000.0, 3377000.0, 50.0, 50.0, Crs.laea3035, Some((tile, tile)))
    val dstFine = dst(2); val dstCoarse = dst(35)
    val fine = pixelMap(ReprojectOp.reproject(tiles, utm, dstFine, pol).collect().toSeq, dstFine)
    val coarse = pixelMap(ReprojectOp.reproject(tiles, utm, dstCoarse, pol).collect().toSeq, dstCoarse)
    assertSamePixels(fine, coarse)
    assert(fine.valuesIterator.exists(!_.isNaN))
  }

  test("rectify: distributed lookup plan (4900 tiles) == broadcast plan, incl. NaN fill tiles") {
    // small rotated swath rectified onto a larger target so many target
    // tiles have NO source coverage (exercises the anti-join fills)
    val srcGm = GridMapping.regular(8, 8, 10.0, 40.0, 0.1, 0.1, Crs.Geographic, Some((4, 4)))
      .copy(isRegular = false)
    val ang = 0.2; val c = math.cos(ang); val s = math.sin(ang)
    val lon = Array.tabulate(8, 8)((j, i) =>
      10.0 + (i + 0.5) * c * 0.1 - (j + 0.5) * s * 0.1)
    val lat = Array.tabulate(8, 8)((j, i) =>
      40.8 - (j + 0.5) * c * 0.1 - (i + 0.5) * s * 0.1)
    val data = Array.tabulate(8, 8)((j, i) => (j * 8 + i).toDouble)
    val dataTiles = toDs(tilesFrom("v", data, srcGm))
    val coordTiles = toDs(tilesFrom("x", lon, srcGm) ++ tilesFrom("y", lat, srcGm))
    val pol = Map("v" -> VarPolicy(Interp.NEAREST, Reducers.Mean, false, nan, F64))
    def dst(tile: Int) = GridMapping.regular(
      140, 140, 9.0, 39.0, 0.02, 0.02, Crs.Geographic, Some((tile, tile)))
    val dstFine = dst(2); val dstCoarse = dst(35)
    val fine = pixelMap(
      RectifyOp.rectify(dataTiles, coordTiles, srcGm, dstFine, pol).collect().toSeq, dstFine)
    val coarse = pixelMap(
      RectifyOp.rectify(dataTiles, coordTiles, srcGm, dstCoarse, pol).collect().toSeq, dstCoarse)
    // every target pixel is emitted on both paths (fill tiles included)
    assert(fine.size == 140 * 140)
    assertSamePixels(fine, coarse)
    assert(fine.valuesIterator.exists(!_.isNaN))
    assert(fine.valuesIterator.count(_.isNaN) > 0)
  }
}
