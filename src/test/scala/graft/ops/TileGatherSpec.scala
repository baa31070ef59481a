package graft.ops

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark._
import graft.geom.{Crs, CrsTransformer, GridMapping}
import graft.kernel.{Interp, Reducers}
import graft.model.Policies.{F64, VarPolicy}
import graft.model.Tile

/** The shared gather groups every (var, band) of a target tile into one
  * kernel call and ships source tiles cropped to their windows. These
  * specs pin that neither changes a pixel: variables never leak into
  * each other's tiles, and windows assembled from cropped pieces equal
  * windows assembled from whole tiles.
  */
class TileGatherSpec extends AnyFunSuite {

  private def sameBits(a: Seq[Tile], b: Seq[Tile]): Unit = {
    def key(t: Tile) = (t.varName, t.band, t.tj, t.ti)
    val bm = b.map(t => key(t) -> t).toMap
    assert(a.map(key).toSet == bm.keySet)
    a.foreach { t =>
      val u = bm(key(t))
      assert(t.h == u.h && t.w == u.w, s"shape at ${key(t)}")
      var k = 0
      while (k < t.data.length) {
        assert(java.lang.Double.doubleToLongBits(t.data(k)) ==
          java.lang.Double.doubleToLongBits(u.data(k)), s"at ${key(t)} px $k: ${t.data(k)} vs ${u.data(k)}")
        k += 1
      }
    }
  }

  test("reproject: 3 vars together == each var alone, bit for bit, on the driver and distributed plans") {
    val utm = GridMapping.regular(64, 64, 565000.0, 5930000.0, 100.0, 100.0,
      Crs.utm(32, north = true), Some((16, 16)))
    def img(seed: Int) = Array.tabulate(64, 64)((j, i) => seed * 1000.0 + j * 64 + i + 0.25 * ((i * j) % 7))
    val tiles = tilesFrom("a", img(1), utm) ++ tilesFrom("b", img(2), utm) ++
      tilesFrom("c", img(3), utm, band = 0) ++ tilesFrom("c", img(4), utm, band = 1)
    val pol = Map(
      "a" -> VarPolicy(Interp.NEAREST, Reducers.Mean, false, Double.NaN, F64),
      "b" -> VarPolicy(Interp.BILINEAR, Reducers.Mean, false, -1.0, F64),
      "c" -> VarPolicy(Interp.TRIANGULAR, Reducers.Mean, false, 7.5, F64))
    // the target starts at the source's footprint and runs twice as far
    // east, so its eastern tiles see no source at all
    val (bx0, by0, _, by1) = CrsTransformer(utm.crs, Crs.laea3035)
      .transformBounds(utm.xMin, utm.yMin, utm.xMax, utm.yMax)
    def dst(tile: Int) = GridMapping.regular(
      140, 140, bx0, by0, 100.0, (by1 - by0) / 140, Crs.laea3035, Some((tile, tile)))
    for (tile <- Seq(35, 2)) {
      val d = dst(tile)
      val distributed = d.numTilesX.toLong * d.numTilesY > TileGather.DriverPlanMaxTiles
      assert(distributed == (tile == 2))
      val all = ReprojectOp.reproject(toDs(tiles), utm, d, pol).collect().toSeq
      val alone = Seq("a", "b", "c").flatMap { v =>
        ReprojectOp.reproject(toDs(tiles.filter(_.varName == v)), utm, d, Map(v -> pol(v))).collect().toSeq
      }
      assert(all.size == d.numTiles * 4)
      sameBits(all, alone)
      // a fill-only tile: every pixel of every var is its fill value
      val fillOnly = all.groupBy(t => (t.tj, t.ti)).values.filter { ts =>
        ts.forall { t =>
          val f = pol(t.varName).fill
          t.data.forall(x => if (f.isNaN) x.isNaN else x == f)
        }
      }
      assert(fillOnly.nonEmpty, s"tile $tile: no fill-only target tile")
      assert(all.exists(t => t.varName == "c" && t.band == 1 && t.data.exists(x => x > 4000 && x < 5000)))
    }
  }

  test("windows assembled from cropped pieces == assembleWindow over the whole tiles") {
    // 50 x 37 source in 16 x 16 tiles: the last tile column is 2 px
    // wide, the last tile row 5 px tall
    val srcW = 50; val srcH = 37; val tw = 16; val th = 16
    val gm = GridMapping.regular(srcW, srcH, 0.0, 0.0, 1.0, 1.0, Crs.Geographic, Some((tw, th)))
    val img = Array.tabulate(srcH, srcW)((j, i) => j * 100.0 + i)
    val tiles = tilesFrom("v", img, gm)
    val rnd = new Random(7)
    def check(i0: Int, j0: Int, i1: Int, j1: Int): Int = {
      val rows = TileGather.planRowsOf(tw, th, gm.numTilesX, gm.numTilesY,
        TileGather.WindowRow(3, 4, i0, j0, i1, j1))
      val srcTiles = rows.map(p => tiles.find(t => t.tj == p.srcTj && t.ti == p.srcTi).get).toArray
      val whole = TileGather.assembleWindow(rows.head, srcTiles, tw, th)
      val pieces = rows.zip(srcTiles).map { case (p, t) => TileGather.crop(t, p, tw, th) }
      assert(pieces.forall(pc => pc.dtj == 3 && pc.dti == 4))
      assert(pieces.map(_.data.length).sum <= (i1 - i0) * (j1 - j0))
      val cropped = TileGather.assemblePieces(pieces)
      assert((cropped.i0, cropped.j0, cropped.w, cropped.h) == (whole.i0, whole.j0, whole.w, whole.h))
      assert(cropped.data.toSeq.map(java.lang.Double.doubleToLongBits) ==
        whole.data.toSeq.map(java.lang.Double.doubleToLongBits), s"window ($i0,$j0)-($i1,$j1)")
      srcTiles.length
    }
    // 1x1, 2x2 and 3x2 source tiles; a 1-pixel window
    assert(check(2, 3, 9, 12) == 1)
    assert(check(10, 12, 20, 22) == 4)
    assert(check(5, 5, 40, 20) == 6)
    assert(check(17, 18, 18, 19) == 1)
    // windows clipped at the source edge: they reach the narrow last
    // tile column / row, or run past the image
    assert(check(35, 20, srcW, srcH) == 4)
    assert(check(0, 0, srcW, srcH) == 12)
    check(45, 30, srcW + 6, srcH + 3)
    for (_ <- 0 until 300) {
      val i0 = rnd.nextInt(srcW); val j0 = rnd.nextInt(srcH)
      val i1 = i0 + 1 + rnd.nextInt(srcW - i0); val j1 = j0 + 1 + rnd.nextInt(srcH - j0)
      check(i0, j0, i1, j1)
    }
  }
}
