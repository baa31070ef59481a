package graft.geom

import org.scalatest.funsuite.AnyFunSuite

/** `IndexLattice` replaces the per-pixel inverse transform of a target
  * tile by a checked lattice. This spec keeps the per-pixel loop as the
  * reference and checks, over four grid pairs whose transforms bend
  * ever faster, that every pixel of every tile (edge tiles included)
  * stays within `Tol` of it, which step each pair takes, and that the
  * cases which must stay exact are bit for bit the reference.
  */
class IndexLatticeSpec extends AnyFunSuite {
  import IndexLattice.{Exact, Tol}

  private val utm = Crs.fromString("EPSG:32632")
  private val laea = Crs.fromString("EPSG:3035")
  private val geo = Crs.fromString("EPSG:4326")

  /** The per-pixel loop of the reproject kernel, as the reference. */
  private def reference(inv: CrsTransformer, src: GridMapping, dst: GridMapping,
      dtj: Int, dti: Int): (Array[Double], Array[Double]) = {
    val h = dst.tileH(dtj); val w = dst.tileW(dti)
    val si = new Array[Double](h * w); val sj = new Array[Double](h * w)
    for (j <- 0 until h; i <- 0 until w) {
      val gj = dtj * dst.tileHeight + j; val gi = dti * dst.tileWidth + i
      val dy = if (dst.isJAxisUp) dst.yMin + (gj + 0.5) * dst.yRes else dst.yMax - (gj + 0.5) * dst.yRes
      val (sx, sy) = inv.transformPoint(dst.xMin + (gi + 0.5) * dst.xRes, dy)
      si(j * w + i) = (sx - src.xMin) / src.xRes - 0.5
      sj(j * w + i) = (src.yMax - sy) / src.yRes - 0.5
    }
    (si, sj)
  }

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(k =>
      java.lang.Double.doubleToRawLongBits(a(k)) == java.lang.Double.doubleToRawLongBits(b(k)))

  /** The benchmark's pair: UTM 32N at 100 m onto EPSG:3035 at 100 m. */
  private def benchPair(tile: Int): (GridMapping, GridMapping) = {
    val res = 100.0; val n = 512
    val src = GridMapping.regular(n, n, 400000.0, 5700000.0 - n * res, res, res, utm)
    val (x0, y0, x1, y1) = CrsTransformer(utm, laea).transformBounds(src.xMin, src.yMin, src.xMax, src.yMax)
    val dx0 = math.floor(x0 / res) * res; val dy0 = math.floor(y0 / res) * res
    (src, GridMapping.regular(math.ceil((x1 - dx0) / res).toInt, math.ceil((y1 - dy0) / res).toInt,
      dx0, dy0, res, res, laea, tileSize = Some((tile, tile))))
  }

  /** (name, source, target, step of the full-size tiles) */
  private def pairs(tile: Int): Seq[(String, GridMapping, GridMapping, Int)] = {
    val (benchSrc, benchDst) = benchPair(tile)
    // UTM 32N at 1 km, 800-1100 km east of its central meridian
    val east = GridMapping.regular(300, 700, 1300000.0, 4700000.0, 1000.0, 1000.0, utm)
    val (ex0, ey0, _, _) = CrsTransformer(utm, laea).transformBounds(east.xMin, east.yMin, east.xMax, east.yMax)
    val eastDst = GridMapping.regular(310, 290, math.floor(ex0 / 1000) * 1000 + 50000,
      math.floor(ey0 / 1000) * 1000 + 50000, 1000.0, 1000.0, laea, tileSize = Some((tile, tile)))
    // EPSG:4326 at 0.01° onto UTM 32N at 1 km
    val lonLat = GridMapping.regular(1000, 1000, 5.0, 45.0, 0.01, 0.01, geo)
    val utmDst = GridMapping.regular(310, 290, 300000.0, 5050000.0, 1000.0, 1000.0, utm,
      tileSize = Some((tile, tile)))
    // EPSG:3413 at 10 km onto an EPSG:4326 arctic grid at 0.1°, 60-90° N
    val polar = GridMapping.regular(700, 700, -3500000.0, -3500000.0, 10000.0, 10000.0,
      Crs.fromString("EPSG:3413"))
    val arctic = GridMapping.regular(620, 300, -31.0, 60.0, 0.1, 0.1, geo, tileSize = Some((tile, tile)))
    Seq(("UTM 100 m -> LAEA", benchSrc, benchDst, 16), ("UTM 900 km east -> LAEA", east, eastDst, 8),
      ("EPSG:4326 0.01° -> UTM", lonLat, utmDst, 4), ("EPSG:3413 -> arctic EPSG:4326", polar, arctic, 0))
  }

  for (tile <- Seq(256, 100, 33)) {
    test(s"every pixel of every $tile² tile lies within 1e-9 px of the per-pixel transform; steps 16, 8, 4, exact") {
      for ((name, src, dst, fullStep) <- pairs(tile)) {
        val inv = CrsTransformer(dst.crs, src.crs)
        var edgeTiles = 0
        for (tj <- 0 until dst.numTilesY; ti <- 0 until dst.numTilesX) {
          val got = IndexLattice.ofTile(inv, src, dst, tj, ti)
          val (ri, rj) = reference(inv, src, dst, tj, ti)
          val w = dst.tileW(ti); val h = dst.tileH(tj)
          val err = ri.indices.map(k => math.max(math.abs(got.i(k) - ri(k)), math.abs(got.j(k) - rj(k)))).max
          assert(err <= Tol, s"$name, $tile² tile ($tj, $ti) at step ${got.step}: $err px")
          if (w == tile && h == tile) assert(got.step == fullStep, s"$name, $tile² tile ($tj, $ti)")
          else {
            edgeTiles += 1
            assert(got.step == 0 || math.min(w, h) >= 2 * got.step, s"$name edge tile $w x $h at ${got.step}")
          }
          if (got.step == 0) assert(sameBits(got.i, ri) && sameBits(got.j, rj), s"$name ($tj, $ti)")
        }
        assert(edgeTiles > 0, s"$name has no edge tile at $tile²")
      }
    }
  }

  test("an edge tile takes the largest step that fits twice into its shorter side") {
    val (src, dst) = benchPair(256) // 520² in 256² tiles: the edge tiles are 8 px wide
    val inv = CrsTransformer(dst.crs, src.crs)
    assert(dst.tileW(2) == 8)
    assert(IndexLattice.ofTile(inv, src, dst, 0, 2).step == 4)
    val (src2, dst2) = benchPair(100) // 520 = 5 x 100 + 20
    assert(IndexLattice.ofTile(CrsTransformer(dst2.crs, src2.crs), src2, dst2, 0, 5).step == 8)
  }

  /** The benchmark pair's exact index of pixel (i, j) of its first tile. */
  private def benchExact: Exact = {
    val (src, dst) = benchPair(256)
    val inv = CrsTransformer(dst.crs, src.crs)
    (i, j) => {
      val (sx, sy) = inv.transformPoint(dst.xMin + (i + 0.5) * dst.xRes, dst.yMax - (j + 0.5) * dst.yRes)
      ((sx - src.xMin) / src.xRes - 0.5, (src.yMax - sy) / src.yRes - 0.5)
    }
  }

  test("a non-finite lattice node sends the tile to the per-pixel loop") {
    val base = benchExact
    assert(IndexLattice.interpolated(256, 256, base).step == 16)
    // NaN left of the tile, where only the outer ring of nodes lies
    val nanLeft: Exact = (i, j) => if (i < 0) (Double.NaN, 0.0) else base(i, j)
    val got = IndexLattice.interpolated(256, 256, nanLeft)
    val exact = IndexLattice.perPixel(256, 256, base)
    assert(got.step == 0 && sameBits(got.i, exact.i) && sameBits(got.j, exact.j))
  }

  test("an edge tile whose only bend lies in its partial last cell is checked there") {
    // w = 100 at step 16: the last cell spans pixels 96..111, of which
    // 96..99 are in the tile. A bump on pixels 97..99 misses every node
    // (multiples of 16) and every full cell's centre (8 + 16k); only
    // the partial cell's check, clamped to pixel 99, sees it
    val base = benchExact
    val bump: Exact = (i, j) => {
      val (a, b) = base(i, j)
      if (i >= 97 && i <= 99) (a + 1e-6, b) else (a, b)
    }
    val got = IndexLattice.interpolated(100, 100, bump)
    val exact = IndexLattice.perPixel(100, 100, bump)
    assert(got.i.indices.forall(k => math.abs(got.i(k) - exact.i(k)) <= Tol))
    assert(got.step == 0)
  }

  test("an identity transformer and tiles shorter than 2 steps keep the per-pixel loop, bit for bit") {
    // Geographic -> Geographic, as every q_reproject_* face
    val src = GridMapping.regular(300, 200, -10.0, 30.0, 0.1, 0.1, geo)
    val dst = GridMapping.regular(280, 190, -9.87, 30.3, 0.1, 0.1, geo, tileSize = Some((100, 100)))
    val id = CrsTransformer(dst.crs, src.crs)
    assert(id.isIdentity)
    // 5 x 5 tiles, as the golden specs use, in a real transform
    val (bSrc, bDst0) = benchPair(256)
    val bDst = bDst0.copy(tileWidth = 5, tileHeight = 5)
    val tm = CrsTransformer(bDst.crs, bSrc.crs)
    // and a j-axis-up target
    val up = dst.copy(isJAxisUp = true)
    for ((inv, s, d) <- Seq((id, src, dst), (id, src, up), (tm, bSrc, bDst));
         tj <- 0 until math.min(d.numTilesY, 4); ti <- 0 until math.min(d.numTilesX, 4)) {
      val got = IndexLattice.ofTile(inv, s, d, tj, ti)
      val (ri, rj) = reference(inv, s, d, tj, ti)
      assert(got.step == 0 && sameBits(got.i, ri) && sameBits(got.j, rj), s"${d.crs.name} ($tj, $ti)")
    }
  }
}
