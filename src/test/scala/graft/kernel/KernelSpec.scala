package graft.kernel

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Affine

class KernelSpec extends AnyFunSuite {
  import Reducers._

  // reference: tests/test_coarsen.py:35-61
  val f = Array(1.0, 2.0, 3.0, 4.0) // [[1,2],[3,4]]

  test("reducers golden values (2x2)") {
    assert(reduce(f, 2, 2, First, false) == 1.0)
    assert(reduce(f, 2, 2, Last, false) == 4.0)
    assert(reduce(f, 2, 2, Center, false) == 4.0) // shape//2 -> [1][1]
    assert(reduce(f, 2, 2, Mean, false) == 2.5)
    assert(reduce(f, 2, 2, Mean, true) == 2.0) // rint(2.5) half-to-even
    assert(reduce(f, 2, 2, Median, false) == 2.5)
    assert(math.abs(reduce(f, 2, 2, Std, false) - 1.118033988749895) < 1e-12)
    assert(reduce(f, 2, 2, Sum, true) == 10.0)
    assert(math.abs(reduce(f, 2, 2, Var, false) - 1.25) < 1e-12)
    assert(reduce(Array(1, 2, 2, 3, 2, 2).map(_.toDouble), 2, 3, Mode, true) == 2.0)
    assert(reduce(f, 2, 2, Count, false) == 4.0)
    assert(reduce(Array(0.0, 2.0, 0.0, 4.0), 2, 2, Count, false) == 2.0)
    assert(reduce(f, 2, 2, Prod, false) == 24.0)
    assert(reduce(f, 2, 2, Min, false) == 1.0)
    assert(reduce(f, 2, 2, Max, false) == 4.0)
  }

  test("float reducers skip NaN; int reducers do not") {
    val withNan = Array(1.0, Double.NaN, 3.0, 4.0)
    assert(reduce(withNan, 2, 2, Mean, false) == (1.0 + 3.0 + 4.0) / 3)
    assert(reduce(withNan, 2, 2, Sum, false) == 8.0)
    assert(reduce(withNan, 2, 2, Min, false) == 1.0)
    assert(reduce(withNan, 2, 2, Median, false) == 3.0)
    val allNan = Array(Double.NaN, Double.NaN, Double.NaN, Double.NaN)
    assert(reduce(allNan, 2, 2, Sum, false) == 0.0)  // np.nansum
    assert(reduce(allNan, 2, 2, Mean, false).isNaN)
    assert(reduce(allNan, 2, 2, Median, false).isNaN)
  }

  test("mode picks first max like the reference histogram") {
    // counts equal -> lowest value wins (scan order from min upward)
    assert(reduce(Array(5.0, 7.0, 7.0, 5.0), 2, 2, Mode, true) == 5.0)
    // negative categorical values
    assert(reduce(Array(-3.0, -3.0, -1.0, 0.0), 2, 2, Mode, true) == -3.0)
  }

  test("mode survives a 1e9-spread window (hash fallback, same semantics)") {
    // a dense [min,max] histogram here would be a ~8 GB allocation;
    // the hash fallback must preserve first-max (smallest value wins)
    assert(reduce(Array(0.0, 1e9, 1e9, 3.0), 2, 2, Mode, true) == 1e9)
    assert(reduce(Array(0.0, 1e9, 3.0, 3.0), 2, 2, Mode, true) == 3.0)
    // equal counts across the huge spread -> smallest value
    assert(reduce(Array(7.0, 1e9, 1e9, 7.0), 2, 2, Mode, true) == 7.0)
  }

  test("interp sampling formulas") {
    // window = [[0,1],[2,3]] at origin
    val win = new Window(0, 0, 2, 2, Array(0.0, 1.0, 2.0, 3.0))
    assert(Interp.sample(win, 0.5, 0.0, Interp.BILINEAR, Double.NaN) == 0.5)
    assert(Interp.sample(win, 0.0, 0.5, Interp.BILINEAR, Double.NaN) == 1.0)
    assert(Interp.sample(win, 0.5, 0.5, Interp.BILINEAR, Double.NaN) == 1.5)
    // nearest: rint half-to-even -> 0.5 rounds to 0
    assert(Interp.sample(win, 0.5, 0.5, Interp.NEAREST, Double.NaN) == 0.0)
    assert(Interp.sample(win, 0.51, 0.51, Interp.NEAREST, Double.NaN) == 3.0)
    // triangular: u+v<1 -> closest triangle v00 + u(v01-v00) + v(v10-v00)
    assert(Interp.sample(win, 0.25, 0.25, Interp.TRIANGULAR, Double.NaN) == 0.25 * 1 + 0.25 * 2)
    // u+v>=1 -> opposite triangle
    val s = Interp.sample(win, 0.75, 0.75, Interp.TRIANGULAR, Double.NaN)
    assert(s == 3.0 + 0.25 * (2.0 - 3.0) + 0.25 * (1.0 - 3.0))
    // out-of-window reads give fill
    assert(Interp.sample(win, 5.0, 0.0, Interp.NEAREST, -9.0) == -9.0)
  }

  test("affine warp: identity, shift, 2x upscale nearest/bilinear") {
    // source 2x2 = [[0,1],[2,3]]
    val win = new Window(0, 0, 2, 2, Array(0.0, 1.0, 2.0, 3.0))
    val id = AffineWarp.warpTile(win, 2, 2, 0, 0, 2, 2, Affine.identity, 0, Double.NaN, false)
    assert(id.toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    // 2x zoom: dst index -> src index = 0.5*dst - 0.25 (pixel-center aligned)
    val m = Affine.scaleTranslate(0.5, 0.5, -0.25, -0.25)
    val up = AffineWarp.warpTile(win, 2, 2, 0, 0, 4, 4, m, 0, Double.NaN, false)
    // nearest (scipy floor(x+0.5)): src idx for dst 0..3 = floor(.25)=0,floor(.75)=0... wait
    // dst0 -> -0.25 -> floor(0.25)=0; dst1 -> 0.25 -> floor(0.75)=0; dst2 -> 0.75 -> floor(1.25)=1; dst3 -> 1.25 -> floor(1.75)=1
    assert(up.toSeq == Seq(0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 2.0, 2.0, 3.0, 3.0))
    val upB = AffineWarp.warpTile(win, 2, 2, 0, 0, 4, 4, m, 1, 0.0, false)
    // bilinear row 1 (src y=0.25): x samples -0.25,0.25,0.75,1.25
    // x=-0.25 blends cval(0)*0.25... scipy constant: out-of-extent neighbor = cval
    assert(math.abs(upB(5) - 0.75) < 1e-12) // bilinear at src(0.25,0.25)
  }

  test("affine warp NaN recovery matches 3-pass renormalization") {
    // source [[1,NaN],[3,4]], bilinear at (0.5,0.5):
    // filled = [[1,0],[3,4]] -> blend = 2.0 ; norm = [[1,0],[1,1]] -> 0.75
    val win = new Window(0, 0, 2, 2, Array(1.0, Double.NaN, 3.0, 4.0))
    val m = Affine.scaleTranslate(1.0, 1.0, 0.5, 0.5) // dst(0,0) -> src(0.5,0.5)
    val out = AffineWarp.warpTile(win, 2, 2, 0, 0, 1, 1, m, 1, Double.NaN, true)
    assert(math.abs(out(0) - 2.0 / 0.75) < 1e-12)
    // without recovery -> NaN
    val out2 = AffineWarp.warpTile(win, 2, 2, 0, 0, 1, 1, m, 1, Double.NaN, false)
    assert(out2(0).isNaN)
  }

  test("var/std stay exact for large-magnitude windows (two-pass, not E[x^2]-E[x]^2)") {
    // 1e8 + {1,2,3,4}: mean = 1e8 + 2.5 and every deviation is exactly
    // representable, so the two-pass population variance is exactly
    // 1.25; the one-pass form loses ~all significant digits here
    val vals = Array(1e8 + 1, 1e8 + 2, 1e8 + 3, 1e8 + 4)
    assert(Reducers.reduce(vals, 2, 2, Reducers.Var, isIntType = false) == 1.25)
    assert(Reducers.reduce(vals, 2, 2, Reducers.Std, isIntType = false) == math.sqrt(1.25))
    // NaN-skipping path keeps the same exactness
    val withNan = Array(1e8 + 1, Double.NaN, 1e8 + 3, 1e8 + 5)
    assert(Reducers.reduce(withNan, 2, 2, Reducers.Var, isIntType = false) == 8.0 / 3.0)
  }

  /** `Interp.sample` before it was split into one sampler per method. */
  private def oldSample(win: Window, fx: Double, fy: Double, method: Int, fill: Double): Double =
    method match {
      case Interp.NEAREST =>
        win.get(math.rint(fx).toInt, math.rint(fy).toInt, fill)
      case Interp.TRIANGULAR =>
        val ixF = math.floor(fx).toInt; val ixC = math.ceil(fx).toInt
        val iyF = math.floor(fy).toInt; val iyC = math.ceil(fy).toInt
        val u = fx - ixF; val v = fy - iyF
        if (u + v < 1.0) {
          val v00 = win.get(ixF, iyF, fill)
          val v01 = win.get(ixC, iyF, fill)
          val v10 = win.get(ixF, iyC, fill)
          v00 + u * (v01 - v00) + v * (v10 - v00)
        } else {
          val v11 = win.get(ixC, iyC, fill)
          val v10 = win.get(ixF, iyC, fill)
          val v01 = win.get(ixC, iyF, fill)
          v11 + (1.0 - u) * (v10 - v11) + (1.0 - v) * (v01 - v11)
        }
      case Interp.BILINEAR =>
        val ixF = math.floor(fx).toInt; val ixC = math.ceil(fx).toInt
        val iyF = math.floor(fy).toInt; val iyC = math.ceil(fy).toInt
        val u = fx - ixF; val v = fy - iyF
        val v00 = win.get(ixF, iyF, fill)
        val v01 = win.get(ixC, iyF, fill)
        val v10 = win.get(ixF, iyC, fill)
        val v11 = win.get(ixC, iyC, fill)
        val vu0 = v00 + u * (v01 - v00)
        val vu1 = v10 + u * (v11 - v10)
        vu0 + v * (vu1 - vu0)
    }

  test("the per-method samplers equal the old one-method sample bit for bit") {
    val rnd = new scala.util.Random(7)
    def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)
    var compared = 0
    for (_ <- 0 until 50) {
      val w = 1 + rnd.nextInt(9); val h = 1 + rnd.nextInt(9)
      val i0 = rnd.nextInt(21) - 10; val j0 = rnd.nextInt(21) - 10
      // values with NaN, and some equal to the fill
      val fill = if (rnd.nextBoolean()) Double.NaN else -1.0
      val data = Array.fill(w * h)(rnd.nextInt(10) match {
        case 0 => Double.NaN
        case 1 => fill
        case _ => rnd.nextGaussian() * 100
      })
      val win = new Window(i0, j0, w, h, data)
      // indices inside, on the edge of and outside the window, some integral
      val n = 200
      val fx = Array.fill(n)(if (rnd.nextInt(5) == 0) (i0 + rnd.nextInt(w + 4) - 2).toDouble
        else i0 - 2 + rnd.nextDouble() * (w + 3))
      val fy = Array.fill(n)(if (rnd.nextInt(5) == 0) (j0 + rnd.nextInt(h + 4) - 2).toDouble
        else j0 - 2 + rnd.nextDouble() * (h + 3))
      for (m <- Seq(Interp.NEAREST, Interp.BILINEAR, Interp.TRIANGULAR)) {
        val all = Interp.sampleAll(win, fx, fy, m, fill)
        for (k <- 0 until n) {
          val want = bits(oldSample(win, fx(k), fy(k), m, fill))
          assert(bits(Interp.sample(win, fx(k), fy(k), m, fill)) == want && bits(all(k)) == want,
            s"method $m at (${fx(k)}, ${fy(k)}) in window $i0,$j0 ${w}x$h")
          compared += 1
        }
      }
    }
    assert(compared == 30000)
  }
}
