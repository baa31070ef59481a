package graft.kernel

/** A dense source window in GLOBAL pixel coordinates: covers columns
  * `[i0, i0+w)` and rows `[j0, j0+h)` of the source image, row-major.
  * Reads outside the window (or cells never filled) return `fill` —
  * the Spark-side replacement for the reference's constant-pad of
  * uniform chunks (reference: xcube_resampling/reproject.py:405-467,
  * 499-530): since rows can vary per task we pad logically, not
  * physically.
  */
final class Window(
    val i0: Int, val j0: Int, val w: Int, val h: Int,
    val data: Array[Double]) extends Serializable {

  @inline def get(i: Int, j: Int, fill: Double): Double = {
    val li = i - i0; val lj = j - j0
    if (li < 0 || li >= w || lj < 0 || lj >= h) fill else data(lj * w + li)
  }

  @inline def contains(i: Int, j: Int): Boolean =
    i >= i0 && i < i0 + w && j >= j0 && j < j0 + h
}

/** Point-sampling with the three interpolation methods of the
  * reprojection kernel (reference: xcube_resampling/reproject.py:268-335).
  * Coordinates `fx`, `fy` are fractional GLOBAL source pixel indices
  * (0 at the center of pixel 0).
  */
object Interp {
  final val NEAREST = 0
  final val BILINEAR = 1
  final val TRIANGULAR = 2

  def methodFromName(name: String): Int = name match {
    case "nearest" => NEAREST
    case "bilinear" => BILINEAR
    case "triangular" => TRIANGULAR
    case other => throw new IllegalArgumentException(
      s"interp_methods must be one of 0, 1, 'nearest', 'bilinear', 'triangular', was '$other'")
  }

  /** Sample `win` at fractional source index (fx, fy) with `method`,
    * chosen per call; the reproject kernel samples whole tiles through
    * [[sampleAll]].
    */
  def sample(win: Window, fx: Double, fy: Double, method: Int, fill: Double): Double =
    method match {
      case NEAREST => nearest(win, fx, fy, fill)
      case TRIANGULAR => triangular(win, fx, fy, fill)
      case BILINEAR => bilinear(win, fx, fy, fill)
      case other => throw new IllegalArgumentException(s"unknown interp method id $other")
    }

  /** Sample `win` at every (fx(k), fy(k)) with `method`. The method is
    * chosen once here, so each loop calls one sampler that is small
    * enough for the JIT to inline; a single sampler holding all three
    * methods is past C2's inline size and stays an out-of-line call per
    * pixel.
    */
  def sampleAll(win: Window, fx: Array[Double], fy: Array[Double], method: Int, fill: Double): Array[Double] = {
    val out = new Array[Double](fx.length)
    var k = 0
    method match {
      case NEAREST => while (k < out.length) { out(k) = nearest(win, fx(k), fy(k), fill); k += 1 }
      case TRIANGULAR => while (k < out.length) { out(k) = triangular(win, fx(k), fy(k), fill); k += 1 }
      case BILINEAR => while (k < out.length) { out(k) = bilinear(win, fx(k), fy(k), fill); k += 1 }
      case other => throw new IllegalArgumentException(s"unknown interp method id $other")
    }
    out
  }

  /** np.rint rounding (half-to-even), reference: reproject.py:281-284 */
  def nearest(win: Window, fx: Double, fy: Double, fill: Double): Double =
    win.get(math.rint(fx).toInt, math.rint(fy).toInt, fill)

  /** Two-triangle blend split on `u + v < 1`, reference: reproject.py:285-314 */
  def triangular(win: Window, fx: Double, fy: Double, fill: Double): Double = {
    val ixF = math.floor(fx).toInt; val ixC = math.ceil(fx).toInt
    val iyF = math.floor(fy).toInt; val iyC = math.ceil(fy).toInt
    val u = fx - ixF; val v = fy - iyF
    val v10 = win.get(ixF, iyC, fill)
    val v01 = win.get(ixC, iyF, fill)
    if (u + v < 1.0) {
      val v00 = win.get(ixF, iyF, fill)
      v00 + u * (v01 - v00) + v * (v10 - v00)
    } else {
      val v11 = win.get(ixC, iyC, fill)
      v11 + (1.0 - u) * (v10 - v11) + (1.0 - v) * (v01 - v11)
    }
  }

  /** 4-neighbor blend, reference: reproject.py:315-328 */
  def bilinear(win: Window, fx: Double, fy: Double, fill: Double): Double = {
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
}
