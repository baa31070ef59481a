package graftbench

import graft.geom.{Affine, CrsTransformer}
import graft.kernel.{AffineWarp, Interp, Reducers, TriangleRasterizer, Window}

/** Single-thread, plain-JVM loops over the kernels the raster
  * pipelines run per pixel, fed with tiles from the benchmark's own
  * generators for the run's seed. Each reports the median ns per
  * operation over its repetitions and the operation count of one
  * repetition.
  */
object Probes {

  final case class Result(metric: String, nsPerOp: Double, countMetric: String, ops: Long)

  @volatile var blackhole = 0.0

  /** Median ns/op over at least `minReps` timed repetitions (and at
    * least `minNs` in total), after two untimed warm-up repetitions.
    */
  def time(ops: Long, minReps: Int = 5, minNs: Long = 300000000L)(body: => Double): Double = {
    blackhole += body; blackhole += body
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (samples.size < minReps || System.nanoTime() - t0 < minNs) {
      val s = System.nanoTime()
      blackhole += body
      samples += (System.nanoTime() - s).toDouble / ops
    }
    Stats.median(samples.toSeq)
  }

  def run(seed: Long, reprojectN: Int, swathN: Int): Seq[Result] = {
    // --- reproject geometry: one full target tile at the centre
    val g = Gen.reprojectGeom(reprojectN)
    val d = g.dst; val s = g.src
    val dtj = d.numTilesY / 2; val dti = d.numTilesX / 2
    val h = d.tileH(dtj); val w = d.tileW(dti)
    val n = h * w
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    for (j <- 0 until h; i <- 0 until w) {
      xs(j * w + i) = d.xMin + (dti * d.tileWidth + i + 0.5) * d.xRes
      ys(j * w + i) = d.yMax - (dtj * d.tileHeight + j + 0.5) * d.yRes
    }
    val inv = CrsTransformer(d.crs, s.crs)
    val transformNs = time(n) {
      var acc = 0.0; var k = 0
      while (k < n) { val (px, py) = inv.transformPoint(xs(k), ys(k)); acc += px + py; k += 1 }
      acc
    }
    val fx = new Array[Double](n); val fy = new Array[Double](n)
    for (k <- 0 until n) {
      val (px, py) = inv.transformPoint(xs(k), ys(k))
      fx(k) = (px - s.xMin) / s.xRes - 0.5; fy(k) = (s.yMax - py) / s.yRes - 0.5
    }
    val wi0 = math.max(0, math.floor(fx.min).toInt - 1); val wi1 = math.min(s.width, math.ceil(fx.max).toInt + 2)
    val wj0 = math.max(0, math.floor(fy.min).toInt - 1); val wj1 = math.min(s.height, math.ceil(fy.max).toInt + 2)
    val win = new Window(wi0, wj0, wi1 - wi0, wj1 - wj0,
      Array.tabulate((wj1 - wj0) * (wi1 - wi0)) { k =>
        Gen.rasterValue(seed, 0, wi0 + k % (wi1 - wi0), wj0 + k / (wi1 - wi0))
      })
    val interpNs = time(n) {
      var acc = 0.0; var k = 0
      while (k < n) { val v = Interp.sample(win, fx(k), fy(k), Interp.BILINEAR, Double.NaN); if (!v.isNaN) acc += v; k += 1 }
      acc
    }

    // --- rectify kernels: one swath tile (+1 border) at the centre
    val T = Gen.TileSize
    val si0 = (swathN / 2 / T) * T; val sj0 = si0
    val ww = math.min(T + 1, swathN - si0); val wh = math.min(T + 1, swathN - sj0)
    val lon = Array.tabulate(wh * ww)(k => Gen.swathLon(swathN, si0 + k % ww, sj0 + k / ww))
    val lat = Array.tabulate(wh * ww)(k => Gen.swathLat(swathN, si0 + k % ww, sj0 + k / ww))
    val data = Array.tabulate(wh * ww)(k => Gen.swathField(seed, 0, lon(k), lat(k)))
    val swathWin = new Window(si0, sj0, ww, wh, data)
    // the downscale prepass warps at about 1:1 onto its intermediate grid
    val m = Affine.scaleTranslate(1.0, 1.0, 0.5, 0.5)
    val tw = ww - 1; val th = wh - 1
    val warpNs = time(tw.toLong * th) {
      AffineWarp.warpTile(swathWin, swathN, swathN, si0, sj0, tw, th, m, 1, Double.NaN, false)(0)
    }
    val warped = AffineWarp.warpTile(swathWin, swathN, swathN, si0, sj0, tw, th, m, 1, Double.NaN, false)
    // ... and coarsens it 2x2 with the mean, as CoarsenOp does per tile
    val reduceNs = time(tw.toLong * th) {
      val cell = new Array[Double](4)
      var acc = 0.0; var oj = 0
      while (oj < th / 2) {
        var oi = 0
        while (oi < tw / 2) {
          val b = 2 * oj * tw + 2 * oi
          cell(0) = warped(b); cell(1) = warped(b + 1); cell(2) = warped(b + tw); cell(3) = warped(b + tw + 1)
          acc += Reducers.reduce(cell, 2, 2, Reducers.Mean, false)
          oi += 1
        }
        oj += 1
      }
      acc
    }
    // rasterize the window's quads onto the target pixels they cover
    val dst = Gen.rectifyTarget(swathN, 2)
    val ti0 = math.floor((lon.min - dst.xMin) / dst.xRes).toInt
    val ti1 = math.ceil((lon.max - dst.xMin) / dst.xRes).toInt
    val tj0 = math.floor((dst.yMax - lat.max) / dst.yRes).toInt
    val tj1 = math.ceil((dst.yMax - lat.min) / dst.yRes).toInt
    val dw = ti1 - ti0; val dh = tj1 - tj0
    val outI = new Array[Double](dw * dh); val outJ = new Array[Double](dw * dh)
    val rasterNs = time(ww.toLong * wh) {
      java.util.Arrays.fill(outI, Double.NaN); java.util.Arrays.fill(outJ, Double.NaN)
      TriangleRasterizer.rasterize(lon, lat, ww, wh, si0, sj0,
        dst.xMin + ti0 * dst.xRes, dst.yMax - tj0 * dst.yRes, dst.xRes, -dst.yRes,
        dw, dh, RectifyUv, outI, outJ)
      outI(dw * dh / 2)
    }
    Seq(
      Result("geom.transform_ns_per_pt", transformNs, "geom.transform_points", n),
      Result("kernel.interp_ns_per_px", interpNs, "kernel.interp_px", n),
      Result("kernel.warp_ns_per_px", warpNs, "kernel.warp_px", tw.toLong * th),
      Result("kernel.reduce_ns_per_px", reduceNs, "kernel.reduce_px", tw.toLong * th),
      Result("kernel.rasterize_ns_per_px", rasterNs, "kernel.rasterize_px", ww.toLong * wh))
  }

  private val RectifyUv = graft.ops.RectifyOp.UvDelta
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val k = s.size
    if (k % 2 == 1) s(k / 2) else (s(k / 2 - 1) + s(k / 2)) / 2
  }
}
