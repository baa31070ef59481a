package graft.geom

/** Coordinate reference systems and transforms, implemented as pure Scala
  * math (the JVM has no bundled PROJ; the build is offline).
  *
  * Scope matches the CRS families exercised by the reference's tests
  * (reference: tests/test_reproject.py:21-257 uses EPSG:32632 and
  * EPSG:3035; tests/sampledata.py:211-292 a custom transverse mercator;
  * everything else is geographic WGS84/CRS84):
  *
  *  - geographic lon/lat (EPSG:4326, OGC:CRS84 — treated as equal, like
  *    `_is_equal_crs` counts both-geographic as equal,
  *    reference: xcube_resampling/utils.py:181-189)
  *  - Transverse Mercator / UTM (EPSG:326xx / 327xx) via the
  *    Krueger-Karney flattening series (6th order in n) — forward error
  *    well under 1 mm inside a UTM zone, far below the sub-pixel
  *    tolerance the golden tests need.
  *  - Lambert Azimuthal Equal Area (EPSG:3035, ETRS89-extended LAEA
  *    Europe) via Snyder's ellipsoidal formulas with authalic latitude.
  *
  * All projections are plain `Double => Double` math suitable for use
  * inside tight per-tile kernels (no allocation on the hot path).
  */
sealed trait Crs extends Serializable {
  def name: String
  def isGeographic: Boolean
  /** projected/geographic coords -> lon/lat degrees */
  def toLonLat(x: Double, y: Double): (Double, Double)
  /** lon/lat degrees -> projected/geographic coords */
  def fromLonLat(lon: Double, lat: Double): (Double, Double)

  /** Structural equality: two parameterized CRSs are equal only when
    * every projection parameter matches (case-class equality), never by
    * display name alone — CF-parsed CRSs share a generic name, so name
    * equality would elide real coordinate transforms.
    */
  def equalsCrs(other: Crs): Boolean =
    (this eq other) || (isGeographic && other.isGeographic) || this == other

  /** Unit of the CRS's grid axes: "degree" for angular systems —
    * geographic AND rotated-pole (whose axes are degrees even though
    * it is deliberately not `isGeographic`) — "metre" for projected
    * ones.
    */
  def axisUnit: String = if (isGeographic) "degree" else "metre"

  /** The geodetic ellipsoid whose lon/lat this CRS's
    * `toLonLat`/`fromLonLat` speak. WGS84 unless a family overrides it
    * (Bessel/Airy/International grids) — [[Crs.DatumShifted]] uses it
    * to run the Helmert chain on the correct source ellipsoid.
    */
  def ellipsoid: Crs.Ellipsoid = Crs.WGS84
}

object Crs {
  /** GRS80 / WGS84 share a to 0.1 mm in b; keep both for exactness. */
  final case class Ellipsoid(a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val e2: Double = f * (2.0 - f)
    val e: Double = math.sqrt(e2)
    val n: Double = f / (2.0 - f)
    /** authalic and conformal latitude helpers, built once per ellipsoid */
    lazy val aux: AuxLatitude = new AuxLatitude(this)
  }

  /** The authalic and conformal auxiliary latitudes of one ellipsoid:
    * the forward functions q(φ) (Snyder 1987 eq. 3-12), t(φ) (15-9) and
    * m(φ) (14-15), and their inverses as the order-6 series in the third
    * flattening n of Karney, "On auxiliary latitudes" (Survey Review
    * 2024, arXiv:2212.05818):
    *
    *   φ = ξ + Σ c_k sin 2kξ  (authalic ξ, sin ξ = q / q_p)
    *   φ = χ + Σ d_k sin 2kχ  (conformal χ = π/2 − 2 atan t)
    *
    * exact to double precision for Earth ellipsoids. Each sum is one
    * Clenshaw recurrence whose sin 2x and cos 2x come from sin x and
    * cos x, so a point costs one `atan2` and no loop. On the sphere
    * n = 0 and φ = ξ (or χ) exactly. Unlike the Newton step on q, the
    * series divides by no cos φ, so it stays exact up to the poles.
    *
    * The inverses take (sin x, cos x), never an angle: on JDK 17.0.20
    * `math.asin` runs the fdlibm StrictMath code, not a JIT intrinsic,
    * and costs 380-500 ns per call for |x| > 0.5 against 15-21 ns
    * below (one thread of a 4-vCPU VM). So no `asin` of an argument
    * that can exceed 0.5 stays on the per-point path of the projections
    * that call this helper.
    */
  final class AuxLatitude(ell: Ellipsoid) extends Serializable {
    private val e = ell.e
    private val e2 = ell.e2

    /** q(φ); on the sphere (e → 0 the log term → −2es) q = 2 sin φ.
      * Evaluated at |sin φ| so that q is odd and q(−90°) = −q_p exactly.
      */
    def q(phi: Double): Double = {
      val s = math.sin(phi)
      if (e < 1e-12) 2 * s
      else {
        val a = math.abs(s)
        math.copySign(
          (1 - e2) * (a / (1 - e2 * a * a) - (1 / (2 * e)) * math.log((1 - e * a) / (1 + e * a))), s)
      }
    }
    /** q at the pole: sin ξ = q / qp */
    val qp: Double = q(math.Pi / 2)

    /** t(φ) = tan(π/4 − φ/2) / ((1 − e sin φ)/(1 + e sin φ))^(e/2) */
    def t(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4 - phi / 2) / math.pow((1 - e * s) / (1 + e * s), e / 2)
    }

    /** m(φ) = cos φ / √(1 − e² sin² φ) */
    def m(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1 - e2 * s * s)
    }

    /** Row k holds the coefficients of n^k .. n^6 in the k-th term. */
    private def series(rows: Array[Array[Double]]): Array[Double] = {
      val n = ell.n
      var nk = 1.0
      rows.map { row =>
        nk *= n
        nk * row.foldRight(0.0)((c, acc) => c + n * acc)
      }
    }
    private val authalic = series(Array(
      Array(4.0 / 3, 4.0 / 45, -16.0 / 35, -2582.0 / 14175, 60136.0 / 467775, 28112932.0 / 212837625),
      Array(46.0 / 45, 152.0 / 945, -11966.0 / 14175, -21016.0 / 51975, 251310128.0 / 638512875),
      Array(3044.0 / 2835, 3802.0 / 14175, -94388.0 / 66825, -8797648.0 / 10945935),
      Array(6059.0 / 4725, 41072.0 / 93555, -1472637812.0 / 638512875),
      Array(768272.0 / 467775, 455935736.0 / 638512875),
      Array(4210684958.0 / 1915538625)))
    private val conformal = series(Array(
      Array(2.0, -2.0 / 3, -2.0, 116.0 / 45, 26.0 / 45, -2854.0 / 675),
      Array(7.0 / 3, -8.0 / 5, -227.0 / 45, 2704.0 / 315, 2323.0 / 945),
      Array(56.0 / 15, -136.0 / 35, -1262.0 / 105, 73814.0 / 2835),
      Array(4279.0 / 630, -332.0 / 35, -399572.0 / 14175),
      Array(4174.0 / 315, -144838.0 / 6237),
      Array(601676.0 / 22275)))

    /** x + Σ c_k sin 2kx for x = atan2(sx, cx); (sx, cx) need not be
      * normalised.
      */
    private def sum(c: Array[Double], sx: Double, cx: Double): Double = {
      val r2 = sx * sx + cx * cx
      val s2 = 2 * sx * cx / r2; val a = 2 * (cx - sx) * (cx + sx) / r2
      // b_k = c_k + 2 cos 2x b_(k+1) − b_(k+2); the sum is b_1 sin 2x
      var b1 = 0.0; var b2 = 0.0
      var k = c.length - 1
      while (k >= 0) {
        val b = a * b1 - b2 + c(k)
        b2 = b1; b1 = b
        k -= 1
      }
      math.atan2(sx, cx) + b1 * s2
    }

    /** geodetic φ (radians) of the authalic latitude ξ = atan2(sinXi, cosXi) */
    def phiOfAuthalic(sinXi: Double, cosXi: Double): Double = sum(authalic, sinXi, cosXi)

    /** geodetic φ of sin ξ = q / qp (clamped to ±1) */
    def phiOfAuthalic(sinXi: Double): Double = {
      val s = math.min(1.0, math.max(-1.0, sinXi))
      sum(authalic, s, math.sqrt((1 - s) * (1 + s)))
    }

    /** geodetic φ (radians) of the conformal latitude χ = atan2(sinChi, cosChi) */
    def phiOfConformal(sinChi: Double, cosChi: Double): Double = sum(conformal, sinChi, cosChi)

    /** geodetic φ of t; sin χ = (1 − t²)/(1 + t²), cos χ = 2t/(1 + t²),
      * written in 1/t past t = 1 so neither square overflows
      */
    def phiOfT(t: Double): Double =
      if (t <= 1) sum(conformal, (1 - t) * (1 + t), 2 * t)
      else { val u = 1 / t; sum(conformal, (u - 1) * (u + 1), 2 * u) }
  }

  val WGS84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val GRS80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)

  /** 7-parameter Helmert datum transformation TO WGS84 (EPSG method
    * 9606, POSITION-VECTOR rotation convention — the same semantics as
    * PROJ's `+towgs84=dx,dy,dz,rx,ry,rz,ds`): translations in metres,
    * rotations in arc-seconds, scale difference in ppm. Applied in
    * geocentric Cartesian (ECEF) space; the inverse is the EXACT
    * inverse of the forward affine map (cofactor 3x3 inversion), so
    * roundtrips are closed to machine precision rather than relying on
    * the small-angle negation. Formulas: EPSG Guidance Note 7-2 §4.3.3
    * and the OS "A guide to coordinate systems in Great Britain"
    * Annex B (both public).
    *
    * The reference gets datum shifts implicitly from pyproj (any
    * source CRS; reference: xcube_resampling/gridmapping/cfconv.py:
    * 215-221); this class is the engine's explicit equivalent for the
    * non-WGS84 grids it implements.
    */
  final case class Helmert(
      dx: Double, dy: Double, dz: Double,
      rxSec: Double, rySec: Double, rzSec: Double, dsPpm: Double)
    extends Serializable {
    @transient private lazy val rx = math.toRadians(rxSec / 3600.0)
    @transient private lazy val ry = math.toRadians(rySec / 3600.0)
    @transient private lazy val rz = math.toRadians(rzSec / 3600.0)
    @transient private lazy val m = 1.0 + dsPpm * 1e-6
    // exact inverse of M = m * [[1,-rz,ry],[rz,1,-rx],[-ry,rx,1]]
    @transient private lazy val inv: Array[Double] = {
      val a = Array(m, -m * rz, m * ry, m * rz, m, -m * rx, -m * ry, m * rx, m)
      val det =
        a(0) * (a(4) * a(8) - a(5) * a(7)) -
        a(1) * (a(3) * a(8) - a(5) * a(6)) +
        a(2) * (a(3) * a(7) - a(4) * a(6))
      Array(
        (a(4) * a(8) - a(5) * a(7)) / det, (a(2) * a(7) - a(1) * a(8)) / det,
        (a(1) * a(5) - a(2) * a(4)) / det,
        (a(5) * a(6) - a(3) * a(8)) / det, (a(0) * a(8) - a(2) * a(6)) / det,
        (a(2) * a(3) - a(0) * a(5)) / det,
        (a(3) * a(7) - a(4) * a(6)) / det, (a(1) * a(6) - a(0) * a(7)) / det,
        (a(0) * a(4) - a(1) * a(3)) / det)
    }

    /** source-datum ECEF -> WGS84 ECEF (position vector: +rz rotates
      * the position vector counterclockwise about +Z, i.e. INCREASES
      * longitude by rz).
      */
    def forward(x: Double, y: Double, z: Double): (Double, Double, Double) = (
      dx + m * (x - rz * y + ry * z),
      dy + m * (rz * x + y - rx * z),
      dz + m * (-ry * x + rx * y + z))

    /** WGS84 ECEF -> source-datum ECEF (exact inverse). */
    def inverse(x: Double, y: Double, z: Double): (Double, Double, Double) = {
      val px = x - dx; val py = y - dy; val pz = z - dz
      (inv(0) * px + inv(1) * py + inv(2) * pz,
        inv(3) * px + inv(4) * py + inv(5) * pz,
        inv(6) * px + inv(7) * py + inv(8) * pz)
    }

    /** geodetic lon/lat on the SOURCE ellipsoid (h = 0) -> WGS84
      * geodetic lon/lat (ellipsoidal height discarded — the raster
      * surface is 2D, exactly as pyproj's 2D transformer behaves).
      */
    def toWgs84(srcEll: Ellipsoid, lonDeg: Double, latDeg: Double): (Double, Double) = {
      val (x, y, z) = Helmert.geodeticToEcef(srcEll, lonDeg, latDeg)
      val (x2, y2, z2) = forward(x, y, z)
      Helmert.ecefToGeodetic(WGS84, x2, y2, z2)
    }

    /** WGS84 geodetic lon/lat (h = 0) -> source-ellipsoid geodetic. */
    def fromWgs84(srcEll: Ellipsoid, lonDeg: Double, latDeg: Double): (Double, Double) = {
      val (x, y, z) = Helmert.geodeticToEcef(WGS84, lonDeg, latDeg)
      val (x2, y2, z2) = inverse(x, y, z)
      Helmert.ecefToGeodetic(srcEll, x2, y2, z2)
    }
  }

  object Helmert {
    /** geodetic (h = 0) -> geocentric Cartesian. */
    def geodeticToEcef(ell: Ellipsoid, lonDeg: Double, latDeg: Double): (Double, Double, Double) = {
      val lam = math.toRadians(lonDeg); val phi = math.toRadians(latDeg)
      val s = math.sin(phi)
      val nR = ell.a / math.sqrt(1 - ell.e2 * s * s)
      (nR * math.cos(phi) * math.cos(lam), nR * math.cos(phi) * math.sin(lam),
        nR * (1 - ell.e2) * s)
    }

    /** geocentric Cartesian -> geodetic lon/lat (height discarded).
      * Fixed-point iteration on phi (converges to machine precision in
      * a handful of rounds for the |h| < 1 km that datum chains
      * produce); exact for the sphere (e2 = 0) in one step.
      */
    def ecefToGeodetic(ell: Ellipsoid, x: Double, y: Double, z: Double): (Double, Double) = {
      val p = math.hypot(x, y)
      val lon = math.toDegrees(math.atan2(y, x))
      if (p < 1e-9) return (lon, math.copySign(90.0, z)) // at the pole axis
      var phi = math.atan2(z, p * (1 - ell.e2))
      var i = 0
      while (i < 10) {
        val s = math.sin(phi)
        val nR = ell.a / math.sqrt(1 - ell.e2 * s * s)
        val h = p / math.cos(phi) - nR
        val next = math.atan2(z, p * (1 - ell.e2 * nR / (nR + h)))
        if (math.abs(next - phi) < 1e-15) { phi = next; i = 10 }
        else { phi = next; i += 1 }
      }
      (lon, math.toDegrees(phi))
    }
  }

  /** A CRS whose native geodetic datum differs from WGS84: composes the
    * base projection's native math with a [[Helmert]] shift so that
    * `toLonLat`/`fromLonLat` speak WGS84 lon/lat — which makes every
    * cross-CRS chain through [[CrsTransformer]] datum-correct without
    * touching the projection formulas. `equalsCrs` stays structural:
    * the wrapped and unwrapped forms are deliberately NOT equal (they
    * produce coordinates ~100-200 m apart).
    */
  final case class DatumShifted(base: Crs, helmert: Helmert) extends Crs {
    def name: String = base.name
    // never geographic-interchangeable with WGS84, even over a
    // geographic base — the both-geographic equality shortcut would
    // silently skip the datum shift
    val isGeographic = false
    override def axisUnit: String = base.axisUnit
    override def ellipsoid: Ellipsoid = WGS84 // the EXTERNAL interface datum
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val (lon, lat) = base.toLonLat(x, y)
      helmert.toWgs84(base.ellipsoid, lon, lat)
    }
    def fromLonLat(lon: Double, lat: Double): (Double, Double) = {
      val (nLon, nLat) = helmert.fromWgs84(base.ellipsoid, lon, lat)
      base.fromLonLat(nLon, nLat)
    }
  }

  case object Geographic extends Crs {
    val name = "EPSG:4326"
    val isGeographic = true
    def toLonLat(x: Double, y: Double): (Double, Double) = (x, y)
    def fromLonLat(lon: Double, lat: Double): (Double, Double) = (lon, lat)
  }

  /** Transverse Mercator via Krueger series (public-domain formulas; see
    * Karney 2011 "Transverse Mercator with an accuracy of a few
    * nanometers", arXiv:1002.1417, and the standard series on the
    * Wikipedia "Transverse Mercator: flattening series" page).
    */
  final case class TransverseMercator(
      lon0Deg: Double, lat0Deg: Double, k0: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val n = ell.n
    private val n2 = n * n; private val n3 = n2 * n; private val n4 = n3 * n
    private val n5 = n4 * n; private val n6 = n5 * n
    private val bigA =
      ell.a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    private val alpha = Array(
      n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288 + 7891 * n6 / 37800,
      13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630 - 1983433 * n6 / 1935360,
      61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880 + 167603 * n6 / 181440,
      49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
      34729 * n5 / 80640 - 3418889 * n6 / 1995840,
      212378941 * n6 / 319334400)
    private val beta = Array(
      n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512 + 96199 * n6 / 604800,
      n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105 - 1118711 * n6 / 3870720,
      17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
      4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
      4583 * n5 / 161280 - 108847 * n6 / 3991680,
      20648693 * n6 / 638668800)
    private val lon0 = math.toRadians(lon0Deg)
    private val e = ell.e
    private val aux = ell.aux
    // meridian arc from equator to lat0 (= forward northing of (lon0, lat0))
    private val m0 = if (lat0Deg == 0.0) 0.0 else rawNorthing(math.toRadians(lat0Deg))

    private def rawNorthing(phi: Double): Double = {
      val (xi, _) = xiEta(phi, 0.0)
      bigA * xi
    }

    /** conformal (xi', eta') -> series-summed (xi, eta) */
    private def xiEta(phi: Double, dLon: Double): (Double, Double) = {
      val sinPhi = math.sin(phi)
      val t = math.sinh(atanh(sinPhi) - e * atanh(e * sinPhi))
      val xiP = math.atan2(t, math.cos(dLon))
      val etaP = atanh(math.sin(dLon) / math.sqrt(1 + t * t))
      sinSeries(alpha, 1.0, xiP, etaP)
    }

    /** (xi, eta) + sign * sum_k c(k-1) sin(2k zeta) over k = 1..6, with
      * zeta = xi + i eta, by the complex Clenshaw recurrence Karney 2011
      * uses for the Krueger series (PROJ's tmerc sums it the same way):
      * one sin, one cos and one exp of 2 zeta instead of four
      * transcendental calls per term.
      */
    private def sinSeries(c: Array[Double], sign: Double, xi: Double, eta: Double): (Double, Double) = {
      val s2 = math.sin(2 * xi); val c2 = math.cos(2 * xi)
      val ex = math.exp(2 * eta); val exInv = 1 / ex
      val sh2 = (ex - exInv) / 2; val ch2 = (ex + exInv) / 2
      // a = 2 cos(2 zeta); b_k = c_k + a b_(k+1) - b_(k+2)
      val ar = 2 * c2 * ch2; val ai = -2 * s2 * sh2
      var b1r = 0.0; var b1i = 0.0; var b2r = 0.0; var b2i = 0.0
      var k = c.length - 1
      while (k >= 0) {
        val br = ar * b1r - ai * b1i - b2r + c(k)
        val bi = ar * b1i + ai * b1r - b2i
        b2r = b1r; b2i = b1i; b1r = br; b1i = bi
        k -= 1
      }
      // sum = b_1 sin(2 zeta), sin(2 zeta) = sin 2xi cosh 2eta + i cos 2xi sinh 2eta
      val sr = s2 * ch2; val si = c2 * sh2
      (xi + sign * (b1r * sr - b1i * si), eta + sign * (b1r * si + b1i * sr))
    }

    @inline private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val (xi, eta) = xiEta(phi, dLon)
      (falseEasting + k0 * bigA * eta, falseNorthing + k0 * (bigA * xi - m0))
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xi = (y - falseNorthing + k0 * m0) / (k0 * bigA)
      val eta = (x - falseEasting) / (k0 * bigA)
      val (xiP, etaP) = sinSeries(beta, -1.0, xi, eta)
      val sinhEtaP = math.sinh(etaP)
      val cosXiP = math.cos(xiP)
      val lon = lon0 + math.atan2(sinhEtaP, cosXiP)
      // conformal latitude χ: tan χ = sin ξ' / √(sinh² η' + cos² ξ')
      // (Karney 2011), then φ from the conformal series, with no loop
      val phi = aux.phiOfConformal(math.sin(xiP), math.sqrt(sinhEtaP * sinhEtaP + cosXiP * cosXiP))
      (math.toDegrees(lon), math.toDegrees(phi))
    }
  }

  /** Lambert Azimuthal Equal Area on the ellipsoid (Snyder 1987, "Map
    * Projections: A Working Manual", USGS PP 1395, pp. 187-190).
    */
  final case class LambertAzimuthalEqualArea(
      lon0Deg: Double, lat0Deg: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val aux = ell.aux
    private val lon0 = math.toRadians(lon0Deg)
    private val phi1 = math.toRadians(lat0Deg)
    private val qp = aux.qp
    private val rq = ell.a * math.sqrt(qp / 2)
    // the polar aspects (lat0 = ±90°) take the limits sin β1 = ±1,
    // cos β1 = 0 and D = 1 exactly (Snyder's polar form ρ = a√(q_p ∓ q)):
    // through asin, cos β1 and m1 round to unrelated tiny numbers, so
    // their ratio D is nowhere near its limit
    private val polar = math.abs(lat0Deg) == 90.0
    private val beta1 = math.asin(aux.q(phi1) / qp)
    private val sinB1 = if (polar) math.signum(lat0Deg) else math.sin(beta1)
    private val cosB1 = if (polar) 0.0 else math.cos(beta1)
    private val dd = if (polar) 1.0 else ell.a * aux.m(phi1) / (rq * cosB1)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val sinB = math.min(1.0, math.max(-1.0, aux.q(phi) / qp))
      val cosB = math.sqrt((1 - sinB) * (1 + sinB))
      val b = rq * math.sqrt(2.0 / (1 + sinB1 * sinB + cosB1 * cosB * math.cos(dLon)))
      val x = falseEasting + b * dd * cosB * math.sin(dLon)
      val y = falseNorthing + (b / dd) * (cosB1 * sinB - sinB1 * cosB * math.cos(dLon))
      (x, y)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xr = x - falseEasting
      val yr = y - falseNorthing
      val rho = math.sqrt((xr / dd) * (xr / dd) + (dd * yr) * (dd * yr))
      if (rho < 1e-12) return (lon0Deg, lat0Deg)
      // the angular distance c = 2 asin(sh): sin c and cos c by the
      // double-angle identities
      val sh = math.min(1.0, rho / (2 * rq))
      val sinCe = 2 * sh * math.sqrt((1 - sh) * (1 + sh))
      val cosCe = 1 - 2 * sh * sh
      // authalic latitude by the spherical triangle at the centre
      // (azimuth sin xr/(dd rho), cos dd yr/rho): cos xi is the length
      // of (cos xi sin dLon, cos xi cos dLon), exact up to the poles
      val u = sinCe * xr / (dd * rho)
      val v = cosB1 * cosCe - sinB1 * sinCe * dd * yr / rho
      val sinXi = sinB1 * cosCe + cosB1 * sinCe * dd * yr / rho
      val lon = lon0 + math.atan2(u, v)
      val phi = aux.phiOfAuthalic(sinXi, math.sqrt(u * u + v * v))
      (math.toDegrees(lon), math.toDegrees(phi))
    }
  }

  /** Lambert Cylindrical Equal-Area on the ellipsoid, normal aspect
    * (Snyder 1987, USGS PP 1395 eqs. 10-13/10-14/10-16, inverted through
    * the authalic series of [[AuxLatitude]]):
    * the projection family of the NSIDC EASE grids that remote-sensing
    * swath resampling lands on (EPSG:6933 EASE-Grid 2.0 Global on
    * WGS84, EPSG:3410 EASE-Grid Global on the 6371228 m sphere), both
    * with standard parallel 30°. Forward: `x = a·k0·Δλ`,
    * `y = a·q(φ)/(2·k0)` with `k0 = cosφs/√(1−e²sin²φs)`; the map is
    * exactly area-preserving by construction (TransformSpec pins the
    * Jacobian against the ellipsoid area element numerically).
    */
  final case class CylindricalEqualArea(
      latTsDeg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val aux = ell.aux
    private val lon0 = math.toRadians(lon0Deg)
    private val phiS = math.toRadians(latTsDeg)
    private val k0 = aux.m(phiS)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val x = falseEasting + ell.a * k0 * dLon
      val y = falseNorthing + ell.a * aux.q(math.toRadians(latDeg)) / (2 * k0)
      (x, y)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val lon = lon0 + (x - falseEasting) / (ell.a * k0)
      val qv = 2 * (y - falseNorthing) * k0 / ell.a
      (math.toDegrees(lon), math.toDegrees(aux.phiOfAuthalic(qv / aux.qp)))
    }
  }

  /** CF `rotated_latitude_longitude`: a geographic system whose north
    * pole sits at (grid_north_pole_latitude, grid_north_pole_longitude)
    * of the true sphere, with an optional extra rotation
    * `north_pole_grid_longitude` about the new axis. Spherical rotation
    * formulas as in PROJ's `+proj=ob_tran +o_proj=longlat` with
    * `o_lat_p = poleLat`, `lon_0 = poleLon + 180`, `o_lon_p = axisLon`
    * (the standard CORDEX/COSMO transformation; reference parses the CF
    * params via pyproj at cfconv.py:215-221,
    * tests/gridmapping/test_cfconv.py:239-285).
    *
    * `x`/`y` are rotated lon/lat DEGREES. Modeled with
    * `isGeographic = false`: although the axes are angular, treating a
    * rotated grid as interchangeable with WGS84 (the both-geographic
    * equality shortcut) would silently skip the pole rotation.
    */
  final case class RotatedPole(
      poleLatDeg: Double, poleLonDeg: Double, axisLonDeg: Double,
      override val name: String) extends Crs {
    val isGeographic = false
    override val axisUnit: String = "degree" // rotated lon/lat axes

    private val theta = math.toRadians(poleLatDeg)
    private val sinT = math.sin(theta); private val cosT = math.cos(theta)
    private val lon0Deg = poleLonDeg + 180.0

    /** rotated (rlon, rlat) degrees -> true (lon, lat) degrees */
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val lr = math.toRadians(x + axisLonDeg)
      val pr = math.toRadians(y)
      val cosPr = math.cos(pr); val sinPr = math.sin(pr)
      val sinPhi = sinPr * sinT + cosPr * cosT * math.cos(lr)
      val phi = math.asin(math.min(1.0, math.max(-1.0, sinPhi)))
      val lon = lon0Deg + math.toDegrees(math.atan2(
        cosPr * math.sin(lr), sinT * cosPr * math.cos(lr) - sinPr * cosT))
      (normLon(lon), math.toDegrees(phi))
    }

    /** true (lon, lat) degrees -> rotated (rlon, rlat) degrees */
    def fromLonLat(lon: Double, lat: Double): (Double, Double) = {
      val dl = math.toRadians(lon - lon0Deg)
      val phi = math.toRadians(lat)
      val cosPhi = math.cos(phi); val sinPhi = math.sin(phi)
      val sinPr = sinT * sinPhi - cosT * cosPhi * math.cos(dl)
      val pr = math.asin(math.min(1.0, math.max(-1.0, sinPr)))
      val lr = math.atan2(cosPhi * math.sin(dl), sinT * cosPhi * math.cos(dl) + cosT * sinPhi)
      (normLon(math.toDegrees(lr) - axisLonDeg), math.toDegrees(pr))
    }

    @inline private def normLon(l: Double): Double =
      if (l > 180.0) l - 360.0 else if (l < -180.0) l + 360.0 else l
  }

  /** US survey foot (EPSG unit code 9003): exactly 1200/3937 m. */
  val UsSurveyFoot: Double = 1200.0 / 3937.0

  /** A projected CRS whose grid axes are a NON-METRE linear unit — the
    * ftUS US State Plane zone codes. EPSG defines each such zone as
    * the corresponding metre-based zone with grid coordinates
    * expressed in the zone's working unit, so the wrapper is exactly
    * that: scale to metres on the way in, unscale on the way out. The
    * published ftUS false origins fall out of the division exactly
    * (EPSG:2263's 984 250 ftUS = 300 000 m / (1200/3937)).
    */
  final case class UnitScaled(base: Crs, unitToMetre: Double,
      unitName: String, override val name: String) extends Crs {
    require(unitToMetre > 0.0, s"bad unit scale $unitToMetre")
    val isGeographic = false
    override def axisUnit: String = unitName
    override def ellipsoid: Ellipsoid = base.ellipsoid
    def toLonLat(x: Double, y: Double): (Double, Double) =
      base.toLonLat(x * unitToMetre, y * unitToMetre)
    def fromLonLat(lon: Double, lat: Double): (Double, Double) = {
      val (x, y) = base.fromLonLat(lon, lat)
      (x / unitToMetre, y / unitToMetre)
    }
  }

  /** Lambert Conformal Conic, 2 standard parallels (Snyder 1987, USGS
    * PP 1395, pp. 104-110, eqs. 15-1..15-11 ellipsoidal form) — the
    * standard regional-model projection (e.g. EPSG:2154 Lambert-93).
    */
  final case class LambertConformalConic(
      lat1Deg: Double, lat2Deg: Double, lat0Deg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val aux = ell.aux
    private val lon0 = math.toRadians(lon0Deg)
    private val phi1 = math.toRadians(lat1Deg)
    private val phi2 = math.toRadians(lat2Deg)
    private val m1 = aux.m(phi1); private val m2 = aux.m(phi2) // (14-15)
    private val t1 = aux.t(phi1); private val t2 = aux.t(phi2) // (15-9)
    private val nCone =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2)) // (15-8)
    private val bigF = m1 / (nCone * math.pow(t1, nCone)) // (15-10)
    private val rho0 = ell.a * bigF * math.pow(aux.t(math.toRadians(lat0Deg)), nCone) // (15-7a)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val rho = ell.a * bigF * math.pow(aux.t(math.toRadians(latDeg)), nCone) // (15-7)
      val theta = nCone * dLon // (14-4)
      (falseEasting + rho * math.sin(theta),
        falseNorthing + rho0 - rho * math.cos(theta)) // (14-1, 14-2)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xr = x - falseEasting
      val yr = rho0 - (y - falseNorthing)
      val sign = if (nCone < 0) -1.0 else 1.0
      val rho = sign * math.sqrt(xr * xr + yr * yr) // (14-10)
      val theta = math.atan2(sign * xr, sign * yr) // (14-11)
      val tP = math.pow(rho / (ell.a * bigF), 1.0 / nCone) // (15-11)
      (math.toDegrees(theta / nCone + lon0), math.toDegrees(aux.phiOfT(tP)))
    }
  }

  /** Albers Equal-Area Conic on the ellipsoid (Snyder 1987, USGS PP
    * 1395, pp. 98-103, eqs. 14-1..14-19, inverted through the authalic
    * series of [[AuxLatitude]]) — the standard projection for US
    * national products (EPSG:5070 CONUS Albers, the ESRI:102003 family).
    */
  final case class AlbersEqualAreaConic(
      lat1Deg: Double, lat2Deg: Double, lat0Deg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val aux = ell.aux
    private val lon0 = math.toRadians(lon0Deg)
    private val phi1 = math.toRadians(lat1Deg)
    private val phi2 = math.toRadians(lat2Deg)
    private val m1 = aux.m(phi1); private val m2 = aux.m(phi2) // (14-15)
    private val q1 = aux.q(phi1); private val q2 = aux.q(phi2) // (3-12)
    private val nCone =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else (m1 * m1 - m2 * m2) / (q2 - q1) // (14-14)
    private val bigC = m1 * m1 + nCone * q1 // (14-13)
    private def rhoOf(q: Double): Double =
      ell.a * math.sqrt(math.max(0.0, bigC - nCone * q)) / nCone // (14-12)
    private val rho0 = rhoOf(aux.q(math.toRadians(lat0Deg))) // (14-12a)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val rho = rhoOf(aux.q(math.toRadians(latDeg)))
      val theta = nCone * dLon // (14-4)
      (falseEasting + rho * math.sin(theta),
        falseNorthing + rho0 - rho * math.cos(theta)) // (14-1, 14-2)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xr = x - falseEasting
      val yr = rho0 - (y - falseNorthing)
      val sign = if (nCone < 0) -1.0 else 1.0
      val rho = sign * math.sqrt(xr * xr + yr * yr) // (14-10)
      val theta = math.atan2(sign * xr, sign * yr) // (14-11)
      val qv = (bigC - (rho * rho * nCone * nCone) / (ell.a * ell.a)) / nCone // (14-19)
      (math.toDegrees(theta / nCone + lon0), math.toDegrees(aux.phiOfAuthalic(qv / aux.qp)))
    }
  }

  /** Equal Earth (Šavrič, Patterson & Jenny 2018, "The Equal Earth map
    * projection", IJGIS 33(3)) — EPSG:8857's construction: geodetic
    * latitude -> authalic latitude (Snyder 3-11/3-12, the same q as
    * LAEA/Albers), then the published degree-9 polynomial in theta
    * where sin theta = (sqrt(3)/2) sin beta, scaled by the authalic
    * radius R_q = a*sqrt(q_p/2). The x denominator is dy/dtheta, which
    * is what makes the construction exactly equal-area for ANY y
    * polynomial; the published A1..A4 fix the Robinson-like shape
    * (aspect ratio 2.0546). Inverse: Newton on theta, then the Snyder
    * authalic series of [[AuxLatitude]] back to geodetic latitude.
    */
  final case class EqualEarth(
      lon0Deg: Double, falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val aux = ell.aux
    private val lon0 = math.toRadians(lon0Deg)
    private val A1 = 1.340264
    private val A2 = -0.081106
    private val A3 = 0.000893
    private val A4 = 0.003796
    private val M = math.sqrt(3.0) / 2.0

    private val qp = aux.qp
    private val rq = ell.a * math.sqrt(qp / 2.0)

    private def yPoly(t: Double): Double = {
      val t2 = t * t; val t6 = t2 * t2 * t2
      t * (A1 + A2 * t2 + t6 * (A3 + A4 * t2))
    }
    private def dyPoly(t: Double): Double = {
      val t2 = t * t; val t6 = t2 * t2 * t2
      A1 + 3 * A2 * t2 + t6 * (7 * A3 + 9 * A4 * t2)
    }

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val sinBeta = math.min(1.0, math.max(-1.0, aux.q(math.toRadians(latDeg)) / qp))
      val theta = math.asin(M * sinBeta)
      (falseEasting + rq * dLon * math.cos(theta) / (M * dyPoly(theta)),
        falseNorthing + rq * yPoly(theta))
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val yr = (y - falseNorthing) / rq
      var theta = yr // good seed: y(theta) ~ A1*theta near 0, |y| <= 1.318
      var i = 0
      while (i < 20) {
        val corr = (yPoly(theta) - yr) / dyPoly(theta)
        theta -= corr
        if (math.abs(corr) < 1e-14) i = 20 else i += 1
      }
      val phi = aux.phiOfAuthalic(math.sin(theta) / M)
      val dLon = (x - falseEasting) * M * dyPoly(theta) / (rq * math.cos(theta))
      // non-Greenwich aspects (8858/8859): fold back into [-180, 180]
      val lonDeg = math.toDegrees(lon0 + dLon)
      (if (lonDeg > 180) lonDeg - 360 else if (lonDeg < -180) lonDeg + 360 else lonDeg,
        math.toDegrees(phi))
    }
  }

  /** Polar Stereographic, variant B (standard parallel `latTsDeg`;
    * Snyder 1987, pp. 160-163, eqs. 21-33..21-41; t inverted by the
    * conformal series of [[AuxLatitude]]). `south`
    * mirrors the north-aspect math through (phi, y) negation — the
    * EPSG:3031-style south aspect.
    */
  final case class PolarStereographic(
      latTsDeg: Double, lon0Deg: Double,
      falseEasting: Double, falseNorthing: Double,
      south: Boolean, ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell

    private val aux = ell.aux
    private val lon0 = math.toRadians(lon0Deg)
    private val phiTs = math.toRadians(math.abs(latTsDeg))
    private val mc = aux.m(phiTs)
    private val tc = aux.t(phiTs)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(if (south) -latDeg else latDeg)
      var dLon = math.toRadians(lonDeg) - lon0
      if (south) dLon = -dLon
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      val rho = ell.a * mc * aux.t(phi) / tc // (21-34)
      val xP = rho * math.sin(dLon)
      val yP = -rho * math.cos(dLon) // north aspect: y opens toward lon0+180
      if (south) (falseEasting - xP, falseNorthing - yP)
      else (falseEasting + xP, falseNorthing + yP)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      var xP = x - falseEasting
      var yP = y - falseNorthing
      if (south) { xP = -xP; yP = -yP }
      val rho = math.sqrt(xP * xP + yP * yP)
      val phi = aux.phiOfT(rho * tc / (ell.a * mc)) // (21-39)
      val dLon = if (rho < 1e-12) 0.0 else math.atan2(xP, -yP)
      val lon = math.toDegrees(lon0 + (if (south) -dLon else dLon))
      val lat = math.toDegrees(if (south) -phi else phi)
      (if (lon > 180) lon - 360 else if (lon < -180) lon + 360 else lon, lat)
    }
  }

  /** SPHERICAL sinusoidal (Sanson-Flamsteed; Snyder 1987 pp. 243-248,
    * eqs. 30-1..30-5): x = R (lon - lon0) cos(lat), y = R lat —
    * equal-area, the MODIS land-product grid (sphere radius
    * R = 6371007.181 m, the authalic radius). Only the spherical form
    * is implemented; an ellipsoidal `+proj=sinu` with a real ellipsoid
    * fails loudly in the parser rather than silently using the sphere.
    */
  final case class Sinusoidal(
      lon0Deg: Double, radius: Double,
      falseEasting: Double, falseNorthing: Double,
      override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = Ellipsoid(radius, Double.PositiveInfinity)
    private val lon0 = math.toRadians(lon0Deg)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      var dLon = math.toRadians(lonDeg) - lon0
      if (dLon > math.Pi) dLon -= 2 * math.Pi
      if (dLon < -math.Pi) dLon += 2 * math.Pi
      (falseEasting + radius * dLon * math.cos(phi), falseNorthing + radius * phi)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val phi = (y - falseNorthing) / radius
      val cosPhi = math.cos(phi)
      // at the exact pole every x maps to the pole point
      val lon =
        if (math.abs(cosPhi) < 1e-12) lon0
        else lon0 + (x - falseEasting) / (radius * cosPhi)
      val lonDeg = math.toDegrees(lon)
      (if (lonDeg > 180) lonDeg - 360 else if (lonDeg < -180) lonDeg + 360 else lonDeg,
        math.toDegrees(phi))
    }
  }

  /** The MODIS sinusoidal grid (authalic sphere R = 6371007.181 m). */
  val modisSinusoidal: Crs = Sinusoidal(0.0, 6371007.181, 0.0, 0.0, "SR-ORG:6974")

  /** SWISS OBLIQUE MERCATOR (`+proj=somerc`, the CH1903 / LV03 and
    * CH1903+ / LV95 national grids): the published Swisstopo double
    * projection — ellipsoid to conformal sphere (Gaussian curvature
    * radius at the origin), sphere rotated so the origin becomes the
    * pseudo-equator point, then a plain Mercator on the rotated
    * sphere. Conformal, scale k0 at the projection center. Formulas
    * from the public Swisstopo reference "Formulas and constants for
    * the calculation of the Swiss conformal cylindrical projection"
    * (also Snyder 1987 ch. 9 oblique-Mercator background); parameter
    * semantics match PROJ's +proj=somerc.
    */
  final case class SwissObliqueMercator(
      lon0Deg: Double, lat0Deg: Double, k0: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell
    private val e = ell.e
    private val e2 = ell.e2
    private val aux = ell.aux
    private val phi0 = math.toRadians(lat0Deg)
    private val lam0 = math.toRadians(lon0Deg)
    private val sinPhi0 = math.sin(phi0)
    // sphere constants: alpha (lat stretch), R (conformal sphere
    // radius), b0 (origin's sphere latitude), K (level constant)
    private val alpha = {
      val c = math.cos(phi0)
      math.sqrt(1 + e2 / (1 - e2) * c * c * c * c)
    }
    private val bigR =
      k0 * ell.a * math.sqrt(1 - e2) / (1 - e2 * sinPhi0 * sinPhi0)
    private val b0 = math.asin(sinPhi0 / alpha)
    private def q(phi: Double): Double = {
      val s = math.sin(phi)
      math.log(math.tan(math.Pi / 4 + phi / 2)) -
        (e / 2) * math.log((1 + e * s) / (1 - e * s))
    }
    private val bigK = math.log(math.tan(math.Pi / 4 + b0 / 2)) - alpha * q(phi0)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val sVal = alpha * q(math.toRadians(latDeg)) + bigK
      val b = 2 * math.atan(math.exp(sVal)) - math.Pi / 2
      var dLam = math.toRadians(lonDeg) - lam0
      if (dLam > math.Pi) dLam -= 2 * math.Pi
      if (dLam < -math.Pi) dLam += 2 * math.Pi
      val l = alpha * dLam
      val lBar = math.atan2(math.sin(l),
        math.sin(b0) * math.tan(b) + math.cos(b0) * math.cos(l))
      val sinBBar = math.cos(b0) * math.sin(b) -
        math.sin(b0) * math.cos(b) * math.cos(l)
      (falseEasting + bigR * lBar,
        falseNorthing + bigR / 2 * math.log((1 + sinBBar) / (1 - sinBBar)))
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val lBar = (x - falseEasting) / bigR
      val bBar = 2 * math.atan(math.exp((y - falseNorthing) / bigR)) - math.Pi / 2
      val b = math.asin(math.cos(b0) * math.sin(bBar) +
        math.sin(b0) * math.cos(bBar) * math.cos(lBar))
      val l = math.atan2(math.sin(lBar),
        math.cos(b0) * math.cos(lBar) - math.sin(b0) * math.tan(bBar))
      val lamDeg = math.toDegrees(lam0 + l / alpha)
      // S = alpha*q(phi) + K: q is the isometric latitude ψ, so the
      // conformal latitude χ = gd(ψ) has sin χ = tanh ψ, cos χ = 1/cosh ψ
      val psi = (math.log(math.tan(math.Pi / 4 + b / 2)) - bigK) / alpha
      val phi = aux.phiOfConformal(math.tanh(psi), 1 / math.cosh(psi))
      (if (lamDeg > 180) lamDeg - 360 else if (lamDeg < -180) lamDeg + 360 else lamDeg,
        math.toDegrees(phi))
    }
  }

  /** KROVAK oblique conformal conic (EPSG method 9819) — the Czech /
    * Slovak S-JTSK national grid: Bessel 1841 to a conformal sphere,
    * rotation to the oblique pole (azimuth ~30.29 deg), then a conic
    * at the pseudo-standard parallel. Formulas from the public EPSG
    * Guidance Note 7-2. The NATIVE axes are southing (X) / westing
    * (Y); this class exposes the GIS "East North" form (EPSG:5514) —
    * easting = -westing, northing = -southing — so coordinates are
    * negative over the whole country by construction.
    */
  final case class Krovak(
      lonCDeg: Double, latCDeg: Double, azimuthDeg: Double,
      latPseudoDeg: Double, kP: Double,
      falseEasting: Double, falseNorthing: Double,
      ell: Ellipsoid, override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = ell
    private val e = ell.e
    private val e2 = ell.e2
    private val aux = ell.aux
    private val phiC = math.toRadians(latCDeg)
    private val lam0 = math.toRadians(lonCDeg)
    private val alphaC = math.toRadians(azimuthDeg)
    private val phiP = math.toRadians(latPseudoDeg)
    private val bigA =
      ell.a * math.sqrt(1 - e2) / (1 - e2 * math.sin(phiC) * math.sin(phiC))
    private val bigB = {
      val c = math.cos(phiC)
      math.sqrt(1 + e2 * c * c * c * c / (1 - e2))
    }
    private val gamma0 = math.asin(math.sin(phiC) / bigB)
    private val t0 = math.tan(math.Pi / 4 + gamma0 / 2) *
      math.pow((1 + e * math.sin(phiC)) / (1 - e * math.sin(phiC)), e * bigB / 2) /
      math.pow(math.tan(math.Pi / 4 + phiC / 2), bigB)
    private val n = math.sin(phiP)
    private val r0 = kP * bigA / math.tan(phiP)
    private val tanP = math.pow(math.tan(phiP / 2 + math.Pi / 4), n)

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = math.toRadians(latDeg)
      val u = 2 * (math.atan(
        t0 * math.pow(math.tan(phi / 2 + math.Pi / 4), bigB) /
          math.pow((1 + e * math.sin(phi)) / (1 - e * math.sin(phi)), e * bigB / 2))
        - math.Pi / 4)
      val v = bigB * (lam0 - math.toRadians(lonDeg))
      val t = math.asin(math.cos(alphaC) * math.sin(u) +
        math.sin(alphaC) * math.cos(u) * math.cos(v))
      val d = math.asin(math.cos(u) * math.sin(v) / math.cos(t))
      val theta = n * d
      val r = r0 * tanP / math.pow(math.tan(t / 2 + math.Pi / 4), n)
      val southing = r * math.cos(theta)
      val westing = r * math.sin(theta)
      (falseEasting - westing, falseNorthing - southing)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val westing = falseEasting - x
      val southing = falseNorthing - y
      val r = math.hypot(southing, westing)
      val theta = math.atan2(westing, southing)
      val d = theta / n
      val t = 2 * (math.atan(
        math.pow(r0 / r, 1.0 / n) * math.tan(phiP / 2 + math.Pi / 4)) - math.Pi / 4)
      val u = math.asin(math.cos(alphaC) * math.sin(t) -
        math.sin(alphaC) * math.cos(t) * math.cos(d))
      val v = math.asin(math.cos(t) * math.sin(d) / math.cos(u))
      val lam = lam0 - v / bigB
      // the forward's u is the Gauss-sphere image of the isometric
      // latitude ψ(φ) = (ln tan(u/2 + π/4) − ln t0) / B; φ follows from
      // the conformal latitude χ = gd(ψ), as in the Swiss inverse
      val psi = (math.log(math.tan(u / 2 + math.Pi / 4)) - math.log(t0)) / bigB
      val phi = aux.phiOfConformal(math.tanh(psi), 1 / math.cosh(psi))
      (math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  /** NEW ZEALAND MAP GRID (EPSG:27200) — Reilly's 6th-order complex
    * conformal polynomial on International 1924, the NZGD49 national
    * grid that preceded NZTM2000. Published definition (all constants
    * public): W.I. Reilly, "A conformal mapping projection with minimum
    * scale error" (Survey Review 1973) and the LINZ standard
    * LINZS25702 "NZGD49 / NZMG projection". The forward maps
    * Δφ (in 10^5 arc-seconds) through a 10-term real series to an
    * isometric-latitude difference Δψ, forms z = Δψ + iΔλ, and
    * evaluates a 6-term COMPLEX polynomial ζ = Σ B_k z^k;
    * E = FE + a·Im ζ, N = FN + a·Re ζ. The inverse seeds z from the
    * published 6-term inverse series and polishes with two Newton
    * steps on the forward polynomial, then maps Δψ back through the
    * 9-term real series. Conformality comes free from the analyticity
    * of the complex polynomial.
    */
  final case class NewZealandMapGrid(override val name: String) extends Crs {
    val isGeographic = false
    override def ellipsoid: Ellipsoid = Ellipsoid(6378388.0, 297.0) // International 1924
    private val a = 6378388.0 // International 1924
    private val phi0 = math.toRadians(-41.0)
    private val lam0 = math.toRadians(173.0)
    private val fe = 2510000.0
    private val fn = 6023150.0
    // rad <-> 10^5 arc-seconds
    private val RadToSec5 = math.toDegrees(1.0) * 3600.0 * 1e-5
    private val Sec5ToRad = 1.0 / RadToSec5
    // Δφ' -> Δψ series (A1..A10) and Δψ -> Δφ' series (C1..C9)
    private val A = Array(0.6399175073, -0.1358797613, 0.063294409, -0.02526853,
      0.0117879, -0.0055161, 0.0026906, -0.001333, 0.00067, -0.00034)
    private val C = Array(1.5627014243, 0.5185406398, -0.03333098, -0.1052906,
      -0.0368594, 0.007317, 0.01220, 0.00394, -0.0013)
    // forward complex coefficients B1..B6 (re, im)
    private val Br = Array(0.7557853228, 0.249204646, -0.001541739,
      -0.10162907, -0.26623489, -0.6870983)
    private val Bi = Array(0.0, 0.003371507, 0.041058560,
      0.01727609, -0.36249218, -1.1651967)
    // inverse-seed complex coefficients b1..b6
    private val br = Array(1.3231270439, -0.577245789, 0.508307513,
      -0.15094762, 1.01418179, 1.9660549)
    private val bi = Array(0.0, -0.007809598, -0.112208952,
      0.18200602, 1.64497696, 2.5127645)

    /** Horner evaluation of z * Σ c_k z^(k-1) for complex coefficient
      * arrays — i.e. Σ_{k=1..n} c_k z^k.
      */
    private def zpoly(cr: Array[Double], ci: Array[Double],
        zr: Double, zi: Double): (Double, Double) = {
      val n = cr.length
      var wr = cr(n - 1); var wi = ci(n - 1)
      var k = n - 2
      while (k >= 0) {
        val t = wr * zr - wi * zi + cr(k)
        wi = wr * zi + wi * zr + ci(k)
        wr = t
        k -= 1
      }
      (wr * zr - wi * zi, wr * zi + wi * zr)
    }

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val dphi = (math.toRadians(latDeg) - phi0) * RadToSec5
      var psi = A(A.length - 1)
      var i = A.length - 2
      while (i >= 0) { psi = A(i) + dphi * psi; i -= 1 }
      psi *= dphi
      var dlam = math.toRadians(lonDeg) - lam0
      if (dlam > math.Pi) dlam -= 2 * math.Pi
      if (dlam < -math.Pi) dlam += 2 * math.Pi
      val (zr, zi) = zpoly(Br, Bi, psi, dlam)
      (fe + a * zi, fn + a * zr)
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val wr = (y - fn) / a; val wi = (x - fe) / a
      // seed from the inverse series, then two Newton steps on
      // f(z) = Σ B_k z^k - w  (f'(z) = Σ k B_k z^(k-1))
      var (zr, zi) = zpoly(br, bi, wr, wi)
      var it = 0
      while (it < 2) {
        // numerator: w + Σ_{k=2..6} (k-1) B_k z^k, denominator: Σ k B_k z^(k-1)
        var numR = wr; var numI = wi
        var denR = Br(0); var denI = Bi(0)
        // accumulate powers of z
        var pr = zr; var pi = zi // z^1
        var k = 2
        while (k <= 6) {
          val t = pr * zr - pi * zi
          pi = pr * zi + pi * zr
          pr = t // now z^k
          numR += (k - 1) * (Br(k - 1) * pr - Bi(k - 1) * pi)
          numI += (k - 1) * (Br(k - 1) * pi + Bi(k - 1) * pr)
          k += 1
        }
        // denominator Σ k B_k z^(k-1): Horner over coefficients k*B_k
        var dr = 6 * Br(5); var di = 6 * Bi(5)
        k = 4
        while (k >= 0) {
          val t = dr * zr - di * zi + (k + 1) * Br(k)
          di = dr * zi + di * zr + (k + 1) * Bi(k)
          dr = t
          k -= 1
        }
        denR = dr; denI = di
        val d2 = denR * denR + denI * denI
        val nzr = (numR * denR + numI * denI) / d2
        val nzi = (numI * denR - numR * denI) / d2
        zr = nzr; zi = nzi
        it += 1
      }
      val dpsi = zr
      var dphi = C(C.length - 1)
      var i = C.length - 2
      while (i >= 0) { dphi = C(i) + dpsi * dphi; i -= 1 }
      dphi *= dpsi
      val latDeg = math.toDegrees(phi0 + dphi * Sec5ToRad)
      var lonDeg = math.toDegrees(lam0 + zi)
      if (lonDeg > 180) lonDeg -= 360 else if (lonDeg < -180) lonDeg += 360
      (lonDeg, latDeg)
    }
  }

  /** NZGD49 / New Zealand Map Grid (NATIVE datum form — the registry
    * serves the datum-shifted wrapper).
    */
  val nzmg: Crs = NewZealandMapGrid("EPSG:27200")

  /** Bessel 1841 (the Swiss and Czech/Slovak national grids). */
  val Bessel1841: Ellipsoid = Ellipsoid(6377397.155, 299.1528128)

  // ---- published towgs84 datum parameters (position vector, metres /
  // arc-seconds / ppm) for the non-WGS84 grids the engine implements.
  // Values are the EPSG-registered transformations historically shipped
  // in PROJ's EPSG init table — i.e. what pyproj applies when no
  // distortion grid is installed.

  /** S-JTSK -> WGS84 (EPSG transformation 1622, the PROJ default for
    * EPSG:5514): geocentric translation only.
    */
  val SJtskToWgs84: Helmert = Helmert(589.0, 76.0, 480.0, 0, 0, 0, 0)

  /** CH1903/CH1903+ -> WGS84 (EPSG 1676/1766 — the Zimmerwald-derived
    * translation that DEFINES CH1903+; PROJ applies it to both LV03
    * and LV95).
    */
  val Ch1903ToWgs84: Helmert = Helmert(674.374, 15.056, 405.346, 0, 0, 0, 0)

  /** NZGD49 -> WGS84 (EPSG transformation 1564, 7-parameter). */
  val Nzgd49ToWgs84: Helmert = Helmert(59.47, -5.04, 187.44, 0.47, -0.10, 1.024, -4.5993)

  /** MGI (Austria) -> WGS84 (EPSG transformation 1618, 7-parameter). */
  val MgiToWgs84: Helmert = Helmert(577.326, 90.129, 463.919, 5.137, 1.474, 5.297, 2.4232)

  /** OSGB36 -> WGS84 (EPSG transformation 1314 — the OS's published
    * national 7-parameter set, ~2 m point accuracy vs the OSTN grid).
    */
  val Osgb36ToWgs84: Helmert = Helmert(446.448, -125.157, 542.06, 0.15, 0.247, 0.842, -20.489)

  /** S-JTSK / Krovak East North (EPSG:5514): lonC 24°50' E Greenwich
    * (42°30' E Ferro), latC 49°30', azimuth 30°17'17.3031",
    * pseudo-standard parallel 78°30', kP 0.9999, Bessel 1841.
    */
  val krovakEastNorth: Crs = Krovak(
    lonCDeg = 24.0 + 50.0 / 60, latCDeg = 49.5,
    azimuthDeg = 30.0 + 17.0 / 60 + 17.3031 / 3600,
    latPseudoDeg = 78.5, kP = 0.9999,
    falseEasting = 0.0, falseNorthing = 0.0,
    ell = Bessel1841, name = "EPSG:5514")

  // Bern old observatory: 46°57'08.66" N, 7°26'22.50" E
  private val BernLatDeg = 46.0 + 57.0 / 60 + 8.66 / 3600
  private val BernLonDeg = 7.0 + 26.0 / 60 + 22.50 / 3600

  /** CH1903 / LV03 (EPSG:21781). */
  val ch1903Lv03: Crs = SwissObliqueMercator(
    BernLonDeg, BernLatDeg, 1.0, 600000.0, 200000.0, Bessel1841, "EPSG:21781")

  /** CH1903+ / LV95 (EPSG:2056). */
  val ch1903PlusLv95: Crs = SwissObliqueMercator(
    BernLonDeg, BernLatDeg, 1.0, 2600000.0, 1200000.0, Bessel1841, "EPSG:2056")

  /** Spherical ("web") Mercator, EPSG:3857: the WGS84 ellipsoid's
    * semi-major axis used as a sphere radius (the defining quirk).
    */
  case object WebMercator extends Crs {
    val name = "EPSG:3857"
    val isGeographic = false
    private val a = WGS84.a
    def fromLonLat(lon: Double, lat: Double): (Double, Double) =
      (a * math.toRadians(lon),
        a * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2)))
    def toLonLat(x: Double, y: Double): (Double, Double) =
      (math.toDegrees(x / a),
        math.toDegrees(2 * math.atan(math.exp(y / a)) - math.Pi / 2))
  }

  def utm(zone: Int, north: Boolean): Crs = TransverseMercator(
    lon0Deg = zone * 6.0 - 183.0, lat0Deg = 0.0, k0 = 0.9996,
    falseEasting = 500000.0, falseNorthing = if (north) 0.0 else 10000000.0,
    ell = WGS84, name = s"EPSG:${if (north) 32600 + zone else 32700 + zone}")

  val laea3035: Crs = LambertAzimuthalEqualArea(
    lon0Deg = 10.0, lat0Deg = 52.0,
    falseEasting = 4321000.0, falseNorthing = 3210000.0,
    ell = GRS80, name = "EPSG:3035")

  val lambert93: Crs = LambertConformalConic(
    lat1Deg = 49.0, lat2Deg = 44.0, lat0Deg = 46.5, lon0Deg = 3.0,
    falseEasting = 700000.0, falseNorthing = 6600000.0,
    ell = GRS80, name = "EPSG:2154")

  val npsPolarStereo: Crs = PolarStereographic( // NSIDC Sea Ice Polar Stereographic North
    latTsDeg = 70.0, lon0Deg = -45.0, falseEasting = 0.0, falseNorthing = 0.0,
    south = false, ell = WGS84, name = "EPSG:3413")

  val antarcticPolarStereo: Crs = PolarStereographic( // Antarctic Polar Stereographic
    latTsDeg = -71.0, lon0Deg = 0.0, falseEasting = 0.0, falseNorthing = 0.0,
    south = true, ell = WGS84, name = "EPSG:3031")

  val conusAlbers: Crs = AlbersEqualAreaConic( // NAD83 / Conus Albers
    lat1Deg = 29.5, lat2Deg = 45.5, lat0Deg = 23.0, lon0Deg = -96.0,
    falseEasting = 0.0, falseNorthing = 0.0, ell = GRS80, name = "EPSG:5070")

  val usaContiguousAlbers: Crs = AlbersEqualAreaConic( // ESRI USA Contiguous AEA
    lat1Deg = 29.5, lat2Deg = 45.5, lat0Deg = 37.5, lon0Deg = -96.0,
    falseEasting = 0.0, falseNorthing = 0.0, ell = GRS80, name = "ESRI:102003")

  /** Airy 1830 (OSGB36 / British National Grid). */
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646)

  /** Hughes 1980 (the legacy NSIDC sea-ice grids EPSG:3411/3412). */
  val Hughes1980: Ellipsoid = Ellipsoid(6378273.0, 298.279411123064)

  /** UPS lat_ts equivalent of the defining k0 = 0.994 pole scale. */
  private val UpsLatTs = 81.114517868986
  private lazy val upsNorth: Crs =
    PolarStereographic(UpsLatTs, 0.0, 2000000.0, 2000000.0, south = false, WGS84, "EPSG:5041")
  private lazy val upsSouth: Crs =
    PolarStereographic(-UpsLatTs, 0.0, 2000000.0, 2000000.0, south = true, WGS84, "EPSG:5042")

  /** Registry of well-known EPSG codes for the implemented families,
    * beyond the pattern-matched UTM ranges. Parameters from the public
    * EPSG registry entries.
    */
  private lazy val epsgRegistry: Map[String, Crs] = Map(
    "EPSG:3035" -> laea3035,
    "EPSG:2154" -> lambert93,
    "EPSG:3413" -> npsPolarStereo,
    "EPSG:3031" -> antarcticPolarStereo,
    "EPSG:5070" -> conusAlbers,
    "ESRI:102003" -> usaContiguousAlbers,
    // NSIDC Sea Ice Polar Stereographic South
    "EPSG:3976" -> PolarStereographic(-70.0, 0.0, 0.0, 0.0, south = true, WGS84, "EPSG:3976"),
    // Arctic Polar Stereographic (lat_ts 71N, lon0 0)
    "EPSG:3995" -> PolarStereographic(71.0, 0.0, 0.0, 0.0, south = false, WGS84, "EPSG:3995"),
    // OSGB36 / British National Grid (transverse mercator on Airy
    // 1830, datum-shifted to WGS84 via the OS national Helmert set)
    "EPSG:27700" -> DatumShifted(
      TransverseMercator(-2.0, 49.0, 0.9996012717, 400000.0, -100000.0,
        Airy1830, "EPSG:27700"), Osgb36ToWgs84),
    // NZGD2000 / New Zealand Transverse Mercator 2000
    "EPSG:2193" -> TransverseMercator(173.0, 0.0, 0.9996, 1600000.0, 10000000.0,
      GRS80, "EPSG:2193"),
    // NAD83 / Conus LCC (CONUS analysis grids)
    "EPSG:5069" -> LambertConformalConic(33.0, 45.0, 23.0, -96.0, 0.0, 0.0, GRS80, "EPSG:5069"),
    // ETRS89-extended / LCC Europe (the EEA's conformal companion to 3035)
    "EPSG:3034" -> LambertConformalConic(35.0, 65.0, 52.0, 10.0, 4000000.0, 2800000.0,
      GRS80, "EPSG:3034"),
    // NSIDC legacy sea-ice polar stereo N/S on the Hughes 1980 ellipsoid
    "EPSG:3411" -> PolarStereographic(70.0, -45.0, 0.0, 0.0, south = false,
      Hughes1980, "EPSG:3411"),
    "EPSG:3412" -> PolarStereographic(-70.0, 0.0, 0.0, 0.0, south = true,
      Hughes1980, "EPSG:3412"),
    // Universal Polar Stereographic N/S (EPSG Variant A: k0 = 0.994 at
    // the pole). Our family is Variant B (unit scale at lat_ts); the
    // two coincide at lat_ts = +-81.114517868986 deg on WGS84
    // (numerically verified to 1e-12: m/(2t)*sqrt((1+e)^(1+e)(1-e)^(1-e))
    // = 0.994 there — TransformSpec re-derives it). 32661/32761 are the
    // legacy aliases for the same grids.
    "EPSG:5041" -> upsNorth, "EPSG:32661" -> upsNorth,
    "EPSG:5042" -> upsSouth, "EPSG:32761" -> upsSouth,
    // Swiss national grids (oblique mercator on Bessel 1841, shifted
    // to WGS84 by the Zimmerwald translation)
    "EPSG:21781" -> DatumShifted(ch1903Lv03, Ch1903ToWgs84),
    "EPSG:2056" -> DatumShifted(ch1903PlusLv95, Ch1903ToWgs84),
    // Czech/Slovak S-JTSK (Krovak East North on Bessel 1841)
    "EPSG:5514" -> DatumShifted(krovakEastNorth, SJtskToWgs84),
    // NZGD49 / New Zealand Map Grid (complex-series conformal on
    // International 1924, 7-parameter shift to WGS84)
    "EPSG:27200" -> DatumShifted(nzmg, Nzgd49ToWgs84),
    // ETRS89 / TM35FIN (Finland single-zone TM)
    "EPSG:3067" -> TransverseMercator(27.0, 0.0, 0.9996, 500000.0, 0.0,
      GRS80, "EPSG:3067"),
    // ETRS89 / Poland CS92 (single-zone TM, negative false northing)
    "EPSG:2180" -> TransverseMercator(19.0, 0.0, 0.9993, 500000.0, -5300000.0,
      GRS80, "EPSG:2180"),
    // MGI / Austria Lambert (LCC on Bessel 1841, 7-parameter shift)
    "EPSG:31287" -> DatumShifted(
      LambertConformalConic(49.0, 46.0, 47.5, 13.0 + 20.0 / 60,
        400000.0, 400000.0, Bessel1841, "EPSG:31287"), MgiToWgs84),
    // US State Plane (NAD83): metre-based codes, plus the working-unit
    // ftUS twins via [[UnitScaled]] (EPSG defines a ftUS zone as the
    // metre zone's coordinates re-expressed in US survey feet).
    // New York Long Island / Maryland / South Carolina LCC zones,
    // Arizona Central TM zone. Parameters from the public EPSG
    // registry entries.
    "EPSG:32118" -> LambertConformalConic(40.0 + 40.0 / 60, 41.0 + 2.0 / 60,
      40.0 + 10.0 / 60, -74.0, 300000.0, 0.0, GRS80, "EPSG:32118"),
    "EPSG:26985" -> LambertConformalConic(38.3, 39.45, 37.0 + 40.0 / 60, -77.0,
      400000.0, 0.0, GRS80, "EPSG:26985"),
    "EPSG:32133" -> LambertConformalConic(32.5, 34.0 + 50.0 / 60, 31.0 + 50.0 / 60,
      -81.0, 609600.0, 0.0, GRS80, "EPSG:32133"),
    "EPSG:26949" -> TransverseMercator(-(111.0 + 55.0 / 60), 31.0, 0.9999,
      213360.0, 0.0, GRS80, "EPSG:26949"),
    // NAD83 / Texas Central
    "EPSG:32139" -> LambertConformalConic(31.0 + 53.0 / 60, 30.0 + 7.0 / 60,
      29.0 + 40.0 / 60, -(100.0 + 20.0 / 60), 700000.0, 3000000.0, GRS80, "EPSG:32139"),
    // NAD83 / California zone 3
    "EPSG:26943" -> LambertConformalConic(38.0 + 26.0 / 60, 37.0 + 4.0 / 60,
      36.5, -120.5, 2000000.0, 500000.0, GRS80, "EPSG:26943"),
    // NAD83 / Alabama East
    "EPSG:26929" -> TransverseMercator(-(85.0 + 50.0 / 60), 30.5, 0.99996,
      200000.0, 0.0, GRS80, "EPSG:26929"),
    // ftUS State Plane zones: New York Long Island, California zone 5,
    // Tennessee (published ftUS false origins 984250 / 6561666.667 +
    // 1640416.667 / 1968500 = the metre values over 1200/3937 exactly)
    "EPSG:2263" -> UnitScaled(
      LambertConformalConic(40.0 + 40.0 / 60, 41.0 + 2.0 / 60,
        40.0 + 10.0 / 60, -74.0, 300000.0, 0.0, GRS80, "EPSG:32118"),
      UsSurveyFoot, "US survey foot", "EPSG:2263"),
    "EPSG:2229" -> UnitScaled(
      LambertConformalConic(34.0 + 2.0 / 60, 35.0 + 28.0 / 60,
        33.5, -118.0, 2000000.0, 500000.0, GRS80, "EPSG:26945"),
      UsSurveyFoot, "US survey foot", "EPSG:2229"),
    "EPSG:2274" -> UnitScaled(
      LambertConformalConic(35.0 + 15.0 / 60, 36.0 + 25.0 / 60,
        34.0 + 20.0 / 60, -86.0, 600000.0, 0.0, GRS80, "EPSG:32136"),
      UsSurveyFoot, "US survey foot", "EPSG:2274"),
    // NAD83 / Alaska Albers (the statewide equal-area grid)
    "EPSG:3338" -> AlbersEqualAreaConic(55.0, 65.0, 50.0, -154.0, 0.0, 0.0,
      GRS80, "EPSG:3338"),
    // EASE-Grid 2.0 North / South (polar LAEA on WGS84)
    "EPSG:6931" -> LambertAzimuthalEqualArea(0.0, 90.0, 0.0, 0.0, WGS84, "EPSG:6931"),
    "EPSG:6932" -> LambertAzimuthalEqualArea(0.0, -90.0, 0.0, 0.0, WGS84, "EPSG:6932"),
    // North Pole LAEA Atlantic / Europe (pan-Arctic mapping aspects)
    "EPSG:3574" -> LambertAzimuthalEqualArea(-40.0, 90.0, 0.0, 0.0, WGS84, "EPSG:3574"),
    "EPSG:3575" -> LambertAzimuthalEqualArea(10.0, 90.0, 0.0, 0.0, WGS84, "EPSG:3575"),
    // MODIS sinusoidal grid (spherical, authalic radius)
    "SR-ORG:6974" -> modisSinusoidal,
    // ESRI Sphere Sinusoidal (world grid on the R=6371000 sphere)
    "ESRI:53008" -> Sinusoidal(0.0, 6371000.0, 0.0, 0.0, "ESRI:53008"),
    // WGS84 Equal Earth: Greenwich / Americas / Asia-Pacific aspects
    "EPSG:8857" -> EqualEarth(0.0, 0.0, 0.0, WGS84, "EPSG:8857"),
    "EPSG:8858" -> EqualEarth(-90.0, 0.0, 0.0, WGS84, "EPSG:8858"),
    "EPSG:8859" -> EqualEarth(150.0, 0.0, 0.0, WGS84, "EPSG:8859"),
    // NSIDC EASE grids (cylindrical equal-area, standard parallel 30):
    // EASE-Grid 2.0 Global on WGS84; original EASE-Grid Global on the
    // authalic 6371228 m sphere
    "EPSG:6933" -> CylindricalEqualArea(30.0, 0.0, 0.0, 0.0, WGS84, "EPSG:6933"),
    "EPSG:3410" -> CylindricalEqualArea(30.0, 0.0, 0.0, 0.0,
      Ellipsoid(6371228.0, Double.PositiveInfinity), "EPSG:3410"))

  private val SupportedMsg =
    "supported: EPSG:4326/OGC:CRS84 (geographic), EPSG:3857 (web mercator), " +
      "EPSG:326xx/327xx + 258xx (ETRS89) + 269xx (NAD83) (UTM), " +
      "EPSG:27700 (British National Grid), EPSG:2193 (NZTM2000), EPSG:3067/2180 (national TM), " +
      "EPSG:3035 + 6931/6932/3574/3575 (LAEA), " +
      "EPSG:2154/5069/3034/31287 + 32118/26985/32133/32139/26943 (state plane) (LCC), " +
      "EPSG:2263/2229/2274 (state plane LCC, ftUS), " +
      "EPSG:26949/26929 (state plane TM), " +
      "EPSG:5070 + 3338 + ESRI:102003 (Albers), " +
      "EPSG:3413/3031/3976/3995 + 3411/3412 (polar stereographic), " +
      "EPSG:5041/5042 + 32661/32761 (UPS), " +
      "EPSG:21781/2056 (Swiss oblique mercator), EPSG:5514 (Krovak East North), " +
      "EPSG:27200 (New Zealand Map Grid), " +
      "SR-ORG:6974 + ESRI:53008 (sinusoidal), " +
      "EPSG:8857/8858/8859 (Equal Earth), " +
      "EPSG:6933/3410 (EASE cylindrical equal-area), " +
      "proj strings (+proj=longlat|merc|utm|tmerc|laea|lcc|aea|cea|sinu(spherical)|stere|ob_tran|eqearth|somerc|krovak|nzmg), " +
      "and WKT with PROJECTION " +
      "Transverse_Mercator|Lambert_Azimuthal_Equal_Area|Lambert_Conformal_Conic_2SP|" +
      "Albers_Conic_Equal_Area|Polar_Stereographic|Mercator|Sinusoidal(spherical)|Equal_Earth"

  /** Parse an EPSG identifier, a proj string, or (pragmatically) a WKT
    * blob. Fails loudly with the supported list — silently proceeding
    * with a wrong CRS would corrupt every downstream coordinate.
    */
  def fromString(s: String): Crs = {
    val trimmed = s.trim
    if (trimmed.startsWith("+")) fromProjString(trimmed)
    else if (trimmed.contains("[")) fromWkt(trimmed)
    else trimmed.toUpperCase match {
      case "EPSG:4326" | "OGC:CRS84" | "CRS84" | "WGS84" | "EPSG:4979" => Geographic
      case "EPSG:3857" | "EPSG:900913" => WebMercator
      case c if epsgRegistry.contains(c) => epsgRegistry(c)
      case c if c.startsWith("EPSG:326") && c.length == 10 => utm(c.drop(8).toInt, north = true)
      case c if c.startsWith("EPSG:327") && c.length == 10 => utm(c.drop(8).toInt, north = false)
      // ETRS89 / UTM zones 28N-38N (GRS80 rather than the WGS84 of 326xx)
      case c if c.startsWith("EPSG:258") && c.length == 10 && {
        val z = c.drop(8).toInt; z >= 28 && z <= 38
      } =>
        val z = c.drop(8).toInt
        TransverseMercator(z * 6.0 - 183.0, 0.0, 0.9996, 500000.0, 0.0, GRS80, c)
      // NAD83 / UTM zones 1N-23N
      case c if c.startsWith("EPSG:269") && c.length == 10 && {
        val z = c.drop(8).toInt; z >= 1 && z <= 23
      } =>
        val z = c.drop(8).toInt
        TransverseMercator(z * 6.0 - 183.0, 0.0, 0.9996, 500000.0, 0.0, GRS80, c)
      case other => throw new IllegalArgumentException(
        s"unsupported CRS: $other; $SupportedMsg")
    }
  }

  /** Parse a PROJ.4-style parameter string for the implemented
    * projection families (public parameter semantics; see the PROJ
    * documentation for each +proj entry).
    */
  def fromProjString(s: String): Crs = {
    val kv = s.trim.split("\\s+").filter(_.startsWith("+")).map(_.drop(1)).map { tok =>
      tok.split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap
    def num(k: String, dflt: Double): Double = kv.get(k).map(_.toDouble).getOrElse(dflt)
    val ell = kv.getOrElse("ellps", kv.getOrElse("datum", "WGS84")).toUpperCase match {
      case "GRS80" => GRS80
      case _ => WGS84
    }
    val base = kv.getOrElse("proj", "?") match {
      case "longlat" | "latlong" | "lonlat" => Geographic
      case "merc" if num("a", WGS84.a) == WGS84.a => WebMercator
      case "utm" =>
        val zone = kv.getOrElse("zone",
          throw new IllegalArgumentException(s"+proj=utm requires +zone=<n>: $s"))
        utm(zone.toInt, north = !kv.contains("south"))
      case "tmerc" => TransverseMercator(
        num("lon_0", 0), num("lat_0", 0), num("k", num("k_0", 1.0)),
        num("x_0", 0), num("y_0", 0), ell, s.trim)
      case "laea" => LambertAzimuthalEqualArea(
        num("lon_0", 0), num("lat_0", 0), num("x_0", 0), num("y_0", 0), ell, s.trim)
      case "lcc" => LambertConformalConic(
        num("lat_1", 0), num("lat_2", num("lat_1", 0)), num("lat_0", 0), num("lon_0", 0),
        num("x_0", 0), num("y_0", 0), ell, s.trim)
      case "aea" => AlbersEqualAreaConic(
        num("lat_1", 0), num("lat_2", num("lat_1", 0)), num("lat_0", 0), num("lon_0", 0),
        num("x_0", 0), num("y_0", 0), ell, s.trim)
      case "cea" =>
        // +R / sphere-shaped +a selects the spherical form (EASE v1)
        val ceaEll = kv.get("R").map(_.toDouble)
          .orElse(kv.get("a").map(_.toDouble).filter(a =>
            kv.get("b").forall(_.toDouble == a)).filter(_ => !kv.contains("ellps")))
          .map(r => Ellipsoid(r, Double.PositiveInfinity)).getOrElse(ell)
        CylindricalEqualArea(
          num("lat_ts", 0), num("lon_0", 0),
          num("x_0", 0), num("y_0", 0), ceaEll, s.trim)
      case "sinu" =>
        // only the spherical form (the MODIS case) is implemented: an
        // explicit +R, or a sphere-shaped +a (+b absent or equal)
        val r = kv.get("R").map(_.toDouble)
          .orElse(kv.get("a").map(_.toDouble).filter(a =>
            kv.get("b").forall(_.toDouble == a)))
        r match {
          case Some(radius) => Sinusoidal(
            num("lon_0", 0), radius, num("x_0", 0), num("y_0", 0), s.trim)
          case None => throw new IllegalArgumentException(
            s"+proj=sinu is implemented for the SPHERICAL form only (MODIS): " +
              s"pass +R=<radius> (or +a==+b); ellipsoidal sinusoidal is unsupported: $s")
        }
      case "eqearth" => EqualEarth(
        num("lon_0", 0), num("x_0", 0), num("y_0", 0), ell, s.trim)
      case "krovak" =>
        // PROJ's default is the East-North (negative) axis form this
        // class exposes; +czech (positive southing/westing) is not
        val krEll = kv.getOrElse("ellps", "").toUpperCase match {
          case "BESSEL" => Bessel1841
          case _ => ell
        }
        if (kv.contains("czech")) throw new IllegalArgumentException(
          s"+proj=krovak +czech (positive S/W axes) is unsupported; use the East-North form: $s")
        Krovak(
          num("lon_0", 24.0 + 50.0 / 60), num("lat_0", 49.5),
          num("alpha", 30.0 + 17.0 / 60 + 17.3031 / 3600),
          num("lat_ts", 78.5), num("k_0", num("k", 0.9999)),
          num("x_0", 0), num("y_0", 0), krEll, s.trim)
      case "somerc" =>
        val som = kv.getOrElse("ellps", "").toUpperCase match {
          case "BESSEL" => Bessel1841
          case _ => ell
        }
        SwissObliqueMercator(
          num("lon_0", 0), num("lat_0", 0), num("k_0", num("k", 1.0)),
          num("x_0", 0), num("y_0", 0), som, s.trim)
      case "nzmg" =>
        // all constants are fixed by the published definition; PROJ
        // likewise ignores overrides beyond the International ellipsoid
        NewZealandMapGrid(s.trim)
      case "stere" if math.abs(num("lat_0", 0)) == 90.0 => PolarStereographic(
        num("lat_ts", num("lat_0", 90)), num("lon_0", 0),
        num("x_0", 0), num("y_0", 0), south = num("lat_0", 0) < 0, ell, s.trim)
      case "ob_tran" if kv.get("o_proj").exists(p => p == "longlat" || p == "latlon" || p == "latlong") =>
        RotatedPole(num("o_lat_p", 90), num("lon_0", 180) - 180.0, num("o_lon_p", 0), s.trim)
      case other => throw new IllegalArgumentException(
        s"unsupported proj string (+proj=$other): $s; $SupportedMsg")
    }
    // +towgs84=dx,dy,dz[,rx,ry,rz,ds] wraps the projection with the
    // PROJ-semantics (position vector) Helmert datum shift; an all-zero
    // spec means "already WGS84" and stays unwrapped
    val shifted =
      kv.get("towgs84").map(_.split(",").map(_.trim.toDouble).padTo(7, 0.0)) match {
        case Some(p) if p.exists(_ != 0.0) =>
          DatumShifted(base, Helmert(p(0), p(1), p(2), p(3), p(4), p(5), p(6)))
        case _ => base
      }
    // +units / +to_meter re-express the OUTPUT grid coordinates in a
    // non-metre linear unit (PROJ semantics: +x_0/+y_0 stay metres, so
    // the metre-parameterized base above is already correct and only
    // the outer coordinate space scales). Silently ignoring the token
    // would hand back metre coordinates for a feet grid — wrong by 3x
    // with no error — so unknown units fail loudly instead.
    val unitFactor: Option[(Double, String)] =
      kv.get("to_meter").map(v => (v.toDouble, s"to_meter=$v"))
        .orElse(kv.get("units").map {
          case "m" | "meter" | "metre" => (1.0, "metre")
          case "us-ft" => (UsSurveyFoot, "US survey foot")
          case "ft" => (0.3048, "foot")
          case other => throw new IllegalArgumentException(
            s"unsupported +units=$other (supported: m, ft, us-ft, or an explicit " +
              s"+to_meter=<factor>): $s")
        })
    unitFactor match {
      case Some((f, uname)) if !shifted.isGeographic && f != 1.0 =>
        UnitScaled(shifted, f, uname, s.trim)
      case _ => shifted
    }
  }

  /** Pragmatic WKT1/WKT2 reader: extracts PROJECTION / PARAMETER /
    * SPHEROID (or ELLIPSOID) tokens rather than building a full WKT
    * grammar — enough to accept the CRS blobs CF metadata and common
    * tooling emit for the implemented families.
    */
  def fromWkt(wkt: String): Crs = {
    val upper = wkt.toUpperCase
    // outermost EPSG authority (WKT1 AUTHORITY / WKT2 ID) is listed
    // last; prefer the exact registry entry when we have one
    val authority = """(?:AUTHORITY|ID)\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]""".r
      .findAllMatchIn(wkt).toSeq.lastOption.map(_.group(1))
    authority.foreach { code =>
      try return fromString(s"EPSG:$code")
      catch { case _: IllegalArgumentException => () } // fall through to parameter parse
    }
    def params: Map[String, Double] =
      """PARAMETER\s*\[\s*"([^"]+)"\s*,\s*([-0-9.eE+]+)""".r
        .findAllMatchIn(wkt).map(m => m.group(1).toLowerCase.replace(' ', '_') -> m.group(2).toDouble)
        .toMap
    def p(names: Seq[String], dflt: Double): Double =
      names.flatMap(params.get).headOption.getOrElse(dflt)
    val ell = """(?:SPHEROID|ELLIPSOID)\s*\[\s*"[^"]*"\s*,\s*([-0-9.eE+]+)\s*,\s*([-0-9.eE+]+)""".r
      .findFirstMatchIn(wkt)
      .map(m => Ellipsoid(m.group(1).toDouble, m.group(2).toDouble))
      .getOrElse(WGS84)
    val projection = """(?:PROJECTION\s*\[\s*"([^"]+)"|METHOD\s*\[\s*"([^"]+)")""".r
      .findFirstMatchIn(wkt).map(m => Option(m.group(1)).getOrElse(m.group(2)))
    val lon0 = p(Seq("central_meridian", "longitude_of_origin", "longitude_of_natural_origin", "longitude_of_center"), 0)
    val lat0 = p(Seq("latitude_of_origin", "latitude_of_natural_origin", "latitude_of_center"), 0)
    // the projected CS's linear unit: the LAST UNIT/LENGTHUNIT token (a
    // PROJCS lists the geographic degree unit first, its own linear
    // unit last). WKT expresses false_easting/false_northing IN that
    // unit — unlike proj strings — so length parameters convert to
    // metres for the base projection and the grid wraps in UnitScaled.
    // A degree-factor match means a bare GEOGCS: no linear unit at all.
    val (unitF, unitName) =
      """(?:LENGTHUNIT|UNIT)\s*\[\s*"([^"]+)"\s*,\s*([-0-9.eE+]+)""".r
        .findAllMatchIn(wkt).toSeq.lastOption match {
        case Some(m) =>
          val f = m.group(2).toDouble
          if (math.abs(f - 1.0) < 1e-12 ||
              math.abs(f - 0.017453292519943295) < 1e-9) (1.0, "metre")
          else (f, m.group(1))
        case None => (1.0, "metre")
      }
    val fe = p(Seq("false_easting"), 0) * unitF
    val fn = p(Seq("false_northing"), 0) * unitF
    val base = projection.map(_.toLowerCase.replace(' ', '_')) match {
      case None if upper.contains("GEOGCS") || upper.contains("GEOGCRS") => Geographic
      case Some(proj) if proj.contains("transverse_mercator") =>
        TransverseMercator(lon0, lat0, p(Seq("scale_factor", "scale_factor_at_natural_origin"), 1.0),
          fe, fn, ell, "WKT")
      case Some(proj) if proj.contains("lambert_azimuthal") =>
        LambertAzimuthalEqualArea(lon0, lat0, fe, fn, ell, "WKT")
      case Some(proj) if proj.contains("lambert_conformal") =>
        LambertConformalConic(
          p(Seq("standard_parallel_1", "latitude_of_1st_standard_parallel"), lat0),
          p(Seq("standard_parallel_2", "latitude_of_2nd_standard_parallel"),
            p(Seq("standard_parallel_1", "latitude_of_1st_standard_parallel"), lat0)),
          lat0, lon0, fe, fn, ell, "WKT")
      case Some(proj) if proj.contains("albers") =>
        AlbersEqualAreaConic(
          p(Seq("standard_parallel_1", "latitude_of_1st_standard_parallel"), lat0),
          p(Seq("standard_parallel_2", "latitude_of_2nd_standard_parallel"),
            p(Seq("standard_parallel_1", "latitude_of_1st_standard_parallel"), lat0)),
          lat0, lon0, fe, fn, ell, "WKT")
      case Some(proj) if proj.contains("polar_stereographic") =>
        val ts = p(Seq("standard_parallel_1", "latitude_of_standard_parallel", "latitude_of_origin"), 90)
        PolarStereographic(ts, p(Seq("central_meridian", "longitude_of_origin", "straight_vertical_longitude_from_pole"), lon0),
          fe, fn, south = ts < 0, ell, "WKT")
      case Some(proj) if proj.contains("sinusoidal") =>
        // spherical only (MODIS: SPHEROID["Custom spheroid",6371007.181,0])
        val sphereR = """(?:SPHEROID|ELLIPSOID)\s*\[\s*"[^"]*"\s*,\s*([-0-9.eE+]+)\s*,\s*(0(?:\.0*)?)\s*[,\]]""".r
          .findFirstMatchIn(wkt).map(_.group(1).toDouble)
        sphereR match {
          case Some(r) => Sinusoidal(lon0, r, fe, fn, "WKT")
          case None => throw new IllegalArgumentException(
            "WKT Sinusoidal is implemented for the SPHERICAL form only (MODIS-style " +
              s"SPHEROID[...,R,0]); ellipsoidal sinusoidal is unsupported; $SupportedMsg")
        }
      case Some(proj) if proj.contains("equal_earth") =>
        EqualEarth(lon0, fe, fn, ell, "WKT")
      case Some(proj) if proj.contains("krovak") =>
        Krovak(
          p(Seq("longitude_of_center", "central_meridian"), 24.0 + 50.0 / 60),
          p(Seq("latitude_of_center", "latitude_of_origin"), 49.5),
          p(Seq("azimuth", "co_latitude_of_cone_axis"), 30.0 + 17.0 / 60 + 17.3031 / 3600),
          p(Seq("pseudo_standard_parallel_1", "latitude_of_pseudo_standard_parallel"), 78.5),
          p(Seq("scale_factor", "scale_factor_on_pseudo_standard_parallel"), 0.9999),
          fe, fn, ell, "WKT")
      // must precede the generic mercator case: "Hotine_Oblique_
      // Mercator_Azimuth_Center" contains "mercator"
      case Some(proj) if proj.contains("swiss_oblique") ||
          (proj.contains("oblique_mercator") && p(Seq("azimuth"), 90) == 90.0) =>
        SwissObliqueMercator(lon0, lat0,
          p(Seq("scale_factor", "scale_factor_at_projection_centre", "scale_factor_at_natural_origin"), 1.0),
          fe, fn, ell, "WKT")
      case Some(proj) if proj.contains("oblique_mercator") =>
        throw new IllegalArgumentException(
          "oblique mercator is implemented for azimuth = 90 (the Swiss " +
            s"somerc form) only; $SupportedMsg")
      case Some(proj) if proj.contains("mercator") && !proj.contains("transverse") =>
        WebMercator
      case other => throw new IllegalArgumentException(
        s"unsupported WKT (projection = ${other.getOrElse("none")}); $SupportedMsg")
    }
    // WKT1 TOWGS84[dx,dy,dz,rx,ry,rz,ds] carries the datum shift
    val shifted = """TOWGS84\s*\[([^\]]*)\]""".r.findFirstMatchIn(wkt)
      .map(_.group(1).split(",").flatMap(_.trim.toDoubleOption).padTo(7, 0.0)) match {
      case Some(p) if p.exists(_ != 0.0) =>
        DatumShifted(base, Helmert(p(0), p(1), p(2), p(3), p(4), p(5), p(6)))
      case _ => base
    }
    // non-metre linear unit: grid coordinates live in that unit
    if (unitF != 1.0 && !shifted.isGeographic)
      UnitScaled(shifted, unitF, unitName, "WKT")
    else shifted
  }
}

/** A reusable transformer between two CRSes (composes through lon/lat),
  * the analog of the reference's `pyproj.Transformer` usage
  * (reference: xcube_resampling/reproject.py:124-126).
  */
final case class CrsTransformer(src: Crs, dst: Crs) extends Serializable {
  val isIdentity: Boolean = src.equalsCrs(dst)

  def transformPoint(x: Double, y: Double): (Double, Double) =
    if (isIdentity) (x, y)
    else {
      val (lon, lat) = src.toLonLat(x, y)
      dst.fromLonLat(lon, lat)
    }

  /** Transform a bbox by densifying its edges (same idea as pyproj's
    * `transform_bounds`; reference uses it at
    * xcube_resampling/gridmapping/transform.py:100-106).
    */
  def transformBounds(
      xMin: Double, yMin: Double, xMax: Double, yMax: Double,
      densify: Int = 21): (Double, Double, Double, Double) = {
    if (isIdentity) return (xMin, yMin, xMax, yMax)
    var oxMin = Double.PositiveInfinity; var oyMin = Double.PositiveInfinity
    var oxMax = Double.NegativeInfinity; var oyMax = Double.NegativeInfinity
    val n = math.max(densify, 2)
    var i = 0
    while (i <= n) {
      val t = i.toDouble / n
      val xi = xMin + t * (xMax - xMin)
      val yi = yMin + t * (yMax - yMin)
      val pts = Array(
        transformPoint(xi, yMin), transformPoint(xi, yMax),
        transformPoint(xMin, yi), transformPoint(xMax, yi))
      pts.foreach { case (px, py) =>
        if (px < oxMin) oxMin = px; if (px > oxMax) oxMax = px
        if (py < oyMin) oyMin = py; if (py > oyMax) oyMax = py
      }
      i += 1
    }
    (oxMin, oyMin, oxMax, oyMax)
  }
}

/** The fractional source pixel indices of one target tile's pixel
  * centres, from a sparse lattice of exact transforms. The reference
  * transforms every target pixel centre
  * (xcube_resampling/reproject.py:472-496); this is a deviation from it
  * that moves no index by more than [[IndexLattice.Tol]].
  *
  * The exact inverse transform runs at every `step`-th pixel of each
  * axis, plus one ring of nodes outside the tile so that every pixel
  * has a full stencil: nodes at tile-local m·step for
  * m = −1 .. (n − 1)/step + 2. A pixel's (i, j) is the 4-point Lagrange
  * cubic through the nodes around it, first along x on every node row,
  * then along y. GDAL's approximate transformer also interpolates
  * between exact transforms and checks midpoints, linearly along each
  * row and at a default tolerance of 0.125 px.
  *
  * The guard runs the exact transform once more at the centre of every
  * lattice cell, clamped into the tile so that the partial cells at the
  * right and bottom edges are checked too. A cubic's error through
  * smooth data peaks at a cell's centre ((t+1)t(t−1)(t−2) is largest at
  * t = ½), and for a partial cell at the clamped point, its last pixel.
  * A step is accepted only if every node and check is finite and every
  * check lies within `Tol` of the interpolant in both i and j;
  * otherwise the next of [[IndexLattice.Steps]] is tried, and after the
  * last the tile takes the per-pixel exact loop. An identity
  * transformer and a tile with a side shorter than 2 steps also take
  * the per-pixel loop, so their indices are the exact ones, bit for
  * bit. The result depends on the target tile alone, never on the
  * source tiling or the plan.
  */
object IndexLattice {

  /** 1e-9 source px: 0.1 µm at 100 m pixels, 100× below the 1e-5 m to
    * which `TransformSpec` pins the exact transforms against pyproj.
    */
  final val Tol = 1e-9

  /** Lattice steps in px, tried in turn. 16 holds UTM 32N → EPSG:3035 at
    * 100 m to 6e-11 px, the exact path's own rounding; transforms that
    * bend faster need 8 (UTM 900 km off its central meridian at 1 km) or
    * 4 (EPSG:4326 at 0.01° → UTM). At 4 the nodes and checks already
    * cost 1/8 of the per-pixel transforms, so no finer step is tried.
    */
  final val Steps: Seq[Int] = Seq(16, 8, 4)

  /** A tile's source indices, row-major, and the step that made them
    * (0: every pixel transformed exactly).
    */
  final class Indices(val i: Array[Double], val j: Array[Double], val step: Int)

  /** The exact fractional source index (i, j) of tile-local pixel
    * (i, j), which may lie outside the tile.
    */
  trait Exact { def apply(i: Int, j: Int): (Double, Double) }

  /** Source indices of the pixel centres of target tile (dtj, dti) of
    * `dst` in `src` (whose j axis points down), through `inv`
    * (`dst.crs` → `src.crs`).
    */
  def ofTile(inv: CrsTransformer, src: GridMapping, dst: GridMapping, dtj: Int, dti: Int): Indices = {
    val gi0 = dti * dst.tileWidth; val gj0 = dtj * dst.tileHeight
    val dXMin = dst.xMin; val dYMin = dst.yMin; val dYMax = dst.yMax
    val dXRes = dst.xRes; val dYRes = dst.yRes; val jUp = dst.isJAxisUp
    val sXMin = src.xMin; val sYMax = src.yMax; val sXRes = src.xRes; val sYRes = src.yRes
    val exact: Exact = (i, j) => {
      val gi = gi0 + i; val gj = gj0 + j
      val dy = if (jUp) dYMin + (gj + 0.5) * dYRes else dYMax - (gj + 0.5) * dYRes
      val (sx, sy) = inv.transformPoint(dXMin + (gi + 0.5) * dXRes, dy)
      ((sx - sXMin) / sXRes - 0.5, (sYMax - sy) / sYRes - 0.5)
    }
    val w = dst.tileW(dti); val h = dst.tileH(dtj)
    if (inv.isIdentity) perPixel(w, h, exact) else interpolated(w, h, exact)
  }

  /** The first step of [[Steps]] whose lattice passes the guard, else
    * the per-pixel loop.
    */
  private[geom] def interpolated(w: Int, h: Int, exact: Exact): Indices =
    Steps.iterator.filter(s => w >= 2 * s && h >= 2 * s)
      .flatMap(s => atStep(w, h, s, exact)).nextOption()
      .getOrElse(perPixel(w, h, exact))

  private[geom] def perPixel(w: Int, h: Int, exact: Exact): Indices = {
    val si = new Array[Double](w * h); val sj = new Array[Double](w * h)
    var j = 0
    while (j < h) {
      var i = 0
      while (i < w) {
        val (a, b) = exact(i, j)
        si(j * w + i) = a; sj(j * w + i) = b
        i += 1
      }
      j += 1
    }
    new Indices(si, sj, 0)
  }

  /** Lagrange weights of the nodes at −1, 0, 1, 2 for t = r/s, four per
    * offset r in 0 until s; at r = 0 they are exactly (0, 1, 0, 0).
    */
  private def weights(s: Int): Array[Double] = {
    val wt = new Array[Double](4 * s)
    for (r <- 0 until s) {
      val t = r.toDouble / s
      wt(4 * r) = -t * (t - 1) * (t - 2) / 6
      wt(4 * r + 1) = (t + 1) * (t - 1) * (t - 2) / 2
      wt(4 * r + 2) = -(t + 1) * t * (t - 2) / 2
      wt(4 * r + 3) = (t + 1) * t * (t - 1) / 6
    }
    wt
  }

  private def finite(a: Double, b: Double): Boolean =
    java.lang.Double.isFinite(a) && java.lang.Double.isFinite(b)

  /** The tile's indices from the lattice of step `s`, or None where the
    * guard rejects it.
    */
  private def atStep(w: Int, h: Int, s: Int, exact: Exact): Option[Indices] = {
    val nx = (w - 1) / s + 4; val ny = (h - 1) / s + 4
    val ni = new Array[Double](nx * ny); val nj = new Array[Double](nx * ny)
    var b = 0
    while (b < ny) {
      var a = 0
      while (a < nx) {
        val (x, y) = exact((a - 1) * s, (b - 1) * s)
        if (!finite(x, y)) return None
        ni(b * nx + a) = x; nj(b * nx + a) = y
        a += 1
      }
      b += 1
    }
    val wt = weights(s)
    // along x on every node row: row b, pixel column i
    val ri = new Array[Double](ny * w); val rj = new Array[Double](ny * w)
    b = 0
    while (b < ny) {
      var i = 0
      while (i < w) {
        val c = i / s; val r = 4 * (i - c * s); val n = b * nx + c
        ri(b * w + i) = wt(r) * ni(n) + wt(r + 1) * ni(n + 1) + wt(r + 2) * ni(n + 2) + wt(r + 3) * ni(n + 3)
        rj(b * w + i) = wt(r) * nj(n) + wt(r + 1) * nj(n + 1) + wt(r + 2) * nj(n + 2) + wt(r + 3) * nj(n + 3)
        i += 1
      }
      b += 1
    }
    // then along y
    val si = new Array[Double](w * h); val sj = new Array[Double](w * h)
    var j = 0
    while (j < h) {
      val c = j / s; val r = 4 * (j - c * s)
      val w0 = wt(r); val w1 = wt(r + 1); val w2 = wt(r + 2); val w3 = wt(r + 3)
      val r0 = c * w; val r1 = r0 + w; val r2 = r1 + w; val r3 = r2 + w
      var i = 0
      while (i < w) {
        si(j * w + i) = w0 * ri(r0 + i) + w1 * ri(r1 + i) + w2 * ri(r2 + i) + w3 * ri(r3 + i)
        sj(j * w + i) = w0 * rj(r0 + i) + w1 * rj(r1 + i) + w2 * rj(r2 + i) + w3 * rj(r3 + i)
        i += 1
      }
      j += 1
    }
    // the guard: every cell's centre, clamped into the tile
    var cy = 0
    while (cy * s < h) {
      val jc = math.min(cy * s + s / 2, h - 1)
      var cx = 0
      while (cx * s < w) {
        val ic = math.min(cx * s + s / 2, w - 1)
        val (x, y) = exact(ic, jc)
        val k = jc * w + ic
        if (!finite(x, y) || !(math.abs(x - si(k)) <= Tol) || !(math.abs(y - sj(k)) <= Tol)) return None
        cx += 1
      }
      cy += 1
    }
    Some(new Indices(si, sj, s))
  }
}
