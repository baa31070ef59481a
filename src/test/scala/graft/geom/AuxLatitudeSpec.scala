package graft.geom

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Crs._

/** `Crs.AuxLatitude` inverts the authalic q(φ) and the conformal t(φ)
  * by Karney's order-6 series. This spec keeps the iterations the series
  * replaced (Snyder 3-16 on q, the fixed point on t) as references and
  * bounds the series against them and against the forward functions,
  * then checks each projection that calls the series against a copy of
  * its old inverse.
  */
class AuxLatitudeSpec extends AnyFunSuite {

  private val ellipsoids = Seq(
    "GRS80" -> GRS80, "WGS84" -> WGS84,
    "International 1924" -> Ellipsoid(6378388.0, 297.0),
    "Clarke 1866" -> Ellipsoid(6378206.4, 294.9786982),
    "sphere" -> Ellipsoid(6371228.0, Double.PositiveInfinity))

  /** The Snyder 3-16 Newton iteration on q, seeded with asin(q/2). */
  private def snyderPhi(ell: Ellipsoid, qv: Double, maxIter: Int = 12): Double = {
    val e = ell.e; val e2 = ell.e2
    var phi = math.asin(math.min(1.0, math.max(-1.0, qv / 2)))
    var i = 0
    while (i < maxIter && e >= 1e-12) {
      val s = math.sin(phi)
      val oneMinus = 1 - e2 * s * s
      val corr = (oneMinus * oneMinus) / (2 * math.cos(phi)) *
        (qv / (1 - e2) - s / oneMinus + (1 / (2 * e)) * math.log((1 - e * s) / (1 + e * s)))
      phi += corr
      if (math.abs(corr) < 1e-13) i = maxIter else i += 1
    }
    phi
  }

  /** The fixed-point iteration on t (Snyder 7-9). */
  private def fixedPointPhi(ell: Ellipsoid, tP: Double): Double = {
    val e = ell.e
    var phi = math.Pi / 2 - 2 * math.atan(tP)
    var i = 0
    while (i < 12) {
      val s = math.sin(phi)
      val next = math.Pi / 2 - 2 * math.atan(tP * math.pow((1 - e * s) / (1 + e * s), e / 2))
      if (math.abs(next - phi) < 1e-13) { phi = next; i = 12 } else { phi = next; i += 1 }
    }
    phi
  }

  /** The bound against the old iterations: 1e-11° up to |φ| = 89°,
    * 1e-10° up to 89.9°. Beyond that the iterations themselves drift.
    */
  private def oldTol(latDeg: Double): Double = if (math.abs(latDeg) <= 89.0) 1e-11 else 1e-10

  private def steps(from: Double, to: Double, step: Double): Seq[Double] =
    Iterator.iterate(from)(_ + step).takeWhile(_ <= to + 1e-9).map(math.min(_, to)).toSeq

  test("the authalic series inverts q(φ) over -90..90, poles included") {
    for ((name, ell) <- ellipsoids) {
      val aux = ell.aux
      for (lat <- steps(-90.0, 90.0, 0.01)) {
        val phi = math.toRadians(lat)
        val q = aux.q(phi)
        val back = aux.phiOfAuthalic(q / aux.qp)
        // q is solved to within the rounding of evaluating q (its log
        // term scales the rounding of its argument by 1/(2e) ≈ 6) ...
        assert(math.abs(aux.q(back) - q) <= 16 * math.ulp(aux.qp),
          s"$name $lat: q residual ${(aux.q(back) - q) / math.ulp(aux.qp)} ulp")
        // ... which fixes φ to 1e-11° where q moves with φ. Near a pole
        // 1 - sin ξ shrinks like cos² φ, so an error δ in sin ξ moves φ
        // by δ/cos φ; at the poles sin ξ = ±1 and φ is exact
        val tol = 1e-11 + math.toDegrees(8 * math.ulp(1.0) / math.abs(math.cos(phi)))
        val got = math.toDegrees(back)
        if (math.abs(lat) == 90.0) assert(got == lat, s"$name pole $lat -> $got")
        else assert(math.abs(got - lat) <= tol, s"$name $lat -> $got")
      }
      assert(aux.phiOfAuthalic(1.0) == math.Pi / 2 && aux.phiOfAuthalic(-1.0) == -math.Pi / 2)
    }
  }

  test("the conformal series inverts t(φ) within 1e-11° over -90..90, poles included") {
    for ((name, ell) <- ellipsoids) {
      val aux = ell.aux
      for (lat <- steps(-90.0, 90.0, 0.01)) {
        val got = math.toDegrees(aux.phiOfT(aux.t(math.toRadians(lat))))
        assert(math.abs(got - lat) <= 1e-11, s"$name $lat -> $got")
      }
      assert(aux.phiOfT(0.0) == math.Pi / 2)
      assert(aux.phiOfT(Double.PositiveInfinity) == -math.Pi / 2)
    }
  }

  test("the series match the old iterations: 1e-11° to 89°, 1e-10° to 89.9°") {
    for ((name, ell) <- ellipsoids) {
      val aux = ell.aux
      for (lat <- steps(-89.9, 89.9, 0.007)) {
        val phi = math.toRadians(lat)
        val q = aux.q(phi)
        val a = math.toDegrees(aux.phiOfAuthalic(q / aux.qp))
        val aOld = math.toDegrees(snyderPhi(ell, q))
        assert(math.abs(a - aOld) <= oldTol(lat), s"$name authalic $lat: $a vs $aOld")
        val t = aux.t(phi)
        val c = math.toDegrees(aux.phiOfT(t))
        val cOld = math.toDegrees(fixedPointPhi(ell, t))
        assert(math.abs(c - cOld) <= oldTol(lat), s"$name conformal $lat: $c vs $cOld")
      }
    }
  }

  test("on the sphere the series is the identity: φ = ξ and φ = χ") {
    val aux = Ellipsoid(6371228.0, Double.PositiveInfinity).aux
    for (lat <- steps(-90.0, 90.0, 0.25)) {
      val phi = math.toRadians(lat)
      assert(aux.phiOfAuthalic(math.sin(phi), math.cos(phi)) == math.atan2(math.sin(phi), math.cos(phi)))
      val t = aux.t(phi)
      assert(math.abs(aux.phiOfT(t) - (math.Pi / 2 - 2 * math.atan(t))) <= 4 * math.ulp(1.0))
    }
  }

  // ---- the six inverses as they were, over each projection's constants

  private trait Inverse { def toLonLat(x: Double, y: Double): (Double, Double) }

  private def oldLaea(c: LambertAzimuthalEqualArea): Inverse = new Inverse {
    private val ell = c.ell; private val aux = ell.aux
    private val lon0 = math.toRadians(c.lon0Deg)
    private val phi1 = math.toRadians(c.lat0Deg)
    private val qp = aux.qp
    private val rq = ell.a * math.sqrt(qp / 2)
    // the polar constants as LambertAzimuthalEqualArea now sets them
    private val polar = math.abs(c.lat0Deg) == 90.0
    private val beta1 = math.asin(aux.q(phi1) / qp)
    private val sinB1 = if (polar) math.signum(c.lat0Deg) else math.sin(beta1)
    private val cosB1 = if (polar) 0.0 else math.cos(beta1)
    private val dd = if (polar) 1.0 else ell.a * aux.m(phi1) / (rq * cosB1)
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xr = x - c.falseEasting; val yr = y - c.falseNorthing
      val rho = math.sqrt((xr / dd) * (xr / dd) + (dd * yr) * (dd * yr))
      if (rho < 1e-12) return (c.lon0Deg, c.lat0Deg)
      val ce = 2 * math.asin(math.min(1.0, rho / (2 * rq)))
      val sinCe = math.sin(ce); val cosCe = math.cos(ce)
      val qv = qp * (cosCe * sinB1 + (dd * yr * sinCe * cosB1) / rho)
      val lon = lon0 + math.atan2(xr * sinCe, dd * rho * cosB1 * cosCe - dd * dd * yr * sinB1 * sinCe)
      (math.toDegrees(lon), math.toDegrees(snyderPhi(ell, qv, 10)))
    }
  }

  private def oldCea(c: CylindricalEqualArea): Inverse = new Inverse {
    private val ell = c.ell
    private val phiS = math.toRadians(c.latTsDeg)
    private val k0 = math.cos(phiS) / math.sqrt(1 - ell.e2 * math.sin(phiS) * math.sin(phiS))
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val lon = math.toRadians(c.lon0Deg) + (x - c.falseEasting) / (ell.a * k0)
      val qv = 2 * (y - c.falseNorthing) * k0 / ell.a
      (math.toDegrees(lon), math.toDegrees(snyderPhi(ell, qv, 10)))
    }
  }

  private def oldAlbers(c: AlbersEqualAreaConic): Inverse = new Inverse {
    private val ell = c.ell; private val aux = ell.aux
    private val phi1 = math.toRadians(c.lat1Deg); private val phi2 = math.toRadians(c.lat2Deg)
    private val m1 = aux.m(phi1); private val m2 = aux.m(phi2)
    private val q1 = aux.q(phi1); private val q2 = aux.q(phi2)
    private val nCone =
      if (c.lat1Deg == c.lat2Deg) math.sin(phi1) else (m1 * m1 - m2 * m2) / (q2 - q1)
    private val bigC = m1 * m1 + nCone * q1
    private val rho0 =
      ell.a * math.sqrt(math.max(0.0, bigC - nCone * aux.q(math.toRadians(c.lat0Deg)))) / nCone
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xr = x - c.falseEasting
      val yr = rho0 - (y - c.falseNorthing)
      val sign = if (nCone < 0) -1.0 else 1.0
      val rho = sign * math.sqrt(xr * xr + yr * yr)
      val theta = math.atan2(sign * xr, sign * yr)
      val qv = (bigC - (rho * rho * nCone * nCone) / (ell.a * ell.a)) / nCone
      (math.toDegrees(theta / nCone + math.toRadians(c.lon0Deg)), math.toDegrees(snyderPhi(ell, qv)))
    }
  }

  private def oldEqualEarth(c: EqualEarth): Inverse = new Inverse {
    private val ell = c.ell; private val qp = ell.aux.qp
    private val rq = ell.a * math.sqrt(qp / 2.0)
    private val (a1, a2, a3, a4) = (1.340264, -0.081106, 0.000893, 0.003796)
    private val bigM = math.sqrt(3.0) / 2.0
    private def yPoly(t: Double): Double = {
      val t2 = t * t; val t6 = t2 * t2 * t2
      t * (a1 + a2 * t2 + t6 * (a3 + a4 * t2))
    }
    private def dyPoly(t: Double): Double = {
      val t2 = t * t; val t6 = t2 * t2 * t2
      a1 + 3 * a2 * t2 + t6 * (7 * a3 + 9 * a4 * t2)
    }
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val yr = (y - c.falseNorthing) / rq
      var theta = yr
      var i = 0
      while (i < 20) {
        val corr = (yPoly(theta) - yr) / dyPoly(theta)
        theta -= corr
        if (math.abs(corr) < 1e-14) i = 20 else i += 1
      }
      val qv = math.min(1.0, math.max(-1.0, math.sin(theta) / bigM)) * qp
      val phi =
        if (math.abs(qv) >= qp * (1 - 1e-12)) math.copySign(math.Pi / 2, qv)
        else snyderPhi(ell, qv)
      val dLon = (x - c.falseEasting) * bigM * dyPoly(theta) / (rq * math.cos(theta))
      val lonDeg = math.toDegrees(math.toRadians(c.lon0Deg) + dLon)
      (if (lonDeg > 180) lonDeg - 360 else if (lonDeg < -180) lonDeg + 360 else lonDeg,
        math.toDegrees(phi))
    }
  }

  private def oldLcc(c: LambertConformalConic): Inverse = new Inverse {
    private val ell = c.ell; private val aux = ell.aux
    private val phi1 = math.toRadians(c.lat1Deg); private val phi2 = math.toRadians(c.lat2Deg)
    private val m1 = aux.m(phi1); private val m2 = aux.m(phi2)
    private val t1 = aux.t(phi1); private val t2 = aux.t(phi2)
    private val nCone =
      if (c.lat1Deg == c.lat2Deg) math.sin(phi1)
      else (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    private val bigF = m1 / (nCone * math.pow(t1, nCone))
    private val rho0 = ell.a * bigF * math.pow(aux.t(math.toRadians(c.lat0Deg)), nCone)
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xr = x - c.falseEasting
      val yr = rho0 - (y - c.falseNorthing)
      val sign = if (nCone < 0) -1.0 else 1.0
      val rho = sign * math.sqrt(xr * xr + yr * yr)
      val theta = math.atan2(sign * xr, sign * yr)
      val tP = math.pow(rho / (ell.a * bigF), 1.0 / nCone)
      (math.toDegrees(theta / nCone + math.toRadians(c.lon0Deg)), math.toDegrees(fixedPointPhi(ell, tP)))
    }
  }

  private def oldPolar(c: PolarStereographic): Inverse = new Inverse {
    private val ell = c.ell; private val aux = ell.aux
    private val phiTs = math.toRadians(math.abs(c.latTsDeg))
    private val mc = aux.m(phiTs); private val tc = aux.t(phiTs)
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      var xP = x - c.falseEasting; var yP = y - c.falseNorthing
      if (c.south) { xP = -xP; yP = -yP }
      val rho = math.sqrt(xP * xP + yP * yP)
      val phi = fixedPointPhi(ell, rho * tc / (ell.a * mc))
      val dLon = if (rho < 1e-12) 0.0 else math.atan2(xP, -yP)
      val lon = math.toDegrees(math.toRadians(c.lon0Deg) + (if (c.south) -dLon else dLon))
      (if (lon > 180) lon - 360 else if (lon < -180) lon + 360 else lon,
        math.toDegrees(if (c.south) -phi else phi))
    }
  }

  /** The TM inverse with its old Newton loop on τ (Karney 2011 eq.
    * 19-21) after the Krueger series, summed term by term.
    */
  private def oldTm(c: TransverseMercator): Inverse = new Inverse {
    private val ell = c.ell; private val e = ell.e
    private val n = ell.n
    private val n2 = n * n; private val n3 = n2 * n; private val n4 = n3 * n
    private val n5 = n4 * n; private val n6 = n5 * n
    private val bigA = ell.a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
    private val beta = Array(
      n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512 + 96199 * n6 / 604800,
      n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105 - 1118711 * n6 / 3870720,
      17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
      4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
      4583 * n5 / 161280 - 108847 * n6 / 3991680,
      20648693 * n6 / 638668800)
    // meridian arc to lat0: the northing of (lon0, lat0) with lat0 = 0
    private val m0 = TransverseMercator(c.lon0Deg, 0.0, 1.0, 0.0, 0.0, ell, "tm-0")
      .fromLonLat(c.lon0Deg, c.lat0Deg)._2
    private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xi = (y - c.falseNorthing + c.k0 * m0) / (c.k0 * bigA)
      val eta = (x - c.falseEasting) / (c.k0 * bigA)
      var xiP = xi; var etaP = eta
      for (j <- 0 until 6) {
        val k = 2.0 * (j + 1)
        xiP -= beta(j) * math.sin(k * xi) * math.cosh(k * eta)
        etaP -= beta(j) * math.cos(k * xi) * math.sinh(k * eta)
      }
      val sinhEtaP = math.sinh(etaP)
      val cosXiP = math.cos(xiP)
      val tauP = math.sin(xiP) / math.sqrt(sinhEtaP * sinhEtaP + cosXiP * cosXiP)
      val lon = math.toRadians(c.lon0Deg) + math.atan2(sinhEtaP, cosXiP)
      var tau = tauP
      var i = 0
      var delta = 1.0
      while (i < 8 && math.abs(delta) > 1e-14 * (1 + math.abs(tauP))) {
        val sigma = math.sinh(e * atanh(e * tau / math.sqrt(1 + tau * tau)))
        val tauPi = tau * math.sqrt(1 + sigma * sigma) - sigma * math.sqrt(1 + tau * tau)
        val dTau = (tauP - tauPi) * (1 + (1 - ell.e2) * tau * tau) /
          ((1 - ell.e2) * math.sqrt((1 + tauPi * tauPi) * (1 + tau * tau)))
        tau += dTau
        delta = dTau
        i += 1
      }
      (math.toDegrees(lon), math.toDegrees(math.atan(tau)))
    }
  }

  /** The Swiss oblique Mercator inverse with its old 30-round fixed
    * point on the isometric latitude.
    */
  private def oldSwiss(c: SwissObliqueMercator): Inverse = new Inverse {
    private val e = c.ell.e; private val e2 = c.ell.e2
    private val phi0 = math.toRadians(c.lat0Deg)
    private val lam0 = math.toRadians(c.lon0Deg)
    private val sinPhi0 = math.sin(phi0)
    private val alpha = { val k = math.cos(phi0); math.sqrt(1 + e2 / (1 - e2) * k * k * k * k) }
    private val bigR = c.k0 * c.ell.a * math.sqrt(1 - e2) / (1 - e2 * sinPhi0 * sinPhi0)
    private val b0 = math.asin(sinPhi0 / alpha)
    private val q0 = math.log(math.tan(math.Pi / 4 + phi0 / 2)) -
      (e / 2) * math.log((1 + e * sinPhi0) / (1 - e * sinPhi0))
    private val bigK = math.log(math.tan(math.Pi / 4 + b0 / 2)) - alpha * q0
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val lBar = (x - c.falseEasting) / bigR
      val bBar = 2 * math.atan(math.exp((y - c.falseNorthing) / bigR)) - math.Pi / 2
      val b = math.asin(math.cos(b0) * math.sin(bBar) +
        math.sin(b0) * math.cos(bBar) * math.cos(lBar))
      val l = math.atan2(math.sin(lBar),
        math.cos(b0) * math.cos(lBar) - math.sin(b0) * math.tan(bBar))
      val lamDeg = math.toDegrees(lam0 + l / alpha)
      val qT = (math.log(math.tan(math.Pi / 4 + b / 2)) - bigK) / alpha
      var phi = b
      var i = 0
      while (i < 30) {
        val s = math.sin(phi)
        val next = 2 * math.atan(math.exp(
          qT + (e / 2) * math.log((1 + e * s) / (1 - e * s)))) - math.Pi / 2
        if (math.abs(next - phi) < 1e-14) { phi = next; i = 30 }
        else { phi = next; i += 1 }
      }
      (if (lamDeg > 180) lamDeg - 360 else if (lamDeg < -180) lamDeg + 360 else lamDeg,
        math.toDegrees(phi))
    }
  }

  /** The Krovak inverse with its old 30-round fixed point. */
  private def oldKrovak(c: Krovak): Inverse = new Inverse {
    private val e = c.ell.e; private val e2 = c.ell.e2
    private val phiC = math.toRadians(c.latCDeg)
    private val lam0 = math.toRadians(c.lonCDeg)
    private val alphaC = math.toRadians(c.azimuthDeg)
    private val phiP = math.toRadians(c.latPseudoDeg)
    private val bigA = c.ell.a * math.sqrt(1 - e2) / (1 - e2 * math.sin(phiC) * math.sin(phiC))
    private val bigB = { val k = math.cos(phiC); math.sqrt(1 + e2 * k * k * k * k / (1 - e2)) }
    private val gamma0 = math.asin(math.sin(phiC) / bigB)
    private val t0 = math.tan(math.Pi / 4 + gamma0 / 2) *
      math.pow((1 + e * math.sin(phiC)) / (1 - e * math.sin(phiC)), e * bigB / 2) /
      math.pow(math.tan(math.Pi / 4 + phiC / 2), bigB)
    private val n = math.sin(phiP)
    private val r0 = c.kP * bigA / math.tan(phiP)
    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val westing = c.falseEasting - x
      val southing = c.falseNorthing - y
      val r = math.hypot(southing, westing)
      val d = math.atan2(westing, southing) / n
      val t = 2 * (math.atan(
        math.pow(r0 / r, 1.0 / n) * math.tan(phiP / 2 + math.Pi / 4)) - math.Pi / 4)
      val u = math.asin(math.cos(alphaC) * math.sin(t) -
        math.sin(alphaC) * math.cos(t) * math.cos(d))
      val v = math.asin(math.cos(t) * math.sin(d) / math.cos(u))
      val lam = lam0 - v / bigB
      var phi = u
      var i = 0
      while (i < 30) {
        val s = math.sin(phi)
        val next = 2 * (math.atan(
          math.pow(1.0 / t0, 1.0 / bigB) *
            math.pow(math.tan(u / 2 + math.Pi / 4), 1.0 / bigB) *
            math.pow((1 + e * s) / (1 - e * s), e / 2)) - math.Pi / 4)
        if (math.abs(next - phi) < 1e-14) { phi = next; i = 30 }
        else { phi = next; i += 1 }
      }
      (math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  private def lonDiff(a: Double, b: Double): Double = {
    val d = math.abs(a - b) % 360.0
    math.min(d, 360.0 - d)
  }

  /** Forward every (lon, lat) of the grid, then invert with the new and
    * the old code; both must agree within [[oldTol]] of the latitude.
    */
  private def matchesOld(crs: Crs, old: Inverse, lats: Seq[Double], lons: Seq[Double]): Unit = {
    var n = 0
    for (lat <- lats; lon <- lons) {
      val (x, y) = crs.fromLonLat(lon, lat)
      val (lo, la) = crs.toLonLat(x, y)
      val (rlo, rla) = old.toLonLat(x, y)
      val tol = oldTol(lat)
      assert(math.abs(la - rla) <= tol && lonDiff(lo, rlo) <= tol,
        s"${crs.name} ($lon, $lat) -> ($x, $y): ($lo, $la) vs old ($rlo, $rla)")
      n += 1
    }
    assert(n > 1000)
  }

  private val allLons = steps(-179.5, 179.5, 2.3)

  test("LAEA toLonLat equals its old loop: EPSG:3035, 6931, 6932, a sphere") {
    val e3035 = fromString("EPSG:3035").asInstanceOf[LambertAzimuthalEqualArea]
    matchesOld(e3035, oldLaea(e3035), steps(-20.0, 89.9, 0.9), steps(-110.0, 130.0, 1.7))
    val north = fromString("EPSG:6931").asInstanceOf[LambertAzimuthalEqualArea]
    matchesOld(north, oldLaea(north), steps(-30.0, 89.9, 0.7), allLons)
    val south = fromString("EPSG:6932").asInstanceOf[LambertAzimuthalEqualArea]
    matchesOld(south, oldLaea(south), steps(-89.9, 30.0, 0.7), allLons)
    val sphere = LambertAzimuthalEqualArea(-20.0, 35.0, 0.0, 0.0,
      Ellipsoid(6371228.0, Double.PositiveInfinity), "laea-sphere")
    matchesOld(sphere, oldLaea(sphere), steps(-40.0, 89.9, 0.9), steps(-140.0, 100.0, 1.7))
  }

  test("CylindricalEqualArea toLonLat equals its old loop: EPSG:6933 and the 3410 sphere") {
    for (code <- Seq("EPSG:6933", "EPSG:3410")) {
      val c = fromString(code).asInstanceOf[CylindricalEqualArea]
      matchesOld(c, oldCea(c), steps(-89.9, 89.9, 0.6), allLons)
    }
  }

  test("AlbersEqualAreaConic toLonLat equals its old loop: EPSG:5070, 3338") {
    for (code <- Seq("EPSG:5070", "EPSG:3338")) {
      val c = fromString(code).asInstanceOf[AlbersEqualAreaConic]
      matchesOld(c, oldAlbers(c), steps(-60.0, 89.9, 0.6), steps(-179.0, 179.0, 3.1))
    }
  }

  test("EqualEarth toLonLat equals its old loop: EPSG:8857, 8859") {
    for (code <- Seq("EPSG:8857", "EPSG:8859")) {
      val c = fromString(code).asInstanceOf[EqualEarth]
      matchesOld(c, oldEqualEarth(c), steps(-89.9, 89.9, 0.6), allLons)
    }
  }

  test("LambertConformalConic toLonLat equals its old loop: EPSG:2154, 3034, 31287 (Bessel)") {
    val austria = fromString("EPSG:31287").asInstanceOf[DatumShifted].base
    for (crs <- Seq(fromString("EPSG:2154"), fromString("EPSG:3034"), austria)) {
      val c = crs.asInstanceOf[LambertConformalConic]
      matchesOld(c, oldLcc(c), steps(-60.0, 89.9, 0.6), steps(-170.0, 170.0, 3.1))
    }
  }

  test("PolarStereographic toLonLat equals its old loop: EPSG:3413, 3031, 3411 (Hughes)") {
    for (code <- Seq("EPSG:3413", "EPSG:3031", "EPSG:3411")) {
      val c = fromString(code).asInstanceOf[PolarStereographic]
      val lats = if (c.south) steps(-89.9, 30.0, 0.6) else steps(-30.0, 89.9, 0.6)
      matchesOld(c, oldPolar(c), lats, allLons)
    }
  }

  test("TransverseMercator toLonLat equals its old Newton loop: UTM 32N, 33S, tm-49, 27700 (Airy)") {
    val tms = Seq(Crs.utm(32, north = true), Crs.utm(33, north = false),
      TransverseMercator(-2.0, 49.0, 0.9996012717, 400000.0, -100000.0, WGS84, "tm-49"),
      fromString("EPSG:27700").asInstanceOf[DatumShifted].base)
    for (crs <- tms) {
      val c = crs.asInstanceOf[TransverseMercator]
      val old = oldTm(c)
      var n = 0
      for (lat <- steps(-80.0, 84.0, 0.37); dLon <- steps(-6.0, 6.0, 0.25)) {
        val (x, y) = c.fromLonLat(c.lon0Deg + dLon, lat)
        val (lo, la) = c.toLonLat(x, y)
        val (rlo, rla) = old.toLonLat(x, y)
        assert(math.abs(la - rla) <= 1e-11 && lonDiff(lo, rlo) <= 1e-11,
          s"${c.name} (${c.lon0Deg + dLon}, $lat): ($lo, $la) vs old ($rlo, $rla)")
        n += 1
      }
      assert(n > 20000)
    }
  }

  test("SwissObliqueMercator toLonLat equals its old loop: EPSG:21781, 2056") {
    for (code <- Seq("EPSG:21781", "EPSG:2056")) {
      val c = fromString(code).asInstanceOf[DatumShifted].base.asInstanceOf[SwissObliqueMercator]
      matchesOld(c, oldSwiss(c), steps(20.0, 75.0, 0.5), steps(-20.0, 35.0, 1.1))
    }
  }

  test("Krovak toLonLat equals its old loop: EPSG:5514") {
    val c = fromString("EPSG:5514").asInstanceOf[DatumShifted].base.asInstanceOf[Krovak]
    matchesOld(c, oldKrovak(c), steps(30.0, 70.0, 0.4), steps(-5.0, 45.0, 1.1))
  }

  // ---- near the poles

  /** How far (m, in projected coordinates) re-projecting the round trip
    * of (lon, lat) moves its point: zero for an inverse that is exact
    * to the forward, whatever the forward's own rounding.
    */
  private def moved(crs: Crs, inverse: (Double, Double) => (Double, Double),
      lon: Double, lat: Double): Double = {
    val (x, y) = crs.fromLonLat(lon, lat)
    val (lo, la) = inverse(x, y)
    val (x2, y2) = crs.fromLonLat(lo, la)
    math.hypot(x2 - x, y2 - y)
  }

  /** 89.99°, 89.999°, 89.9999° and the pole. Closer in, the LAEA
    * forward's cos β = √(1 - (q/q_p)²) carries the rounding of q (1.6 cm
    * at 1e-5°), whatever the inverse.
    */
  private val nearPole = Seq(1e-2, 1e-3, 1e-4, 0.0)

  test("round trips up to 1e-4° from either pole move a point at most 1 cm") {
    // a polar LAEA's far pole is its antipode, where it is singular
    val cases = Seq("EPSG:6931" -> Seq(90.0), "EPSG:6932" -> Seq(-90.0),
      "EPSG:6933" -> Seq(90.0, -90.0), "EPSG:5070" -> Seq(90.0, -90.0),
      "EPSG:3338" -> Seq(90.0, -90.0))
    for ((code, poles) <- cases; crs = fromString(code); pole <- poles;
         off <- nearPole; lon <- Seq(-170.0, -30.0, 0.0, 30.0, 135.0)) {
      val lat = pole - math.signum(pole) * off
      val d = moved(crs, crs.toLonLat, lon, lat)
      assert(d <= 0.01, s"$code ($lon, $lat) moved $d m")
    }
  }

  test("polar LAEA is Snyder's polar aspect: ρ = a√(q_p ∓ q), isotropic") {
    for ((code, sign) <- Seq("EPSG:6931" -> 1.0, "EPSG:6932" -> -1.0, "EPSG:3575" -> 1.0)) {
      val c = fromString(code).asInstanceOf[LambertAzimuthalEqualArea]
      val aux = c.ell.aux
      for (lat <- Seq(0.0, 30.0, 60.0, 89.0); lon <- Seq(-120.0, 0.0, 45.0, 170.0)) {
        val (x, y) = c.fromLonLat(lon, sign * lat)
        val rho = c.ell.a * math.sqrt(aux.qp - sign * aux.q(math.toRadians(sign * lat)))
        val dLon = math.toRadians(lon - c.lon0Deg)
        assert(math.abs(x - rho * math.sin(dLon)) <= 1e-6 &&
          math.abs(y + sign * rho * math.cos(dLon)) <= 1e-6, s"$code ($lon, ${sign * lat}): ($x, $y)")
      }
    }
  }

  test("the old authalic loop was not a reference past 89.9°: it missed EPSG:6931 by metres") {
    val north = fromString("EPSG:6931").asInstanceOf[LambertAzimuthalEqualArea]
    assert(moved(north, oldLaea(north).toLonLat, 30.0, 89.999) > 100.0)
    assert(moved(north, north.toLonLat, 30.0, 89.999) <= 0.01)
  }
}
