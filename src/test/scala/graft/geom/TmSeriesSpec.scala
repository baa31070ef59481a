package graft.geom

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.Crs.{Ellipsoid, TransverseMercator}

/** `TransverseMercator` sums its Krueger series by the complex Clenshaw
  * recurrence. This spec keeps the direct term-by-term sum (sin, cos,
  * sinh and cosh of every multiple k·ξ', k·η') as the reference and
  * checks both directions agree over a UTM zone widened to ±6° and
  * latitudes -80..84.
  */
class TmSeriesSpec extends AnyFunSuite {

  /** The direct-sum Transverse Mercator the Clenshaw form replaced. */
  final class DirectSumTm(
      lon0Deg: Double, lat0Deg: Double, k0: Double,
      falseEasting: Double, falseNorthing: Double, ell: Ellipsoid) {
    private val n = ell.n
    private val n2 = n * n; private val n3 = n2 * n; private val n4 = n3 * n
    private val n5 = n4 * n; private val n6 = n5 * n
    private val bigA = ell.a / (1 + n) * (1 + n2 / 4 + n4 / 64 + n6 / 256)
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
    private val m0 = if (lat0Deg == 0.0) 0.0 else bigA * xiEta(math.toRadians(lat0Deg), 0.0)._1

    private def atanh(x: Double): Double = 0.5 * math.log((1 + x) / (1 - x))

    private def xiEta(phi: Double, dLon: Double): (Double, Double) = {
      val sinPhi = math.sin(phi)
      val t = math.sinh(atanh(sinPhi) - e * atanh(e * sinPhi))
      val xiP = math.atan2(t, math.cos(dLon))
      val etaP = atanh(math.sin(dLon) / math.sqrt(1 + t * t))
      var xi = xiP; var eta = etaP
      for (j <- 0 until 6) {
        val k = 2.0 * (j + 1)
        xi += alpha(j) * math.sin(k * xiP) * math.cosh(k * etaP)
        eta += alpha(j) * math.cos(k * xiP) * math.sinh(k * etaP)
      }
      (xi, eta)
    }

    def fromLonLat(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val (xi, eta) = xiEta(math.toRadians(latDeg), math.toRadians(lonDeg) - lon0)
      (falseEasting + k0 * bigA * eta, falseNorthing + k0 * (bigA * xi - m0))
    }

    def toLonLat(x: Double, y: Double): (Double, Double) = {
      val xi = (y - falseNorthing + k0 * m0) / (k0 * bigA)
      val eta = (x - falseEasting) / (k0 * bigA)
      var xiP = xi; var etaP = eta
      for (j <- 0 until 6) {
        val k = 2.0 * (j + 1)
        xiP -= beta(j) * math.sin(k * xi) * math.cosh(k * eta)
        etaP -= beta(j) * math.cos(k * xi) * math.sinh(k * eta)
      }
      val sinhEtaP = math.sinh(etaP)
      val cosXiP = math.cos(xiP)
      val tauP = math.sin(xiP) / math.sqrt(sinhEtaP * sinhEtaP + cosXiP * cosXiP)
      val lon = lon0 + math.atan2(sinhEtaP, cosXiP)
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

  /** Forward within 1e-9 m and inverse within 1e-12 deg. Northings are
    * k0·A·ξ plus constants, and above 4.2e6 m a double's spacing is
    * already 0.93e-9 m; the direct sum rounds ξ six times, so where
    * the northing or k0·A·ξ is that large the northing bound is 8 units
    * in the last place of the larger one (7.5e-9 m at most) instead.
    */
  private def check(tm: TransverseMercator): Unit = {
    val ref = new DirectSumTm(tm.lon0Deg, tm.lat0Deg, tm.k0, tm.falseEasting, tm.falseNorthing, tm.ell)
    // northing of the equator on the central meridian: y - yEq = k0·A·ξ
    val yEq = tm.fromLonLat(tm.lon0Deg, 0.0)._2
    var n = 0
    var dLon = -6.0
    while (dLon <= 6.0) {
      var lat = -80.0
      while (lat <= 84.0) {
        val lon = tm.lon0Deg + dLon
        val (x, y) = tm.fromLonLat(lon, lat)
        val (rx, ry) = ref.fromLonLat(lon, lat)
        assert(math.abs(x - rx) <= 1e-9, s"${tm.name} ($lon, $lat): easting $x vs $rx")
        val tolY = math.max(1e-9, 8 * math.ulp(math.max(math.abs(ry), math.abs(ry - yEq))))
        assert(math.abs(y - ry) <= tolY, s"${tm.name} ($lon, $lat): northing $y vs $ry")
        val (lo, la) = tm.toLonLat(rx, ry)
        val (rlo, rla) = ref.toLonLat(rx, ry)
        assert(math.abs(lo - rlo) <= 1e-12 && math.abs(la - rla) <= 1e-12,
          s"${tm.name} ($rx, $ry): inverse ($lo, $la) vs ($rlo, $rla)")
        n += 1
        lat += 0.37
      }
      dLon += 0.25
    }
    assert(n > 20000)
  }

  test("Clenshaw TM matches the direct series sum: UTM 32N") {
    check(Crs.utm(32, north = true).asInstanceOf[TransverseMercator])
  }

  test("Clenshaw TM matches the direct series sum with a non-zero origin latitude and false northing") {
    check(TransverseMercator(-2.0, 49.0, 0.9996012717, 400000.0, -100000.0, Crs.WGS84, "tm-49"))
  }
}
