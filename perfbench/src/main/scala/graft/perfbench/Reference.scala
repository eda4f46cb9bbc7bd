package graft.perfbench

import java.math.RoundingMode

import graft.functions.GeoFunctions.{EarthRadiusM, RMaxM}
import graft.noise.Noise

/** Plain-Scala re-evaluation of the reference noise formula
  * (scripts/functions.py:239-276): haversine distance, 20 km cutoff,
  * inverse-square attenuation, power-domain sum, 2-decimal dB. It follows
  * the engine's documented determinism rules (6-decimal grid coordinates,
  * exact decimal accumulation, floor-based half-up rounding), so its figures
  * are comparable digit for digit. POWER and LOG10 use StrictMath, as Spark's
  * expressions do.
  */
final class Reference(lat0: Double, lon0: Double, stepM: Double, n: Int,
    sources: Array[(Double, Double, Double)]) {
  private val dLat = Noise.latStepDeg(stepM)
  private val dLon = Noise.lonStepDeg(stepM, lat0)
  private def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
  val side: Int = 2 * n + 1
  def cellLat(i: Int): Double = r6(lat0 + (i - n).toLong.toDouble * dLat)
  def cellLon(j: Int): Double = r6(lon0 + (j - n).toLong.toDouble * dLon)

  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val a1 = math.toRadians(lat2 - lat1) / 2d
    val a2 = math.toRadians(lon2 - lon1) / 2d
    val a = StrictMath.pow(math.sin(a1), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * StrictMath.pow(math.sin(a2), 2)
    2d * EarthRadiusM * math.asin(math.sqrt(a))
  }

  /** Cells within the cutoff of at least one source, as a bit set over
    * i * side + j. Few sources each mark the cells of their own reach box;
    * many sources are searched per cell until one is in range.
    */
  lazy val lit: java.util.BitSet = {
    val bits = new java.util.BitSet(side * side)
    if (sources.length > 1000) {
      var i = 0
      while (i < side) {
        val gLat = cellLat(i)
        var j = 0
        while (j < side) {
          val gLon = cellLon(j)
          if (sources.exists(s => haversine(gLat, gLon, s._1, s._2) <= RMaxM)) bits.set(i * side + j)
          j += 1
        }
        i += 1
      }
    } else {
      val reachI = (RMaxM / EarthRadiusM * 180.0 / math.Pi / dLat).toInt + 2
      sources.foreach { case (sLat, sLon, _) =>
        val ci = math.round((sLat - lat0) / dLat).toInt + n
        val cj = math.round((sLon - lon0) / dLon).toInt + n
        val cosLat = math.max(math.cos(math.toRadians(math.abs(sLat) + 1.0)), 1e-3)
        val reachJ = (reachI / cosLat).toInt + 2
        var i = math.max(0, ci - reachI)
        while (i <= math.min(side - 1, ci + reachI)) {
          val gLat = cellLat(i)
          var j = math.max(0, cj - reachJ)
          while (j <= math.min(side - 1, cj + reachJ)) {
            if (!bits.get(i * side + j) && haversine(gLat, cellLon(j), sLat, sLon) <= RMaxM)
              bits.set(i * side + j)
            j += 1
          }
          i += 1
        }
      }
    }
    bits
  }

  /** dB at cell (i, j), or None when no source is within the cutoff. */
  def db(i: Int, j: Int): Option[Double] = {
    val gLat = cellLat(i)
    val gLon = cellLon(j)
    var sum = java.math.BigDecimal.ZERO
    var any = false
    sources.foreach { case (sLat, sLon, sDb) =>
      val d = haversine(gLat, gLon, sLat, sLon)
      if (d <= RMaxM) {
        any = true
        val contrib = sDb - 20d * StrictMath.log10(math.max(d, 1.0d))
        val term = StrictMath.pow(10d, contrib / 10d)
        sum = sum.add(new java.math.BigDecimal(java.lang.Double.toString(term))
          .setScale(8, RoundingMode.HALF_UP))
      }
    }
    if (!any) None
    else {
      val cents = sum.multiply(java.math.BigDecimal.valueOf(100))
        .setScale(0, RoundingMode.FLOOR).longValueExact()
      val power = cents / 100.0d
      Some(math.floor(10d * StrictMath.log10(power) * 100 + 0.5) / 100)
    }
  }
}
