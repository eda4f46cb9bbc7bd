package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** What the generator knows about the payloads it wrote: the benchmark's
  * ground truth for ingest and classification.
  */
final case class Truth(
    payloadBytes: Long,
    rows: Long,
    malformedRows: Long,
    lastContactSum: Long,
    ground: Long,
    climb: Long,
    descent: Long,
    cruise: Long,
    /** (lat, lon, dB) of every row the noise pipeline keeps, as Spark parses them. */
    sources: Array[(Double, Double, Double)])

/** Box aircraft are placed in: centre and half-extents in degrees. */
final case class Box(lat0: Double, lon0: Double, halfLat: Double, halfLon: Double)

/** Seeded OpenSky `/api/states/all` bodies. Every aircraft is one positional
  * 17-slot state array. The mix covers the four flight phases, null
  * vertical rates (cruise), vertical rates at and around the ±1.5 m/s phase
  * thresholds, null positions (dropped by the noise pipeline),
  * malformed numeric slots (typed to null by the parser) and, optionally,
  * `"states": null` bodies. Numbers are written as text and the truth is
  * taken from that same text, so it matches what Spark parses bit for bit.
  */
final class Payloads(seed: Long) {
  private val rnd = new scala.util.Random(seed)

  private def fmt(x: Double, digits: Int): String =
    java.math.BigDecimal.valueOf(x).setScale(digits, java.math.RoundingMode.HALF_UP).toPlainString

  /** Writes `polls` payload files of `aircraft` states each into `dir`.
    * A share `hubShare` of the aircraft fly inside `hub`, the rest anywhere
    * in `world`. `malformedShare` of the rows carry one unparseable numeric
    * slot; `nullStatesEvery` > 0 makes every such poll a `"states": null`
    * body. With `tiles` > 0 the hub is cut into tiles × tiles equal tiles
    * and aircraft a flies at a random point of tile a: traffic spread
    * evenly, so the work near any window of the hub barely depends on the
    * seed.
    */
  def write(dir: Path, polls: Int, aircraft: Int, hub: Box, hubShare: Double,
      world: Box, malformedShare: Double, nullStatesEvery: Int, tiles: Int = 0): Truth = {
    Files.createDirectories(dir)
    var bytes = 0L
    var rows, malformed, lcSum, ground, climb, descent, cruise = 0L
    val sources = mutable.ArrayBuilder.make[(Double, Double, Double)]
    val icaos = Array.tabulate(aircraft)(i => f"${(seed * 7919L + i * 104729L) & 0xffffffL}%06x")
    var p = 0
    while (p < polls) {
      val t = 1700000000L + seed % 1000 * 3600 + p * 60L
      val sb = new java.lang.StringBuilder(aircraft * 190)
      sb.append("{\"time\":").append(t).append(",\"states\":")
      if (nullStatesEvery > 0 && p % nullStatesEvery == nullStatesEvery - 1) sb.append("null")
      else {
        sb.append('[')
        var a = 0
        while (a < aircraft) {
          if (a > 0) sb.append(',')
          val inHub = rnd.nextDouble() < hubShare
          val box = if (inHub) hub else world
          val nullPos = rnd.nextDouble() < 0.02
          val (u, v) =
            if (tiles > 0 && inHub) {
              val t = a % (tiles * tiles)
              ((t / tiles + rnd.nextDouble()) / tiles * 2 - 1, (t % tiles + rnd.nextDouble()) / tiles * 2 - 1)
            } else (rnd.nextDouble() * 2 - 1, rnd.nextDouble() * 2 - 1)
          val latS = fmt(box.lat0 + u * box.halfLat, 5)
          val lonS = fmt(box.lon0 + v * box.halfLon, 5)
          val phase = rnd.nextDouble()
          val onGround = phase < 0.15
          val vrS: String =
            if (onGround) "0"
            else if (phase < 0.40) fmt(2.0 + rnd.nextDouble() * 13.0, 2)
            else if (phase < 0.65) fmt(-2.0 - rnd.nextDouble() * 13.0, 2)
            else if (phase < 0.80) {
              // more than half of them exactly on a threshold
              val k = if (rnd.nextBoolean()) rnd.nextInt(2) else rnd.nextInt(Payloads.NearThreshold.length)
              Payloads.NearThreshold(k)
            }
            else if (rnd.nextDouble() < 0.15) null
            else fmt((rnd.nextDouble() * 2 - 1) * 1.4, 2)
          val bad = rnd.nextDouble() < malformedShare
          val badSlot = rnd.nextInt(2)
          val lastContact = t - rnd.nextInt(10)
          val alt = if (onGround) 0.0 else 300.0 + rnd.nextDouble() * 11000.0
          sb.append("[\"").append(icaos(a)).append("\",\"")
            .append(f"AF${(a + p) % 9000 + 1000}%-6d").append("\",\"France\",")
            .append(if (nullPos) "null" else lastContact.toString).append(',')
            .append(lastContact).append(',')
            .append(if (nullPos) "null" else lonS).append(',')
            .append(if (nullPos) "null" else latS).append(',')
            .append(if (onGround) "null" else fmt(alt, 2)).append(',')
            .append(onGround).append(',')
            .append(if (bad && badSlot == 0) "\"n/a\"" else fmt(60.0 + rnd.nextDouble() * 200.0, 2)).append(',')
            .append(if (bad && badSlot == 1) "\"north\"" else fmt(rnd.nextDouble() * 360.0, 2)).append(',')
            .append(if (vrS == null) "null" else vrS).append(',')
            .append(if (a % 7 == 0) "[12,34]" else "null").append(',')
            .append(if (onGround) "null" else fmt(alt + 50.0, 2)).append(',')
            .append(if (a % 5 == 0) "null" else "\"" + (1000 + a % 6777) + "\"").append(',')
            .append("false,0]")
          rows += 1
          lcSum += lastContact
          if (bad) malformed += 1
          if (!nullPos) {
            val db =
              if (onGround) { ground += 1; 80.0 }
              else if (vrS != null && vrS.toDouble < -1.5) { descent += 1; 110.0 }
              else if (vrS != null && vrS.toDouble > 1.5) { climb += 1; 130.0 }
              else { cruise += 1; 90.0 }
            sources += ((latS.toDouble, lonS.toDouble, db))
          }
          a += 1
        }
        sb.append(']')
      }
      sb.append('}')
      val body = sb.toString.getBytes(StandardCharsets.UTF_8)
      Files.write(dir.resolve(f"poll_$p%03d.json"), body)
      bytes += body.length
      p += 1
    }
    Truth(bytes, rows, malformed, lcSum, ground, climb, descent, cruise, sources.result())
  }
}

object Payloads {
  /** Vertical rates (m/s) at and around classifySource's strict ±1.5
    * thresholds, so a moved threshold or `<=` for `<` changes the phases.
    */
  val NearThreshold: Array[String] =
    Array("1.50", "-1.50", "1.49", "-1.49", "1.51", "-1.51", "1.99", "-1.99")
}
