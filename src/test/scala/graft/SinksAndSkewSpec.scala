package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin
import graft.sink.HeatmapHtml

/** File source/sink round trips (parquet, CSV, JSON — SURVEY.md §2.2 rows
  * "Scans/sources" and "Sinks"), the HTML heatmap sink, and the salted skew
  * join.
  */
class SinksAndSkewSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("parquet, csv, json, and orc sinks round-trip the same frame") {
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25), (3L, "c,quoted", 0.0))
      .toDF("id", "s", "v")
    val dir = tmp("sinks")
    df.write.mode("overwrite").parquet(s"$dir/p")
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    df.write.mode("overwrite").json(s"$dir/j")
    df.write.mode("overwrite").orc(s"$dir/o")
    val p = spark.read.parquet(s"$dir/p")
    val c = spark.read.option("header", "true").option("inferSchema", "true").csv(s"$dir/c")
    val j = spark.read.json(s"$dir/j")
    val o = spark.read.orc(s"$dir/o")
    val want = df.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    def got(x: org.apache.spark.sql.DataFrame) =
      x.select(col("id").cast("long"), col("s"), col("v").cast("double"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got(p) == want)
    assert(got(c) == want)
    assert(got(j) == want)
    assert(got(o) == want)
  }

  test("HTML heatmap sink renders cells and legend") {
    val g = noise.Noise.grid(spark, 47.1542, -1.6044, 2000.0, 3)
    val s = queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001")
    val heat = noise.Noise.heatmapRows(noise.Noise.groundNoise(g, s))
    val out = tmp("heat") + "/map.html"
    HeatmapHtml.write(heat, out)
    val html = Files.readString(java.nio.file.Paths.get(out))
    assert(html.contains("<div id=map>"))
    assert(html.contains("dB"))
    assert(html.split("class=c").length > 10) // cells rendered
  }

  /** The serial rendering `HeatmapHtml.write` used before its cell pass went
    * parallel, kept verbatim as the byte-level oracle.
    */
  private def serialHeatmap(rows: Array[org.apache.spark.sql.Row]): String = {
    val lats = rows.map(_.getDouble(0))
    val lons = rows.map(_.getDouble(1))
    val (laMin, laMax) = (lats.min, lats.max)
    val (loMin, loMax) = (lons.min, lons.max)
    val w = 900.0
    val h = 700.0
    def x(lon: Double) = (lon - loMin) / math.max(loMax - loMin, 1e-9) * (w - 10)
    def y(lat: Double) = (1.0 - (lat - laMin) / math.max(laMax - laMin, 1e-9)) * (h - 10)
    val cells = rows.map { r =>
      val inten = math.min(math.max(r.getDouble(3), 0.0), 1.0)
      val hue = (240 * (1 - inten)).toInt // blue → red
      f"<div class=c style='left:${x(r.getDouble(1))}%.1fpx;top:${y(r.getDouble(0))}%.1fpx;" +
        f"background:hsla($hue%d,90%%,50%%,0.55)' title='${r.getDouble(2)}%.2f dB'></div>"
    }.mkString("\n")
    s"""<!doctype html><html><head><meta charset="utf-8"><style>
       |#map{position:relative;width:${w.toInt}px;height:${h.toInt}px;background:#111;border:1px solid #888}
       |.c{position:absolute;width:8px;height:8px;border-radius:2px}
       |#legend{font:12px sans-serif;margin-top:8px}
       |.sw{display:inline-block;width:14px;height:14px;vertical-align:middle;margin:0 4px}
       |</style></head><body>
       |<div id=map>$cells</div>
       |<div id=legend>ground noise dB (intensity = dB/130):
       |<span class=sw style="background:hsl(240,90%,50%)"></span>low
       |<span class=sw style="background:hsl(120,90%,50%)"></span>mid
       |<span class=sw style="background:hsl(0,90%,50%)"></span>high
       |&nbsp; bbox: [$laMin, $loMin] – [$laMax, $loMax]</div>
       |</body></html>""".stripMargin
  }

  test("parallel HTML heatmap is byte-identical to the serial rendering (10,201 cells)") {
    // 101 x 101 cells in a scrambled row order, with intensities below 0
    // and above 1 (clamped) and db values that round at the 2nd decimal
    val heat = spark.range(0, 10201).select(
      (lit(47.0d) + (pmod((col("id") / 101).cast("long") * 37L, lit(101L)) - 50L) * 0.0018d)
        .as("g_lat"),
      (lit(-1.6d) + (pmod(col("id") * 53L, lit(101L)) - 50L) * 0.0026d).as("g_lon"),
      (lit(-5.0d) + pmod(col("id") * 7919L, lit(14000L)) * 0.01005d).as("db"))
      .withColumn("intensity", col("db") / 130.0d)
    val rows = heat.select("g_lat", "g_lon", "db", "intensity").collect()
    assert(rows.length == 10201)
    assert(rows.exists(_.getDouble(3) < 0.0) && rows.exists(_.getDouble(3) > 1.0))
    val out = tmp("heat") + "/map.html"
    HeatmapHtml.write(heat, out)
    val got = Files.readAllBytes(java.nio.file.Paths.get(out))
    val want = serialHeatmap(rows).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(java.util.Arrays.equals(got, want),
      s"parallel rendering diverged: ${got.length} vs ${want.length} bytes")
  }

  test("HTML heatmap of an empty frame writes the no-data page") {
    val out = tmp("heat") + "/empty.html"
    HeatmapHtml.write(spark.range(0).select(lit(0.0d).as("g_lat"), lit(0.0d).as("g_lon"),
      lit(0.0d).as("db"), lit(0.0d).as("intensity")), out)
    assert(Files.readString(java.nio.file.Paths.get(out)) == "<html><body>no data</body></html>")
  }

  test("salted join returns exactly the unsalted join's rows under skew") {
    val fact = (1L to 2000L).map(i => (i, if (i % 10 == 0) 42L else i % 7)).toDF("id", "k")
    val dim = Seq((42L, "hot"), (1L, "a"), (2L, "b"), (3L, "c")).toDF("dk", "name")
    val plain = fact.join(dim, col("k") === col("dk"))
      .select("id", "name").orderBy("id").collect().toSeq
    val salted = SkewJoin.saltedJoin(fact, dim, col("k"), col("dk"), col("id"), 8)
      .select("id", "name").orderBy("id").collect().toSeq
    assert(salted == plain)
    assert(salted.nonEmpty)
  }
}
