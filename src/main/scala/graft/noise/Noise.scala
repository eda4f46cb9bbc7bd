package graft.noise

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions._

/** The reference pipeline's analytics core, re-expressed as distributed Spark
  * operators (reference scripts/functions.py:134-276; SURVEY.md §3.3, §7.2).
  *
  * The reference generates the grid with driver-side NumPy `meshgrid`
  * (functions.py:165-185), then `collect()`s the aircraft and runs a dense
  * |grid|x|sources| haversine matrix on the driver (functions.py:239-276).
  * Here every stage is a Catalyst plan:
  *
  *   - grid        = spark.range cross-join spark.range + arithmetic columns
  *                   (never materialized on the driver; scales to any n);
  *   - sources     = a CASE WHEN classification (functions.py:213-227);
  *   - groundNoise = broadcast nested-loop join + haversine range filter +
  *                   partial/final hash aggregation of the power-domain sum.
  *
  * Scale posture (SURVEY.md §7.5): the source side is broadcast when small.
  * For source cardinality beyond broadcast range, [[groundNoiseBucketed]]
  * switches to a geo-cell equi-join: both sides get a coarse cell key of size
  * >= R_MAX, sources explode into their 3x3 neighbor cells, the join becomes
  * a shuffle hash/sort-merge equi-join on the cell key, and the exact
  * haversine predicate filters within the bucket. That plan survives 100 TB:
  * no cross join, no driver materialization, shuffle keyed by geo-cell.
  */
object Noise {

  /** Demo airport: Nantes Atlantique (reference functions.py:189-192). */
  val NantesLat = 47.1542
  val NantesLon = -1.6044

  /** Lat/lon step sizes in degrees for a ground grid of `stepM`-metre cells
    * around latitude `atLat` (reference functions.py:134-162: the longitude
    * step is scaled by cos(latitude of the airport), computed once).
    */
  def latStepDeg(stepM: Double): Double = stepM / EarthRadiusM * (180.0 / math.Pi)
  def lonStepDeg(stepM: Double, atLat: Double): Double =
    stepM / (EarthRadiusM * math.cos(atLat * math.Pi / 180.0)) * (180.0 / math.Pi)

  /** (2n+1)^2-cell ground grid centred on (lat0, lon0), built distributed from
    * two `spark.range`s (reference functions.py:165-185 builds the same grid
    * as a driver-side meshgrid). Coordinates are rounded to 6 decimals so
    * group-by keys are stable across engines (libm-free arithmetic, but the
    * rounding also keeps the downstream aggregation keys exact).
    *
    * Output: (g_lat: double, g_lon: double), sorted south→north / west→east by
    * construction semantics (ordering applied by callers that need it).
    */
  def grid(spark: SparkSession, lat0: Double, lon0: Double, stepM: Double, n: Int): DataFrame = {
    val dLat = latStepDeg(stepM)
    val dLon = lonStepDeg(stepM, lat0)
    val is = spark.range(-n.toLong, n + 1L).toDF("i")
    val js = spark.range(-n.toLong, n + 1L).toDF("j")
    is.crossJoin(js).select(
      graft.functions.Det.rdet(lit(lat0) + col("i") * dLat, 6).as("g_lat"),
      graft.functions.Det.rdet(lit(lon0) + col("j") * dLon, 6).as("g_lon"))
  }

  /** Bounding box of the grid (reference functions.py:179-184) — pushed into
    * sources as a filter, mirroring the reference's server-side bbox pushdown
    * (functions.py:42-50).
    */
  final case class BBox(laMin: Double, loMin: Double, laMax: Double, loMax: Double)

  def bbox(lat0: Double, lon0: Double, stepM: Double, n: Int): BBox = {
    val dLat = latStepDeg(stepM) * n
    val dLon = lonStepDeg(stepM, lat0) * n
    BBox(lat0 - dLat, lon0 - dLon, lat0 + dLat, lon0 + dLon)
  }

  /** Flight-phase → source noise classification (reference functions.py:213-227),
    * the canonical CASE WHEN. Input df needs columns
    * (latitude, longitude, on_ground, vertical_rate, geo_altitude).
    * On-ground → 80 dB at the 27 m reference altitude; climbing (>1.5 m/s) →
    * 130 dB; descending (<-1.5 m/s) → 110 dB; cruise → 90 dB. Null
    * vertical_rate is treated as cruise and null positions are dropped
    * (deviation Q5, SURVEY.md §7.4 — the reference crashes on them).
    */
  def classifySource(df: DataFrame): DataFrame = {
    val vr = col("vertical_rate")
    df.filter(col("latitude").isNotNull && col("longitude").isNotNull &&
        col("on_ground").isNotNull)
      .select(
        col("latitude").as("s_lat"),
        col("longitude").as("s_lon"),
        when(col("on_ground"), lit(80.0d))
          .when(vr < -1.5d, lit(110.0d))
          .when(vr > 1.5d, lit(130.0d))
          .otherwise(lit(90.0d)).as("s_db"),
        when(col("on_ground"), lit(RefAltM))
          .otherwise(coalesce(col("geo_altitude"), lit(RefAltM))).as("s_alt"))
  }

  /** Ground-level noise estimation (reference functions.py:239-276):
    * grid x sources broadcast join, 20 km haversine cutoff, inverse-square
    * attenuation, per-cell power-domain sum. Output (g_lat, g_lon, db).
    *
    * The source side is explicitly `broadcast(...)`: physical plan is a
    * BroadcastNestedLoopJoin with the range predicate evaluated map-side —
    * zero shuffle before the final hash aggregation on (g_lat, g_lon).
    * With `graft.plans.BucketedRangeJoinRule` installed the join becomes a
    * cell-bucketed equi-join; the rewrite keeps this hint, so the sources
    * stay the build side and the grid streams through its `Range` splits.
    */
  def groundNoise(gridDf: DataFrame, sources: DataFrame): DataFrame = {
    val dist = haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon"))
    gridDf.crossJoin(broadcast(sources))
      .withColumn("dist_m", dist)
      .filter(col("dist_m") <= RMaxM)
      .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
      .groupBy("g_lat", "g_lon")
      .agg(dbPowerSum(col("contrib")).as("db"))
  }

  /** Scale-path variant of [[groundNoise]] for source cardinalities beyond
    * broadcast range (SURVEY.md §7.5): geo-cell bucketing turns the cross
    * join into an equi-join, valid at EVERY latitude and across the
    * antimeridian (round 11; the earlier flat floor(lon/c) scheme enforced
    * |lat| <= 60 with a raise).
    *
    * Scheme: latitude BANDS of height cellDeg (>= the 20 km latitude
    * reach), and per band a longitude RING of `nLon(band)` equal cells
    * whose width is proven >= the longitude reach of any within-radius
    * pair touching the band:
    *
    *   haversine: sin²(d/2) >= cosφ₁·cosφ₂·sin²(Δλ/2), both |φ| <= φmax
    *   (the band's |lat| ceiling extended one band for cross-band pairs)
    *   => |Δλ| <= 2·asin(min(1, sin(r/2R)/cos(φmax))) = the band's reach;
    *   nLon = max(1, floor(2π / reach)) so each ring cell covers it.
    *
    * Ring indices wrap modulo nLon, so antimeridian pairs land in adjacent
    * cells by construction; near the poles cos(φmax) collapses and the
    * ring degenerates to ONE cell (the cap joins as a single bucket, which
    * is also the correct physics — everything there is within a few cells).
    * Sources explode into the 3 touching bands and, per band, their
    * `array_distinct` ring-neighbor cells (distinct, so a 1-cell ring
    * cannot duplicate pairs into the power sum). The join runs on
    * (band, ring cell) — shuffle hash join, partial aggregation map-side —
    * and the exact haversine predicate filters within buckets. Same
    * semantics as [[groundNoise]] on any input with valid coordinates
    * (|lat| <= 90, |lon| <= 180); no cross join, no raise.
    */
  def groundNoiseBucketed(gridDf: DataFrame, sources: DataFrame): DataFrame = {
    // band height in degrees, conservatively >= the latitude reach r/R
    val cellDeg = RMaxM / EarthRadiusM * (180.0 / math.Pi) * 2.0
    val sinHalf = math.sin(RMaxM / (2.0 * EarthRadiusM))
    def band(lat: Column): Column = floor(lat / cellDeg).cast("long")
    // ring resolution for a band: covers the longitude reach of any pair
    // whose partner sits in this band or a neighboring one
    def nLon(b: Column): Column = {
      val phiMax = least(lit(90.0d),
        greatest(abs(b * cellDeg), abs((b + lit(1L)) * cellDeg)) + cellDeg)
      val cosMin = cos(radians(phiMax))
      val reach = when(cosMin <= sinHalf, lit(2.0 * math.Pi))
        .otherwise(asin(lit(sinHalf) / cosMin) * 2.0d)
      greatest(lit(1L), floor(lit(2.0 * math.Pi) / reach).cast("long"))
    }
    // ring index of a longitude at resolution n (lon = 180 clamps into the
    // last cell; indices are 0..n-1 and wrap modulo n)
    def ringCell(lon: Column, n: Column): Column =
      least(n - 1L, floor((lon + 180.0d) / 360.0d * n).cast("long"))
    val g = gridDf
      .withColumn("cell_i", band(col("g_lat")))
      .withColumn("cell_j", ringCell(col("g_lon"), nLon(col("cell_i"))))
    val s = sources
      .withColumn("di", explode(sequence(lit(-1L), lit(1L))))
      .withColumn("cell_i", band(col("s_lat")) + col("di"))
      .withColumn("nl", nLon(col("cell_i")))
      .withColumn("cell_j", explode(array_distinct(
        transform(sequence(lit(-1L), lit(1L)),
          dj => pmod(ringCell(col("s_lon"), col("nl")) + dj, col("nl"))))))
      .drop("di", "nl")
    g.join(s, Seq("cell_i", "cell_j"))
      .withColumn("dist_m",
        haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")))
      .filter(col("dist_m") <= RMaxM)
      .withColumn("contrib", attenuatedDb(col("s_db"), col("dist_m")))
      .groupBy("g_lat", "g_lon")
      .agg(dbPowerSum(col("contrib")).as("db"))
  }

  /** Heatmap sink rows (reference functions.py:290-328): intensity = db/130
    * (functions.py:302). Replaces the folium HTML sink with a columnar frame
    * any `df.write.*` sink can persist.
    */
  def heatmapRows(noise: DataFrame): DataFrame =
    noise.select(col("g_lat"), col("g_lon"), col("db"),
      (col("db") / 130.0d).as("intensity"))
}
