package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Range => RangeNode}
import org.apache.spark.sql.execution.{RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin}

import graft.noise.Noise
import graft.plans.BucketedRangeJoinRule

/** The optimizer rule must turn the NAIVE cross-join noise query into a
  * bucketed equi-join — identical results, no quadratic join between grid
  * and sources.
  */
class BucketedRangeJoinRuleSpec extends SparkTestBase {

  private def naiveNoise() = Noise.groundNoise(
    Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10),
    queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001"))

  test("rewrites cross join + haversine cutoff into a cell equi-join, results unchanged") {
    val before = naiveNoise().orderBy("g_lat", "g_lon").collect()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = naiveNoise()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("__cell_i"), optimized)
      val after = df.orderBy("g_lat", "g_lon").collect()
      assert(after.sameElements(before))
      // the grid-sources pairing became an equi-join on the cell key
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("__cell_i"), phys)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("rewrites with the sides swapped (sources cross grid)") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    val grid = Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 1000.0, 10)
    val src = queries.NoiseQueries.sources(spark, "/root/testdata/sf0.001")
    def swapped() = src.crossJoin(grid)
      .filter(haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= RMaxM)
      .groupBy("g_lat", "g_lon").agg(count(lit(1)).as("n"))
    val before = swapped().orderBy("g_lat", "g_lon").collect()
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = swapped()
      assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(df.orderBy("g_lat", "g_lon").collect().sameElements(before))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("keeps full recall at high latitudes and across the antimeridian") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    import spark.implicits._
    // at lat 78°, 20 km of longitude spans ~0.86° — more than the doubled
    // 0.36° cell, so the pre-fix 3x3 neighborhood lost these pairs; the
    // seam pair wraps at ±180 where plain lon cells can never match
    val ptsA = Seq(
      (1L, 78.0, 16.00), (2L, 78.0, 100.0),       // polar probe
      (3L, 0.0, 179.95), (4L, 50.0, 10.0))        // seam probe + control
      .toDF("id_a", "g_lat", "g_lon")
    val ptsB = Seq(
      (11L, 78.01, 16.80),                        // 17 km from (1): |Δlon| = 0.8°
      (13L, 0.0, -179.95),                        // 11 km from (3), wrapped
      (14L, 50.001, 10.001))                      // 0.1 km from (4)
      .toDF("id_b", "s_lat", "s_lon")
    def pairs() = ptsA.crossJoin(ptsB)
      .filter(haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= RMaxM)
      .select("id_a", "id_b")
    val before = pairs().orderBy("id_a", "id_b").collect().toSeq
    assert(before.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 11L), (3L, 13L), (4L, 14L)), before)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = pairs()
      assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(df.orderBy("id_a", "id_b").collect().toSeq == before)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("keeps max-radius pairs hugging the lat-60 guard (spherical cell bound)") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    import spark.implicits._
    // Both points sit AT the |lat| <= 60 guard, 499.77 km apart — inside the
    // 500 km MaxRadiusM. Their Δlon = 8.996° exceeds the planar cell
    // 2·rDeg = 8.9932° but not the spherical bound 9.0002°, and lonA is
    // planted 0.001° below a planar cell boundary so the pair lands TWO
    // planar cells apart (floor(8.9922/8.9932)=0, floor(17.9882/8.9932)=2):
    // the pre-fix 3x3 neighborhood silently dropped it. The spherical cell
    // keeps them adjacent (cells 0 and 1).
    val ptsA = Seq((1L, 60.0, 8.9922)).toDF("id_a", "g_lat", "g_lon")
    val ptsB = Seq((11L, 60.0, 17.9882)).toDF("id_b", "s_lat", "s_lon")
    def pairs() = ptsA.crossJoin(ptsB)
      .filter(haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= 500000.0)
      .select("id_a", "id_b")
    assert(pairs().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val df = pairs()
      assert(df.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 11L)))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }

  test("groundNoiseBucketed matches groundNoise at the poles, across the " +
    "antimeridian, and at mid latitudes (per-band ring bucketing)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def check(grid: org.apache.spark.sql.DataFrame,
        src: org.apache.spark.sql.DataFrame): Unit = {
      val a = Noise.groundNoise(grid, src).orderBy("g_lat", "g_lon").collect()
      val b = Noise.groundNoiseBucketed(grid, src)
        .orderBy("g_lat", "g_lon").collect()
      assert(a.nonEmpty, "probe must produce within-radius pairs")
      assert(a.sameElements(b),
        s"bucketed diverged: exact=${a.toSeq} bucketed=${b.toSeq}")
    }
    // polar: at lat 78° the 20 km longitude reach (~0.86°) exceeds the flat
    // 0.36° cell that used to force the raise; the per-band ring covers it
    check(
      Seq((78.0, 16.0), (78.01, 16.8), (78.0, 100.0)).toDF("g_lat", "g_lon"),
      Seq((78.005, 16.4, 110.0, 300.0), (78.0, 99.9, 90.0, 300.0))
        .toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // pole cap: the ring degenerates to one cell; pairs must still match
    check(
      Seq((89.95, 0.0), (89.95, 179.0)).toDF("g_lat", "g_lon"),
      Seq((89.99, -90.0, 130.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // antimeridian: ring indices wrap, so the seam pair shares a bucket
    check(
      Seq((10.0, 179.95), (10.0, 179.0)).toDF("g_lat", "g_lon"),
      Seq((10.0, -179.95, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // mid-latitude control (the q19/q20 regime)
    check(
      Seq((59.0, 10.0), (59.01, 10.0)).toDF("g_lat", "g_lon"),
      Seq((59.0, 10.0, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
    // a 1-cell ring must not DUPLICATE pairs into the power sum: one
    // source near the pole contributes once (array_distinct neighbors) —
    // sameElements above already proves it, since duplication would
    // inflate db; probe the south cap too for the negative-band arithmetic
    check(
      Seq((-89.9, 10.0)).toDF("g_lat", "g_lon"),
      Seq((-89.95, -170.0, 110.0, 300.0)).toDF("s_lat", "s_lon", "s_db", "s_alt"))
  }

  // sources parsed from an in-memory payload, as the pipeline ingests them:
  // no exchange feeds the join, so AQE gets no runtime size for the sources
  // and, without the hint, broadcasts the grid
  private lazy val payloadSources = {
    import spark.implicits._
    val states = (0 until 100).map { i =>
      val lat = Noise.NantesLat + ((i * 37) % 100 - 50) * 0.004
      val lon = Noise.NantesLon + ((i * 61) % 100 - 50) * 0.006
      s"""["a$i", "C$i", "FR", 1, 1, $lon, $lat, 900.0, ${i % 7 == 0}, 80.0, 90.0,
         |${i % 5 - 2}.0, null, 950.0, "1000", false, 0]""".stripMargin
    }.mkString("[", ",", "]").replace("\n", " ")
    Noise.classifySource(
      ingest.OpenSkyParser.parse(Seq(s"""{"time": 1, "states": $states}""").toDS()))
  }

  private def payloadGrid() = Noise.grid(spark, Noise.NantesLat, Noise.NantesLon, 200.0, 20)

  private def rangeCount(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions._
    pairs.filter(haversineMeters(col("g_lat"), col("g_lon"), col("s_lat"), col("s_lon")) <= RMaxM)
      .groupBy("g_lat", "g_lon").agg(count(lit(1)).as("n"), sum("s_db").as("db"))
  }

  test("keeps the caller's broadcast hint: the sources build every rewritten join, " +
    "in either orientation, with no CartesianProduct and unchanged results") {
    import org.apache.spark.sql.functions.broadcast
    import BucketedRangeJoinRuleSpec._
    val gridFirst = () => Noise.groundNoise(payloadGrid(), payloadSources)
    val sourcesFirst = () => rangeCount(broadcast(payloadSources).crossJoin(payloadGrid()))
    for ((label, query) <- Seq("grid x broadcast(sources)" -> gridFirst,
        "broadcast(sources) x grid" -> sourcesFirst)) {
      val before = query().orderBy("g_lat", "g_lon").collect()
      val hint = gridSourceHints(query().queryExecution.optimizedPlan)
      assert(hint.size == 1 && hint.head != JoinHint.NONE, s"$label: $hint")
      withRule(spark) {
        val df = query()
        val optimized = df.queryExecution.optimizedPlan
        assert(optimized.toString.contains("__cell_i"), s"$label: $optimized")
        // bucketed join and both exact branches carry the original hint
        assert(gridSourceHints(optimized) == Seq.fill(3)(hint.head), s"$label: $optimized")
        assert(cartesianProducts(df.queryExecution.sparkPlan) == 0,
          s"$label: ${df.queryExecution.sparkPlan}")
        assert(df.orderBy("g_lat", "g_lon").collect().sameElements(before), label)
        val fin = finalPlan(df)
        assert(cartesianProducts(fin) == 0, s"$label: $fin")
        assert(gridSourceJoins(fin).nonEmpty, s"$label: $fin")
        assert(gridBuilt(fin).isEmpty, s"$label: the grid builds ${gridBuilt(fin)} in $fin")
      }
    }
  }

  test("a join without a hint gets no hint from the rewrite") {
    import BucketedRangeJoinRuleSpec._
    def plain() = rangeCount(payloadGrid().crossJoin(payloadSources))
    val before = plain().orderBy("g_lat", "g_lon").collect()
    assert(gridSourceHints(plain().queryExecution.optimizedPlan) == Seq(JoinHint.NONE))
    withRule(spark) {
      val df = plain()
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.toString.contains("__cell_i"), optimized)
      assert(gridSourceHints(optimized) == Seq.fill(3)(JoinHint.NONE), optimized)
      assert(df.orderBy("g_lat", "g_lon").collect().sameElements(before))
    }
  }

  test("does not fire on joins without a haversine range predicate") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try {
      val d = queries.Registry.all.find(_.name == "q03_segment_revenue").get
        .run(spark, "/root/testdata/sf0.001")
      assert(!d.queryExecution.optimizedPlan.toString.contains("__cell_i"))
      assert(d.count() > 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
    }
  }
}

/** Plan probes shared with [[PlanSpec]]: where the grid (the side holding a
  * `Range`) meets the sources, and which side each such join builds.
  */
object BucketedRangeJoinRuleSpec {
  private object Aqe extends AdaptiveSparkPlanHelper

  /** Runs `body` with the range-join rule installed on `spark`. */
  def withRule[T](spark: SparkSession)(body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BucketedRangeJoinRule
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == BucketedRangeJoinRule)
  }

  /** Hints of the logical joins that pair the grid with the sources. */
  def gridSourceHints(plan: LogicalPlan): Seq[JoinHint] = {
    def hasRange(p: LogicalPlan) = p.exists(_.isInstanceOf[RangeNode])
    plan.collect { case j: Join if hasRange(j.left) != hasRange(j.right) => j.hint }
  }

  /** The adaptive plan as it ran (executes `df` first). */
  def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def hasRange(p: SparkPlan): Boolean = Aqe.find(p) {
    case _: RangeExec => true
    case r: ReusedExchangeExec => hasRange(r.child)
    case _ => false
  }.isDefined

  /** Physical joins that pair the grid with the sources. */
  def gridSourceJoins(plan: SparkPlan): Seq[BaseJoinExec] =
    Aqe.collect(plan) { case j: BaseJoinExec if hasRange(j.left) != hasRange(j.right) => j }

  /** Grid-sources joins that build on the grid side or have no build side. */
  def gridBuilt(plan: SparkPlan): Seq[String] = gridSourceJoins(plan).flatMap { j =>
    val build = j match {
      case h: HashJoin => Some(h.buildSide)
      case n: BroadcastNestedLoopJoinExec => Some(n.buildSide)
      case _ => None
    }
    build.map(b => if (b == BuildLeft) j.left else j.right) match {
      case Some(side) if !hasRange(side) => None
      case _ => Some(s"${j.nodeName} ${build.getOrElse("")}")
    }
  }

  def cartesianProducts(plan: SparkPlan): Int =
    Aqe.collect(plan) { case c: CartesianProductExec => c }.size
}
