package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, Asin, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.perfbench.PlanBridge

import graft.ingest.OpenSkyParser
import graft.noise.Noise
import graft.sink.HeatmapHtml

/** Shared pieces of the two pipeline workloads. */
object Pipeline {
  def parse(ctx: Ctx, dir: Path): DataFrame =
    OpenSkyParser.parse(ctx.spark.read.textFile(dir.toString))

  private def isRange(e: Expression): Boolean = e.exists(_.isInstanceOf[Asin])

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Figures of a ground-noise query after it ran. Candidate pairs are the
    * pairs each haversine join or filter receives (its join counted without
    * the cutoff conjunct), pairs in range those it keeps; both are counted
    * from the optimized plan in extra jobs outside the layer spans.
    * Exchanges and broadcast nested-loop joins come from the executed plan.
    */
  def groundFigures(ctx: Ctx, ground: DataFrame): Unit = {
    val spark = ctx.spark
    val pairs = ground.queryExecution.optimizedPlan.collect {
      case j @ Join(_, _, _, Some(cond), _) if isRange(cond) =>
        val keep = conjuncts(cond).filterNot(isRange).reduceOption[Expression](And)
        (PlanBridge.count(spark, j.copy(condition = keep)), PlanBridge.count(spark, j))
      case f @ Filter(cond, j: Join) if isRange(cond) =>
        (PlanBridge.count(spark, j), PlanBridge.count(spark, f))
    }
    val nodes = Plans.nodes(ground.queryExecution.executedPlan)
    ctx.add("noise.ground.candidate_pairs", pairs.map(_._1).sum.toDouble)
    ctx.add("noise.ground.pairs_in_range", pairs.map(_._2).sum.toDouble)
    ctx.add("noise.ground.exchanges", nodes.count(Plans.isExchange).toDouble)
    ctx.add("noise.ground.bnlj_nodes", nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toDouble)
  }

  /** Optimizer figures of a planned query: optimization phase time and
    * effective rewrites by the range-join rule.
    */
  def planFigures(ctx: Ctx, df: DataFrame): Unit = {
    val t = df.queryExecution.tracker
    val opt = t.phases.get("optimization").map(p => (p.endTimeMs - p.startTimeMs) / 1000.0).getOrElse(0.0)
    val rewrites = t.rules.collect {
      case (rule, s) if rule.contains("BucketedRangeJoinRule") => s.numEffectiveInvocations
    }.sum
    ctx.add("plans.optimize_s", opt)
    ctx.add("plans.rule_rewrites", rewrites.toDouble)
  }

  def phaseFigures(ctx: Ctx, counts: Map[Double, Long]): Unit = {
    ctx.add("noise.classify.sources", counts.values.sum.toDouble)
    ctx.add("noise.classify.phase_ground", counts.getOrElse(80.0, 0L).toDouble)
    ctx.add("noise.classify.phase_climb", counts.getOrElse(130.0, 0L).toDouble)
    ctx.add("noise.classify.phase_descent", counts.getOrElse(110.0, 0L).toDouble)
    ctx.add("noise.classify.phase_cruise", counts.getOrElse(90.0, 0L).toDouble)
  }

  def ingestFigures(ctx: Ctx, states: DataFrame, truth: Truth): Unit = {
    ctx.add("ingest.parse.rows", states.count().toDouble)
    ctx.add("ingest.parse.bytes", truth.payloadBytes.toDouble)
    ctx.add("ingest.parse.malformed_rows", malformedCount(states).toDouble)
  }

  def phaseCounts(sources: DataFrame): Map[Double, Long] =
    sources.groupBy("s_db").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap

  def truthPhases(t: Truth): Map[Double, Long] =
    Map(80.0 -> t.ground, 130.0 -> t.climb, 110.0 -> t.descent, 90.0 -> t.cruise).filter(_._2 > 0)

  /** Null `velocity` or `true_track` marks a malformed slot: the generator
    * writes no genuine nulls there.
    */
  def malformedCount(states: DataFrame): Long =
    states.filter("velocity IS NULL OR true_track IS NULL").count()
}

/** `refscale_snapshot`: one seeded payload of aircraft over the reference
  * bbox (the 200 m, n = 500 grid's) → parse → classifySource →
  * grid(Nantes, 200 m, n) → groundNoise → heatmapRows → HeatmapHtml.write,
  * with the range-join rule installed. The grid is the centre window of the
  * reference grid, so every cell sees the reference's source density.
  */
final class Snapshot(aircraft: Int, n: Int) extends Workload {
  val name = "refscale_snapshot"
  private val StepM = 200.0
  private val lat0 = Noise.NantesLat
  private val lon0 = Noise.NantesLon
  private val RefN = 500
  private var lastBytes = 0L
  private var lastLit = 0

  def sizes: String = {
    val cells = (2L * n + 1) * (2L * n + 1)
    s"aircraft=$aircraft payload_bytes~$lastBytes grid_cells=$cells step_m=$StepM " +
      s"aircraft_bbox=reference(n=$RefN) lit_cells~$lastLit"
  }

  private def box(n: Int): Box =
    Box(lat0, lon0, Noise.latStepDeg(StepM) * n, Noise.lonStepDeg(StepM, lat0) * n)

  def setup(ctx: Ctx): Unit = {
    ctx.newSession(extensions = true)
    run(ctx, -1, 12, 10, 10, None, check = false)
  }

  def warmup(ctx: Ctx): Unit =
    Workload.warmOps(i => run(ctx, i, aircraft, RefN, n, None, check = false))

  def op(ctx: Ctx, i: Int, tracer: Option[Tracer]): OpResult =
    run(ctx, i, aircraft, RefN, n, tracer, check = true)

  private def run(ctx: Ctx, i: Int, nAircraft: Int, boxN: Int, gridN: Int, tracer: Option[Tracer],
      check: Boolean): OpResult = {
    val dir = ctx.workDir.resolve(s"snapshot_$i")
    val html = ctx.workDir.resolve(s"snapshot_$i.html")
    val truth = new Payloads(ctx.seed * 1000003L + i).write(dir.resolve("payload"), 1, nAircraft,
      box(boxN), 1.0, box(boxN), 0.0, 0, tiles = math.sqrt(nAircraft.toDouble).toInt)
    lastBytes = truth.payloadBytes
    try {
      val (_, secs) = tracer match {
        case None => Workload.timed {
          val sources = Noise.classifySource(Pipeline.parse(ctx, dir.resolve("payload")))
          val grid = Noise.grid(ctx.spark, lat0, lon0, StepM, gridN)
          HeatmapHtml.write(Noise.heatmapRows(Noise.groundNoise(grid, sources)), html.toString)
        }
        case Some(t) =>
          val (figures, secs) = Workload.timed(t.span("op", i, layer = false) {
            traced(ctx, t, i, dir, html, gridN, truth)
          })
          figures()
          ((), secs)
      }
      if (!check) OpResult(secs, correct = true)
      else {
        val bad = verify(html, truth, gridN, ctx.seed * 31L + i)
        OpResult(secs, bad.isEmpty, bad.getOrElse(""))
      }
    } finally {
      Workload.deleteTree(dir)
      Files.deleteIfExists(html)
    }
  }

  /** The same calls, each layer materialized at its boundary and timed.
    * Returns the layer figures to collect once the op span has ended.
    */
  private def traced(ctx: Ctx, t: Tracer, i: Int, dir: Path, html: Path, gridN: Int,
      truth: Truth): () => Unit = {
    val states = t.span("ingest.parse", i) {
      Workload.materialize(Pipeline.parse(ctx, dir.resolve("payload")))
    }
    val sources = t.span("noise.classify", i) {
      Workload.materialize(Noise.classifySource(states))
    }
    val grid = t.span("noise.grid", i) {
      Workload.materialize(Noise.grid(ctx.spark, lat0, lon0, StepM, gridN))
    }
    val ground = Noise.groundNoise(grid, sources)
    t.span("plans", i) { ground.queryExecution.executedPlan }
    val noise = t.span("noise.ground", i) { Workload.materialize(ground) }
    t.span("sink.html", i) {
      HeatmapHtml.write(Noise.heatmapRows(noise), html.toString)
    }
    () => {
      Pipeline.ingestFigures(ctx, states, truth)
      Pipeline.phaseFigures(ctx, Pipeline.phaseCounts(sources))
      ctx.add("noise.grid.cells", grid.count().toDouble)
      Pipeline.planFigures(ctx, ground)
      Pipeline.groundFigures(ctx, ground)
      val lit = noise.count()
      ctx.add("noise.ground.lit_cells", lit.toDouble)
      ctx.add("sink.html.collect_rows", lit.toDouble)
      ctx.add("sink.html.bytes", Files.size(html).toDouble)
      Workload.unpersistAll(ctx)
    }
  }

  private val Cell = """<div class=c style='left:([0-9.\-]+)px;top:([0-9.\-]+)px;[^']*' title='([0-9.\-]+) dB'>""".r

  /** Checks the written heatmap against the plain-Scala reference: the exact
    * lit-cell count and bbox, and the position and dB of seeded sample cells.
    */
  private def verify(html: Path, truth: Truth, gridN: Int, sampleSeed: Long): Option[String] = {
    val text = new String(Files.readAllBytes(html), StandardCharsets.UTF_8)
    val cells = new java.util.HashSet[String]()
    var count = 0
    Cell.findAllMatchIn(text).foreach { m =>
      count += 1
      cells.add(m.group(1) + "|" + m.group(2) + "|" + m.group(3))
    }
    val ref = new Reference(lat0, lon0, StepM, gridN, truth.sources)
    val lit = ref.lit
    lastLit = lit.cardinality()
    if (count != lit.cardinality()) return Some(s"lit cells ${count} != reference ${lit.cardinality()}")
    if (count == 0) return Some("empty heatmap")
    val side = ref.side
    var laMin, loMin = Double.MaxValue
    var laMax, loMax = -Double.MaxValue
    var k = lit.nextSetBit(0)
    while (k >= 0) {
      val la = ref.cellLat(k / side); val lo = ref.cellLon(k % side)
      laMin = math.min(laMin, la); laMax = math.max(laMax, la)
      loMin = math.min(loMin, lo); loMax = math.max(loMax, lo)
      k = lit.nextSetBit(k + 1)
    }
    val wantBox = s"bbox: [$laMin, $loMin] – [$laMax, $loMax]"
    if (!text.contains(wantBox)) return Some(s"heatmap bbox differs from reference $wantBox")
    val (w, h) = (900.0, 700.0)
    val rnd = new scala.util.Random(sampleSeed)
    var checked = 0
    var tries = 0
    while (checked < 200 && tries < 100000) {
      tries += 1
      val ci = rnd.nextInt(side); val cj = rnd.nextInt(side)
      if (lit.get(ci * side + cj)) {
        val la = ref.cellLat(ci); val lo = ref.cellLon(cj)
        val db = ref.db(ci, cj).get
        val x = (lo - loMin) / math.max(loMax - loMin, 1e-9) * (w - 10)
        val y = (1.0 - (la - laMin) / math.max(laMax - laMin, 1e-9)) * (h - 10)
        val key = f"$x%.1f|$y%.1f|$db%.2f"
        if (!cells.contains(key)) return Some(s"cell ($la, $lo): no heatmap cell $key")
        checked += 1
      }
    }
    None
  }
}
