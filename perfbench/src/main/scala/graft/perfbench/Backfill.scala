package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, sum}

import graft.noise.Noise

/** `history_backfill`: a few minutes of world-wide polling → parse → typed state
  * vectors written as parquet → classifySource per-phase counts from the
  * read-back → bbox filter → groundNoise over the fixture grid
  * (Nantes, 500 m, n = 50), with the range-join rule installed.
  */
final class Backfill(polls: Int, aircraft: Int, hubShare: Double) extends Workload {
  val name = "history_backfill"
  private val StepM = 500.0
  private val N = 50
  private val lat0 = Noise.NantesLat
  private val lon0 = Noise.NantesLon
  private val bb = Noise.bbox(lat0, lon0, StepM, N)
  // hub traffic stays inside the grid's bbox; the rest spans the world
  private val hub = Box(lat0, lon0, (bb.laMax - bb.laMin) / 2 * 0.98, (bb.loMax - bb.loMin) / 2 * 0.98)
  private val world = Box(0.0, 0.0, 70.0, 179.0)
  private val MalformedShare = 0.005
  private val NullStatesEvery = 4
  private var last: Truth = _

  def sizes: String = {
    val t = Option(last)
    s"polls=$polls aircraft_per_poll=$aircraft payload_bytes~${t.map(_.payloadBytes).getOrElse(0L)} " +
      s"rows~${t.map(_.rows).getOrElse(0L)} malformed~${t.map(_.malformedRows).getOrElse(0L)} " +
      s"grid_cells=${(2 * N + 1) * (2 * N + 1)} sources_in_box~${t.map(_.sources.count(inBox)).getOrElse(0)} " +
      s"null_states_polls=${polls / NullStatesEvery}"
  }

  private def inBox(s: (Double, Double, Double)): Boolean =
    s._1 >= bb.laMin && s._1 <= bb.laMax && s._2 >= bb.loMin && s._2 <= bb.loMax

  def setup(ctx: Ctx): Unit = {
    ctx.newSession(extensions = true)
    run(ctx, -1, 2, 200, None, check = false)
  }

  def warmup(ctx: Ctx): Unit =
    Workload.warmOps(i => run(ctx, i, polls, aircraft, None, check = false))

  def op(ctx: Ctx, i: Int, tracer: Option[Tracer]): OpResult =
    run(ctx, i, polls, aircraft, tracer, check = true)

  private def inBoxSources(sources: DataFrame): DataFrame =
    sources.filter(col("s_lat").between(bb.laMin, bb.laMax) && col("s_lon").between(bb.loMin, bb.loMax))

  private def run(ctx: Ctx, i: Int, nPolls: Int, nAircraft: Int, tracer: Option[Tracer],
      check: Boolean): OpResult = {
    val dir = ctx.workDir.resolve(s"backfill_$i")
    val payload = dir.resolve("payload")
    val processed = dir.resolve("processed").toString
    val truth = new Payloads(ctx.seed * 1000003L + i).write(payload, nPolls, nAircraft, hub, hubShare,
      world, MalformedShare, NullStatesEvery)
    if (i >= 0) last = truth
    try {
      val ((phases, noise), secs) = tracer match {
        case None => Workload.timed {
          Pipeline.parse(ctx, payload).write.parquet(processed)
          val sources = Noise.classifySource(ctx.spark.read.parquet(processed))
          val phases = Pipeline.phaseCounts(sources)
          val grid = Noise.grid(ctx.spark, lat0, lon0, StepM, N)
          (phases, Noise.groundNoise(grid, inBoxSources(sources)).collect())
        }
        case Some(t) =>
          val ((phases, noise, figures), secs) = Workload.timed(t.span("op", i, layer = false) {
            traced(ctx, t, i, payload, processed, truth)
          })
          figures()
          ((phases, noise), secs)
      }
      if (!check) OpResult(secs, correct = true)
      else {
        val bad = verify(ctx, processed, truth, phases, noise, ctx.seed * 31L + i)
        OpResult(secs, bad.isEmpty, bad.getOrElse(""))
      }
    } finally Workload.deleteTree(dir)
  }

  private def traced(ctx: Ctx, t: Tracer, i: Int, payload: Path, processed: String, truth: Truth)
      : (Map[Double, Long], Array[org.apache.spark.sql.Row], () => Unit) = {
    val states = t.span("ingest.parse", i) {
      Workload.materialize(Pipeline.parse(ctx, payload))
    }
    t.span("sink.parquet", i) { states.write.parquet(processed) }
    val sources = t.span("noise.classify", i) {
      Workload.materialize(Noise.classifySource(ctx.spark.read.parquet(processed)))
    }
    val phases = t.span("noise.classify", i) { Pipeline.phaseCounts(sources) }
    val grid = t.span("noise.grid", i) {
      Workload.materialize(Noise.grid(ctx.spark, lat0, lon0, StepM, N))
    }
    val ground = Noise.groundNoise(grid, inBoxSources(sources))
    t.span("plans", i) { ground.queryExecution.executedPlan }
    val noise = t.span("noise.ground", i) { ground.collect() }
    (phases, noise, () => {
      Pipeline.ingestFigures(ctx, states, truth)
      Pipeline.phaseFigures(ctx, phases)
      ctx.add("noise.grid.cells", grid.count().toDouble)
      Pipeline.planFigures(ctx, ground)
      Pipeline.groundFigures(ctx, ground)
      ctx.add("noise.ground.lit_cells", noise.length.toDouble)
      val files = Files.list(java.nio.file.Paths.get(processed))
      try files.filter(_.getFileName.toString.endsWith(".parquet")).forEach { f =>
        ctx.add("sink.parquet.files", 1.0)
        ctx.add("sink.parquet.bytes", Files.size(f).toDouble)
      } finally files.close()
      Workload.unpersistAll(ctx)
    })
  }

  /** Per-phase counts, malformed rows and the parquet read-back against the
    * generator's truth; lit cells and sample-cell dB against the reference.
    */
  private def verify(ctx: Ctx, processed: String, truth: Truth, phases: Map[Double, Long],
      noise: Array[org.apache.spark.sql.Row], sampleSeed: Long): Option[String] = {
    val want = Pipeline.truthPhases(truth)
    if (phases != want) return Some(s"phase counts $phases != truth $want")
    val back = ctx.spark.read.parquet(processed)
    val r = back.agg(org.apache.spark.sql.functions.count("*"), sum(col("last_contact"))).head()
    if (r.getLong(0) != truth.rows || r.getLong(1) != truth.lastContactSum)
      return Some(s"read-back rows ${r.getLong(0)}, last_contact sum ${r.getLong(1)} != truth " +
        s"${truth.rows}, ${truth.lastContactSum}")
    val malformed = Pipeline.malformedCount(back)
    if (malformed != truth.malformedRows) return Some(s"malformed rows $malformed != truth ${truth.malformedRows}")
    val ref = new Reference(lat0, lon0, StepM, N, truth.sources.filter(inBox))
    if (noise.length != ref.lit.cardinality())
      return Some(s"lit cells ${noise.length} != reference ${ref.lit.cardinality()}")
    val byCell = noise.map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val rnd = new scala.util.Random(sampleSeed)
    (0 until 20).foreach { _ =>
      val ci = rnd.nextInt(ref.side); val cj = rnd.nextInt(ref.side)
      val got = byCell.get((ref.cellLat(ci), ref.cellLon(cj)))
      val exp = ref.db(ci, cj)
      if (got != exp) return Some(s"cell (${ref.cellLat(ci)}, ${ref.cellLon(cj)}): dB $got != reference $exp")
    }
    None
  }
}
