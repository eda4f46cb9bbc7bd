package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.ingest.OpenSkyParser
import graft.noise.Noise
import graft.plans.BucketedRangeJoinRule

/** Maintenance mode: times `Noise.groundNoise` with the broadcast
  * nested-loop plan (no rule) and with the plan `BucketedRangeJoinRule`
  * rewrites it to, on each workload's grid and source placement, over a
  * range of source counts. Prints one TSV line per (grid, sources):
  * grid, cells, sources, lit cells, broadcast and bucketed medians (s).
  *
  *   Main --crossover <comma-separated source counts> --work <dir>
  */
object Crossover {
  private final case class Grid(name: String, stepM: Double, n: Int, box: Box, tiled: Boolean)

  def run(counts: Seq[Int], ctx: Ctx, reps: Int = 3): Unit = {
    val (lat0, lon0) = (Noise.NantesLat, Noise.NantesLon)
    def refBox(stepM: Double, n: Int) =
      Box(lat0, lon0, Noise.latStepDeg(stepM) * n, Noise.lonStepDeg(stepM, lat0) * n)
    val bb = Noise.bbox(lat0, lon0, 500.0, 50)
    val grids = Seq(
      // refscale_snapshot: sources tiled over the reference bbox
      Grid("refscale_snapshot", 200.0, 150, refBox(200.0, 500), tiled = true),
      // history_backfill: in-box hub traffic
      Grid("history_backfill", 500.0, 50,
        Box(lat0, lon0, (bb.laMax - bb.laMin) / 2 * 0.98, (bb.loMax - bb.loMin) / 2 * 0.98), tiled = false))
    val plain = ctx.newSession(extensions = false)
    val ruled = plain.newSession()
    ruled.experimental.extraOptimizations = Seq(BucketedRangeJoinRule)
    println("grid\tcells\tsources\tlit_cells\tbroadcast_s\tbucketed_s")
    for (g <- grids; k <- counts) {
      val dir = ctx.workDir.resolve(s"crossover_${g.name}_$k")
      new Payloads(k.toLong).write(dir, 1, k, g.box, 1.0, g.box, 0.0, 0,
        tiles = if (g.tiled) math.sqrt(k.toDouble).toInt else 0)
      def time(s: SparkSession): (Long, Double) = {
        val src = Noise.classifySource(OpenSkyParser.parse(s.read.textFile(dir.toString)))
          .localCheckpoint(eager = true)
        val grid = Noise.grid(s, lat0, lon0, g.stepM, g.n)
        val t0 = System.nanoTime()
        val lit = Noise.groundNoise(grid, src).collect().length.toLong
        (lit, (System.nanoTime() - t0) / 1e9)
      }
      time(plain); time(ruled) // warm-up
      val runs = (1 to reps).map(_ => (time(plain), time(ruled)))
      val lits = runs.flatMap { case (a, b) => Seq(a._1, b._1) }.distinct
      require(lits.size == 1, s"plans disagree on lit cells: $lits")
      println(f"${g.name}\t${(2 * g.n + 1) * (2 * g.n + 1)}\t$k\t${lits.head}\t" +
        f"${Stats.median(runs.map(_._1._2))}%.3f\t${Stats.median(runs.map(_._2._2))}%.3f")
      Workload.deleteTree(dir)
      plain.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    ctx.stopSession()
  }
}
