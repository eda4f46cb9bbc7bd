package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.queries._

/** Benchmark entry point. Normally started by perfbench/run.py:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <spans dir> --data <sf0.01 dir>
  *        --sample <query sample tsv>
  *
  * prints notes, then one JSON line with the run's metrics.
  *
  * Two maintenance modes rebuild the query_mix sample file:
  *   Main --record <data dir>      every registry query once: name, family,
  *                                 rows, digest, seconds (TSV on stdout)
  *   Main --digest-dir <dir>       digests of the per-query parquet
  *                                 directories graft.Verify wrote
  *
  * and one times the two ground-noise plans on the workloads' grids:
  *   Main --crossover <source counts, comma-separated>
  */
object Main {
  val Layers = Seq("ingest.parse", "noise.grid", "noise.classify", "noise.ground", "plans",
    "sink.html", "sink.parquet", "queries")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("record")) record(opts("record"), opts.getOrElse("work", "perfbench/.work"))
    else if (opts.contains("crossover"))
      Crossover.run(opts("crossover").split(",").map(_.toInt).toSeq,
        new Ctx(Paths.get(opts.getOrElse("work", "perfbench/.work")).toAbsolutePath, 0L, new Ledger))
    else if (opts.contains("digest-dir")) digestDir(opts("digest-dir"), opts.getOrElse("work", "perfbench/.work"))
    else run(opts)
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val workDir = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(workDir)
    val w: Workload = workload match {
      case "refscale_snapshot" => new Snapshot(aircraft = 100, n = 150)
      case "history_backfill" => new Backfill(polls = 4, aircraft = 10000, hubShare = 0.005)
      case "query_mix" => new QueryMix(Paths.get(opts("data")).toAbsolutePath.toString, Paths.get(opts("sample")))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val ledger = new Ledger
    val ctx = new Ctx(workDir, seed, ledger)

    // set-up, three times; the median is reported
    val setups = (1 to 3).map { _ =>
      ctx.stopSession()
      val t0 = System.nanoTime()
      w.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val confDigest = Sessions.confDigest(ctx.spark)
    val warmStart = System.nanoTime()
    w.warmup(ctx)
    val warmSecs = (System.nanoTime() - warmStart) / 1e9
    ledger.drain(ctx.spark)
    ledger.reset()
    Workload.timedCpu = 0.0

    val tracer = new Tracer(ledger, () => ctx.spark)
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val opLog = mutable.ArrayBuffer.empty[String]
    // each op starts on a collected heap, so a collection the previous op
    // left pending does not land in its time
    def runOp(i: Int, isTraced: Boolean): OpResult = {
      System.gc()
      w.op(ctx, i, if (isTraced) Some(tracer) else None)
    }
    def record(r: OpResult, isTraced: Boolean): Unit = {
      attempted += 1
      opLog += (if (r.label.isEmpty) "" else r.label + ":") + f"${r.seconds}%.3f" + (if (isTraced) "t" else "")
      if (!r.correct) { failed += 1; if (failures.size < 5) failures += r.detail }
      (if (isTraced) tracedTimes else plain) += r.seconds
    }
    // A run measures `seconds` of op time; input generation and output
    // checks come on top. Pass workloads time exactly one whole pass
    // instead: each pass is warmer than the one before, so a pass count
    // that followed the machine's speed would move the figures.
    val start = System.nanoTime()
    def measured = plain.sum + tracedTimes.sum
    var i = 0
    if (w.passOps > 0) {
      // traced runs time plain, traced, plain passes and compare the traced
      // pass with the mean of its neighbours
      var pass = 0
      while (pass < (if (traced) 3 else 1)) {
        w.beginPass(ctx, pass)
        val isTraced = traced && pass == 1
        (0 until w.passOps).foreach { _ =>
          record(runOp(i, isTraced), isTraced); i += 1
        }
        pass += 1
      }
    } else {
      // traced runs alternate plain and traced ops
      while (i < (if (traced) 2 else 1) || measured < seconds) {
        val isTraced = traced && i % 2 == 1
        record(runOp(i, isTraced), isTraced)
        i += 1
      }
    }
    val loopSecs = (System.nanoTime() - start) / 1e9
    ledger.drain(ctx.spark)
    val cpu = Workload.timedCpu
    val rss = Proc.peakRssMb()

    val out = new StringBuilder
    def note(s: String): Unit = out.append("# ").append(s).append('\n')
    note(s"workload=$workload seed=$seed trace=${if (traced) 1 else 0} cores=${Sessions.Cores} conf_digest=$confDigest")
    note(s"sizes: ${w.sizes}")
    note(f"failed_ratio=${failed.toDouble / math.max(attempted, 1)}%.4f ratio ($failed of $attempted ops)")
    failures.foreach(f => note(s"failed: $f"))
    note(s"setup_s runs: ${setups.map(s => f"$s%.3f").mkString(" ")}")
    note(s"op seconds (t = traced): ${opLog.mkString(" ")}")
    note(f"peak_rss_mb=$rss%.1f MB (VmHWM; not a bounded metric, see NOTES.md)")
    note(f"untimed warm-up op: $warmSecs%.3f s; measuring loop: $loopSecs%.3f s; ops timed: ${plain.sum + tracedTimes.sum}%.3f s")
    w match {
      case q: QueryMix if q.bpeSampled.nonEmpty =>
        note(s"BPE-memo queries sampled: ${q.bpeSampled.mkString(",")} " +
          (if (q.bpeSampled.size >= 2) "(they share one training within a pass)" else "(one alone shares nothing within a pass)"))
      case _ =>
    }
    Stats.tail(plain.toSeq).foreach { case (v, pct, beyond) =>
      note(f"op_tail_s=$v%.6f s at p$pct%.1f with $beyond samples beyond it (${plain.size} ops)")
    }
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val n = plain.size
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("ops_per_s", n / plain.sum, "1/s"),
          ("op_p50_s", Stats.median(plain.toSeq), "s"),
          ("cpu_s_per_op", cpu / n, "s"))
      } else {
        val outDir = Paths.get(opts.getOrElse("out", workDir.toString))
        Files.createDirectories(outDir)
        Files.write(outDir.resolve(s"spans_${workload}_$seed.jsonl"),
          tracer.toJsonLines.getBytes(StandardCharsets.UTF_8))
        layerMetrics(ctx, tracer, plain.toSeq, tracedTimes.toSeq, w.passOps > 0)
      }
    print(out)
    val json = metrics.map { case (k, v, u) =>
      val value = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $value, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    ctx.stopSession()
  }

  /** Per-layer figures of the traced ops, each per traced op. */
  private def layerMetrics(ctx: Ctx, tracer: Tracer, plain: Seq[Double], traced: Seq[Double],
      passes: Boolean): Seq[(String, Double, String)] = {
    val n = math.max(traced.size, 1).toDouble
    val layers = ctx.ledger.layers
    val engine = Layers.flatMap { l =>
      val a = layers.getOrElse(l, new EngineAcc)
      Seq(
        (s"$l.exec.run_s", a.runMs / 1000.0 / n, "s"),
        (s"$l.exec.cpu_s", a.cpuNs / 1e9 / n, "s"),
        (s"$l.exec.gc_s", a.gcMs / 1000.0 / n, "s"),
        (s"$l.sched.delay_s", a.schedMs / 1000.0 / n, "s"),
        (s"$l.tasks", a.tasks / n, "count"),
        (s"$l.tasks.failed", a.tasksFailed / n, "count"),
        (s"$l.shuffle.read_bytes", a.shuffleRead / n, "B"),
        (s"$l.shuffle.write_bytes", a.shuffleWrite / n, "B"),
        (s"$l.spill.disk_bytes", a.spillDisk / n, "B"),
        (s"$l.input.bytes", a.inputBytes / n, "B"),
        (s"$l.self_s", tracer.spans.filter(_.name == l).map(tracer.selfSeconds).sum / n, "s"))
    }
    val f = ctx.layerFigures
    val q = layers.getOrElse("queries", new EngineAcc)
    val specific = Seq(
      ("ingest.parse.rows", f("ingest.parse.rows") / n, "count"),
      ("ingest.parse.bytes", f("ingest.parse.bytes") / n, "B"),
      ("ingest.parse.malformed_rows", f("ingest.parse.malformed_rows") / n, "count"),
      ("noise.grid.cells", f("noise.grid.cells") / n, "count"),
      ("noise.classify.sources", f("noise.classify.sources") / n, "count"),
      ("noise.classify.phase_ground", f("noise.classify.phase_ground") / n, "count"),
      ("noise.classify.phase_climb", f("noise.classify.phase_climb") / n, "count"),
      ("noise.classify.phase_descent", f("noise.classify.phase_descent") / n, "count"),
      ("noise.classify.phase_cruise", f("noise.classify.phase_cruise") / n, "count"),
      ("noise.ground.candidate_pairs", f("noise.ground.candidate_pairs") / n, "count"),
      ("noise.ground.pairs_in_range", f("noise.ground.pairs_in_range") / n, "count"),
      ("noise.ground.pair_yield",
        if (f("noise.ground.candidate_pairs") > 0) f("noise.ground.pairs_in_range") / f("noise.ground.candidate_pairs") else 0.0,
        "ratio"),
      ("noise.ground.lit_cells", f("noise.ground.lit_cells") / n, "count"),
      ("noise.ground.exchanges", f("noise.ground.exchanges") / n, "count"),
      ("noise.ground.bnlj_nodes", f("noise.ground.bnlj_nodes") / n, "count"),
      ("plans.optimize_s", f("plans.optimize_s") / n, "s"),
      ("plans.rule_rewrites", f("plans.rule_rewrites") / n, "count"),
      ("sink.html.collect_rows", f("sink.html.collect_rows") / n, "count"),
      ("sink.html.bytes", f("sink.html.bytes") / n, "B"),
      ("sink.parquet.bytes", f("sink.parquet.bytes") / n, "B"),
      ("sink.parquet.files", f("sink.parquet.files") / n, "count"),
      ("queries.analysis_s", q.analysisNs / 1e9 / n, "s"),
      ("queries.optimization_s", q.optimizationNs / 1e9 / n, "s"),
      ("queries.planning_s", q.planningNs / 1e9 / n, "s"),
      ("queries.jobs", q.jobs / n, "count"),
      ("queries.stages", q.stages / n, "count"),
      ("queries.exchanges", q.exchanges / n, "count"),
      ("queries.codegen_stages", q.codegenStages / n, "count"))
    // tracing overhead against the plain ops of the same run; for whole
    // passes the same queries ran in each, so per-pass totals compare
    val overhead =
      if (passes) traced.sum / (plain.sum * traced.size / plain.size) - 1.0
      else Stats.median(traced) / Stats.median(plain) - 1.0
    val ops = tracer.spans.filter(_.name == "op")
    val opTime = ops.map(_.seconds).sum
    val unaccounted = ops.map(tracer.selfSeconds).sum
    engine ++ specific ++ Seq(
      ("trace.overhead", overhead, "ratio"),
      ("trace.op_s", opTime / n, "s"),
      ("trace.unaccounted_share", if (opTime > 0) unaccounted / opTime else 0.0, "ratio"))
  }

  /** Registry modules grouped into the families of the query_mix sample. */
  private val families: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> (RelationalQueries.all ++ RelationalQueries2.all ++ ExtQueries.all ++ EventQueries.all),
    "text" -> (TextQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++ PipelineQueries.all),
    "noise" -> NoiseQueries.all,
    "r4-r6" -> (Round4Queries.all ++ Round4Queries2.all ++ Round4Queries3.all ++
      Round5Queries.all ++ Round5Queries2.all ++ Round5Queries3.all ++ Round5Queries4.all ++
      Round5Queries5.all ++ Round5Queries6.all ++ Round5Queries7.all ++
      Round6Queries.all ++ Round6Queries2.all ++ Round6Queries3.all ++ Round6Queries4.all ++
      Round6Queries5.all ++ Round6Queries6.all ++ Round6Queries7.all ++ Round6Queries8.all ++
      Round6Queries9.all),
    "r7-r10" -> (Round7Queries.all ++ Round8Queries.all ++ Round8Queries2.all ++ Round9Queries.all ++
      Round10Queries.all ++ Round10Queries2.all ++ Round10Queries3.all),
    "r11-r16" -> (Round11Queries.all ++ Round11Queries2.all ++ Round12Queries.all ++
      Round13Queries.all ++ Round13Queries2.all ++ Round13Queries3.all ++ Round13Queries4.all ++
      Round14Queries.all ++ Round15Queries.all ++ Round16Queries.all))

  private def record(dataDir: String, work: String): Unit = {
    val ctx = new Ctx(Paths.get(work).toAbsolutePath, 0L, new Ledger)
    val spark = ctx.newSession(extensions = false)
    val family = families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap
    val oracle = graft.SparkEntry.oracleSql.keySet
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (r, secs) = Workload.timed {
        try Right(Digest.noopWrite(fn(spark, dataDir)))
        catch { case e: Throwable => Left(e.toString.take(80)) }
      }
      graft.operators.ScopedCache.drain()
      val fam = family.getOrElse(name, "other")
      r match {
        case Right((rows, d)) =>
          println(f"$name\t$fam\t$rows\t$d\t$secs%.3f\t${if (oracle(name)) "oracle" else "rows-only"}")
        case Left(e) => println(s"$name\t$fam\tERROR\t$e")
      }
    }
    ctx.stopSession()
  }

  private def digestDir(dir: String, work: String): Unit = {
    val ctx = new Ctx(Paths.get(work).toAbsolutePath, 0L, new Ledger)
    val spark = ctx.newSession(extensions = false)
    val subdirs = Files.list(Paths.get(dir))
    try subdirs.filter(p => Files.isDirectory(p)).sorted().forEach { (p: Path) =>
      val (rows, d) = Digest.noopWrite(spark.read.parquet(p.toString))
      println(s"${p.getFileName}\t$rows\t$d")
    } finally subdirs.close()
    ctx.stopSession()
  }
}
