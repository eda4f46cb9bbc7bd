package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares with its workload: the work directory (inside the
  * checkout), the seed, the ledger, and the tracer when the run is traced.
  */
final class Ctx(val workDir: Path, val seed: Long, val ledger: Ledger) {
  var spark: SparkSession = _
  /** Layer-specific figures summed over traced ops (`<layer>.<metric>`). */
  val layerFigures: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = layerFigures(key) += v

  def newSession(extensions: Boolean): SparkSession = {
    spark = Sessions.build(workDir.toString, extensions)
    ledger.install(spark)
    spark
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }
}

/** Outcome of one op: timed seconds, whether its output checked out, and
  * what was wrong when it did not.
  */
final case class OpResult(seconds: Double, correct: Boolean, detail: String = "", label: String = "")

trait Workload {
  def name: String

  /** One set-up: build the session (extensions installed when the workload
    * uses them), warm its tables, run one small warm-up op. Timed.
    */
  def setup(ctx: Ctx): Unit

  /** Untimed full-size work before measuring. */
  def warmup(ctx: Ctx): Unit

  /** Starts a timed pass (query_mix moves to a fresh session here). */
  def beginPass(ctx: Ctx, pass: Int): Unit = ()

  /** Ops in one pass, or 0 when ops are not grouped in passes. */
  def passOps: Int = 0

  /** Op `i`: prepare its seeded input (untimed), run it (timed; traced as
    * layer spans when `tracer` is set), check its output (untimed).
    */
  def op(ctx: Ctx, i: Int, tracer: Option[Tracer]): OpResult

  /** Input sizes, printed with the results. */
  def sizes: String
}

object Workload {
  /** Process CPU seconds spent inside [[timed]] sections since the last reset. */
  var timedCpu = 0.0

  def timed[T](body: => T): (T, Double) = {
    val c0 = Proc.cpuSeconds()
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    timedCpu += Proc.cpuSeconds() - c0
    (r, secs)
  }

  /** Untimed full-size ops `op(-2)`, `op(-3)`, ...: at least two, for at
    * least six seconds. After fewer, op times were still falling through
    * the measured ops as the JIT compiled.
    */
  def warmOps(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < 2 || (System.nanoTime() - t0) / 1e9 < 6.0) { op(-2 - n); n += 1 }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Materializes a layer's output at its boundary: executes the frame's own
    * planned query once and keeps the rows, so the next layer starts from
    * them (the fusion lost here is part of the tracing overhead).
    */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Drops what a traced op materialized. */
  def unpersistAll(ctx: Ctx): Unit =
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}
