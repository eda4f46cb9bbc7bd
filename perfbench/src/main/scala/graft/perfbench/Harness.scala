package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftExtensions

/** Sessions built with the correctness gate's posture (graft.Verify): AQE
  * size-driven coalescing, AQE re-partitioning inside cached plans, UTC,
  * shuffle partitions equal to the core count. Scratch directories stay
  * inside the benchmark's work directory.
  */
object Sessions {
  val Cores = 4

  def build(workDir: String, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    val spark = (if (extensions) b.withExtensions(new GraftExtensions) else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Keys whose values change per process or per checkout; everything else
    * in the effective conf goes into the digest.
    */
  private val volatileKeys = Set("spark.app.id", "spark.app.startTime",
    "spark.app.submitTime", "spark.driver.host", "spark.driver.port",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.executor.id",
    "spark.app.initial.jar.urls", "spark.repl.class.uri")

  /** Short SHA-256 of the effective session conf plus the SQL conf, so runs
    * made under different configurations are never compared.
    */
  def confDigest(spark: SparkSession): String = {
    val core = spark.sparkContext.getConf.getAll.toSeq
    val sql = spark.conf.getAll.toSeq
    val text = (core ++ sql).filterNot(kv => volatileKeys(kv._1) || kv._1.startsWith("spark.driver.extraJavaOptions"))
      .distinct.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n") +
      s"\nextensions=${spark.sessionState.conf.getConfString("spark.sql.extensions", "")}"
    val h = MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
    h.take(6).map(b => f"${b & 0xff}%02x").mkString
  }
}

/** JVM process figures. In local mode the executors run inside this JVM, so
  * process CPU is the whole computation.
  */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** VmHWM: the peak resident set size, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Engine figures for one layer, summed over its jobs. */
final class EngineAcc {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spillDisk = 0L
  var inputBytes = 0L
  // Catalyst phases and final-plan shape of the SQL executions in the layer
  var analysisNs = 0L
  var optimizationNs = 0L
  var planningNs = 0L
  var exchanges = 0L
  var codegenStages = 0L
}

/** One listener for everything the benchmark reads from Spark: task metrics
  * attributed to layers through the job group the benchmark sets around each
  * call, plus the Catalyst phase times and final plan shape of every SQL
  * execution, attributed to the layer current when it completes.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val byLayer = new ConcurrentHashMap[String, EngineAcc]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  @volatile var currentLayer: String = "aux"

  def acc(layer: String): EngineAcc = byLayer.computeIfAbsent(layer, _ => new EngineAcc)
  def layers: Map[String, EngineAcc] = byLayer.asScala.toMap

  def reset(): Unit = { byLayer.clear(); stageLayer.clear() }

  /** Listens to a new SparkContext's bus and to its first session. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    watch(spark)
  }

  /** Listens to the SQL executions of one more session. */
  def watch(spark: SparkSession): Unit = spark.listenerManager.register(this)

  def drain(spark: SparkSession): Unit = BusBridge.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("aux")
    val a = acc(layer)
    a.synchronized { a.jobs += 1 }
    e.stageIds.foreach(id => stageLayer.put(id, layer))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageLayer.getOrDefault(e.stageInfo.stageId, "aux"))
    a.synchronized { a.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageLayer.getOrDefault(e.stageId, "aux"))
    val m = e.taskMetrics
    val info = e.taskInfo
    a.synchronized {
      a.tasks += 1
      if (!info.successful) a.tasksFailed += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime)
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spillDisk += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val a = acc(currentLayer)
    val phases = qe.tracker.phases
    def ns(p: String): Long = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
    // a plan that never got planned (the action failed in analysis) has no shape
    val nodes = try Plans.nodes(qe.executedPlan)
      catch { case scala.util.control.NonFatal(_) => Nil }
    a.synchronized {
      a.analysisNs += ns("analysis")
      a.optimizationNs += ns("optimization")
      a.planningNs += ns("planning")
      a.exchanges += nodes.count(Plans.isExchange)
      a.codegenStages += nodes.count(_.isInstanceOf[WholeStageCodegenExec])
    }
  }
}

/** Walks a physical plan as executed, through adaptive plans and query
  * stages, counting each node once.
  */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q.plan match {
      case r: ReusedExchangeExec => Seq(r)
      case inner => nodes(inner)
    }
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def isExchange(p: SparkPlan): Boolean = p match {
    case _: Exchange | _: ReusedExchangeExec => true
    case _ => false
  }
}

/** A timed call: name, op id, parent span, start and end (ns). */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are written out when the run ends; self
  * time is a span's duration minus the time its child spans cover.
  */
final class Tracer(ledger: Ledger, spark: () => SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String, op: Int, layer: Boolean = true)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark().sparkContext
    if (layer) { ledger.currentLayer = name; sc.setJobGroup(name, name) }
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, op, parent, t0, t1)
      if (layer) {
        ledger.drain(spark())
        sc.clearJobGroup()
        ledger.currentLayer = "aux"
      }
    }
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum

  def toJsonLines: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("\n")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Latency at the highest percentile with at least `beyond` samples above
    * it: (value, percentile, samples beyond), or None below 2 * beyond ops.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    if (s.size < 2 * beyond) None
    else {
      val idx = s.size - beyond - 1
      Some((s(idx), 100.0 * (idx + 1) / s.size, beyond))
    }
  }
}
