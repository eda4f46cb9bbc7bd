package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.ScopedCache

/** One recorded query: name, family, expected row count and digest. */
final case class Expected(name: String, family: String, rows: Long, digest: String)

/** Order-independent digest of a result, computed by an observation riding
  * the query's own job: row count, the sum of the low 32 bits and the xor of
  * each row's xxhash64. Columns are renamed by position first, so duplicate
  * or odd names cannot break it; map-typed columns hash their JSON text.
  */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(bit_xor(h), lit(0L)).as("x"))
  }

  /** (rows, digest) once the observed frame's action has run. */
  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    (rows, f"${m("lo").asInstanceOf[Long]}%x:${m("x").asInstanceOf[Long]}%x")
  }

  private val tags = new java.util.concurrent.atomic.AtomicLong

  /** Runs `df` to the noop sink with the digest riding along. */
  def noopWrite(df: DataFrame): (Long, String) = {
    val obs = Observation(s"digest_${tags.incrementAndGet()}")
    observed(df, obs).write.format("noop").mode("overwrite").save()
    read(obs)
  }
}

/** `query_mix`: one op = one registry query at sf0.01 to the noop sink,
  * from a fixed family-stratified sample in a seeded order. Each timed pass
  * runs in a fresh session, after an untimed warm-up pass; ScopedCache is
  * drained after every query.
  */
final class QueryMix(dataDir: String, sampleFile: Path) extends Workload {
  val name = "query_mix"
  private lazy val sample: Seq[Expected] =
    Files.readAllLines(sampleFile, StandardCharsets.UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, fam, rows, dig) = l.split("\t")
        Expected(n, fam, rows.toLong, dig)
      }
  private var order: Seq[Expected] = Nil
  private var passSession: SparkSession = _

  def sizes: String =
    s"queries=${sample.size} families=${sample.map(_.family).distinct.size} data=sf0.01 tables=${Tables.names.size}"

  override def passOps: Int = sample.size

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.newSession(extensions = false)
    Tables.names.foreach(t => Tables.load(spark, dataDir, t).limit(1).count())
    passSession = spark
    ScopedCache.drain()
  }

  def warmup(ctx: Ctx): Unit = {
    sample.foreach { q => Digest.noopWrite(SparkEntry.queries(q.name)(ctx.spark, dataDir)); ScopedCache.drain() }
  }

  /** A fresh session per pass, its table frames built before timing (the
    * set-up's table warm-up; no query result is built).
    */
  override def beginPass(ctx: Ctx, pass: Int): Unit = {
    passSession = ctx.spark.newSession()
    ctx.ledger.watch(passSession)
    Tables.names.foreach(t => Tables.load(passSession, dataDir, t))
    order = new scala.util.Random(ctx.seed * 7919L + pass).shuffle(sample)
  }

  def op(ctx: Ctx, i: Int, tracer: Option[Tracer]): OpResult = {
    val q = order(i % order.size)
    val fn = SparkEntry.queries(q.name)
    try {
      def query() = Digest.noopWrite(fn(passSession, dataDir))
      val ((rows, digest), secs) = Workload.timed(tracer.fold(query()) { t =>
        t.span("op", i, layer = false)(t.span("queries", i)(query()))
      })
      val label = q.name.takeWhile(_ != '_')
      if (rows == q.rows && digest == q.digest) OpResult(secs, correct = true, label = label)
      else OpResult(secs, correct = false, s"${q.name}: rows $rows digest $digest != recorded ${q.rows} ${q.digest}", label)
    } finally ScopedCache.drain()
  }

  /** Sampled queries that call TextAnalysis.bpeTrain, whose result the
    * program memoizes per session and corpus: two or more of them in one
    * pass share one training.
    */
  def bpeSampled: Seq[String] = sample.map(_.name).filter(n => QueryMix.BpeQueries.exists(p => n.startsWith(p + "_")))
}

object QueryMix {
  /** Registry queries that train BPE merges through TextAnalysis.bpeTrain. */
  val BpeQueries = Seq("q230", "q231", "q275", "q293", "q297")
}
