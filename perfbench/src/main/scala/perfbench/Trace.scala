package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the engine. The untraced
  * runs use [[Trace.Off]], which only runs the body. */
trait Trace {
  def span[T](name: String)(body: => T): T
}

object Trace {
  object Off extends Trace {
    def span[T](name: String)(body: => T): T = body
  }

  /** Wall-clock milliseconds since the epoch with sub-millisecond
    * resolution, on the same clock as Spark's listener events. */
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
}

/** The traced run's recorder: a span stack on the client thread, a
  * `SparkListener` for jobs and stage metrics, and a
  * `QueryExecutionListener` for Catalyst's per-query planning phases and
  * parquet scan sizes (local parquet reads do not show in the tasks'
  * input metrics).
  * Everything stays in memory until [[records]] is called at the end of
  * the run. Jobs carry the id of the span that launched them through a
  * Spark local property, which Spark copies to the threads it spawns for
  * broadcasts and subqueries. */
final class Recorder(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper with Trace {
  import Recorder._

  private val spans = ArrayBuffer[SpanRec]()
  private var stack: List[SpanRec] = Nil
  private val jobs = ArrayBuffer[JobRec]()
  private val jobByStage = scala.collection.mutable.Map[Int, JobRec]()
  private val plans = ArrayBuffer[PlanRec]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = SpanRec(spans.size, name, parent.map(_.id).getOrElse(-1),
      Trace.nowMs, Trace.gcMs)
    spans += s
    stack = s :: stack
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = Trace.nowMs
      s.gcMs = Trace.gcMs - s.gcMs
      stack = stack.tail
      sc.setLocalProperty(SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
    val j = JobRec(e.jobId, span, e.time.toDouble)
    jobs += j
    e.stageIds.foreach(id => jobByStage(id) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      jobByStage.get(e.stageInfo.stageId).filter(_ => m != null).foreach {
        j =>
          j.execMs += m.executorRunTime
          j.inBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outBytes += m.outputMetrics.bytesWritten
          j.spillBytes += m.diskBytesSpilled
      }
    }

  private def onQuery(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.filter { case (k, _) =>
      k == "analysis" || k == "optimization" || k == "planning" }.values
    val parquetBytes = scala.util.Try(collectWithSubqueries(
      qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
        s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)
    if (phases.nonEmpty)
      plans += PlanRec(phases.map(_.startTimeMs).min.toDouble,
        phases.map(_.durationMs).sum.toDouble, parquetBytes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = onQuery(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onQuery(qe)

  /** Spans, jobs and planning records as JSON-ready maps. */
  def records: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end,
        "gc_ms" -> s.gcMs)).toSeq,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span,
        "start" -> j.start, "end" -> j.end, "exec_ms" -> j.execMs,
        "in_bytes" -> j.inBytes, "shuffle_bytes" -> j.shuffleBytes,
        "out_bytes" -> j.outBytes, "spill_bytes" -> j.spillBytes)).toSeq,
      "plans" -> plans.map(p => Map("start" -> p.start,
        "plan_ms" -> p.planMs, "parquet_bytes" -> p.parquetBytes)).toSeq)
  }
}

object Recorder {
  val SpanProp = "perfbench.span"

  final case class SpanRec(id: Int, name: String, parent: Int,
      start: Double, var gcMs: Long) {
    var end: Double = Double.NaN
  }

  final case class JobRec(id: Int, span: Int, start: Double) {
    var end: Double = Double.NaN
    var execMs, inBytes, shuffleBytes, outBytes, spillBytes: Long = 0L
  }

  final case class PlanRec(start: Double, planMs: Double, parquetBytes: Long)
}
