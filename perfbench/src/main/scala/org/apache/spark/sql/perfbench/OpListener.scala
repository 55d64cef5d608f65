package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Attributes Spark jobs, stages, tasks and SQL executions to the benchmark
  * op that launched them. The caller tags its own thread with
  * [[OpListener.tagOf]] (a Spark job tag) around each op; jobs and SQL
  * executions carry the tag in their properties. Lives in a Spark package
  * only to read the finished `QueryExecution` and to drain the listener bus.
  */
final class OpListener extends SparkListener with AdaptiveSparkPlanHelper {
  import OpListener._

  /** Per-op totals over everything the op launched. */
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
    var executions = 0L; var filesRead = 0L
    var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  }

  val totals = new ConcurrentHashMap[Int, Totals]()
  private val children = mutable.LinkedHashMap.empty[(String, Long), Child]
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  private def totalsOf(op: Int): Totals = totals.computeIfAbsent(op, _ => new Totals)

  private def opOf(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(Prefix) => t.stripPrefix(Prefix).toInt }

  private def tagsOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(',').toSeq).getOrElse(Seq.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    opOf(tagsOf(e.properties)).foreach { op =>
      synchronized { children((JobKind, e.jobId.toLong)) = Child(JobKind, op, e.jobId, e.time) }
      e.stageIds.foreach(s => stageOp.put(s, op))
      totalsOf(op).synchronized { totalsOf(op).jobs += 1 }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { children.get((JobKind, e.jobId.toLong)).foreach(_.endMs = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val t = totalsOf(op); t.synchronized { t.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val t = totalsOf(op)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      opOf(s.jobTags).foreach { op =>
        synchronized { children((SqlKind, s.executionId)) = Child(SqlKind, op, s.executionId, s.time) }
      }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized(children.get((SqlKind, s.executionId))).foreach { c =>
        c.endMs = s.time
        val t = totalsOf(c.op)
        val phases = Option(s.qe).map(_.tracker.phases).getOrElse(Map.empty)
        def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
        val files = Option(s.qe).map(qe => collect(qe.executedPlan) {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum).getOrElse(0L)
        t.synchronized {
          t.executions += 1
          t.filesRead += files
          t.analysisMs += phase("analysis")
          t.optimizationMs += phase("optimization")
          t.planningMs += phase("planning")
        }
      }
    case _ => ()
  }

  def spans: Seq[Child] = synchronized(children.values.toList)
}

object OpListener {
  val Prefix = "perfbench-op-"

  /** One Spark job or SQL execution, as a span of its op. */
  final case class Child(kind: String, op: Int, id: Long, startMs: Long, var endMs: Long = -1L)

  val JobKind = "spark.job"
  val SqlKind = "sql.execution"

  def tagOf(op: Int): String = s"$Prefix$op"

  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
