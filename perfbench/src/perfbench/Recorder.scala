package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Counters of one tagged scope (one op of one pass). */
final class Counters {
  var jobs, stages, tasks, runMs, shuffleWrite, spill, inputRows, planMs = 0L
  val scanRows: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  val scans: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** Attributes Spark work to the job tag that was set around the call that
  * caused it (`SparkContext.addJobTag`), so the attribution holds however
  * the jobs interleave. Only tags with the `pb-` prefix are recorded.
  *
  * Jobs, stages and task metrics come from the scheduler events. Parquet
  * scans and the rows they produced come from the executed plan of each SQL
  * execution (after adaptive re-planning, reused exchanges not counted), and
  * planning time from the execution's phase tracker.
  *
  * Events arrive on the listener bus thread; read the counters only after
  * [[org.apache.spark.sql.PerfbenchBridge.drain]].
  */
final class Recorder extends SparkListener {
  val byTag: mutable.Map[String, Counters] = mutable.LinkedHashMap.empty
  private val stageTag = mutable.Map.empty[Int, String]
  private val execTag = mutable.Map.empty[Long, String]

  private def counters(tag: String): Counters = byTag.getOrElseUpdate(tag, new Counters)

  private def ourTag(tags: Iterable[String]): Option[String] = tags.find(_.startsWith("pb-"))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
    ourTag(tags.toSeq.flatMap(_.split(','))).foreach { t =>
      counters(t).jobs += 1
      e.stageIds.foreach(stageTag(_) = t)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageTag.remove(e.stageInfo.stageId).foreach { t =>
      val c = counters(t)
      c.stages += 1
      c.tasks += e.stageInfo.numTasks
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageTag.get(e.stageId).foreach { t =>
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(t)
        c.runMs += m.executorRunTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      ourTag(s.jobTags).foreach(execTag(s.executionId) = _)
    case end: SparkListenerSQLExecutionEnd =>
      for (t <- execTag.remove(end.executionId); qe <- Option(PerfbenchBridge.queryExecution(end))) {
        val c = counters(t)
        scans(qe.executedPlan).foreach { case (table, rows) =>
          c.scans(table) += 1
          c.scanRows(table) += rows
        }
        c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    case _ =>
  }

  /** (table, rows produced) for every parquet scan that ran in `plan`. */
  private def scans(plan: SparkPlan): Seq[(String, Long)] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case _: ReusedExchangeExec => Nil
    case f: FileSourceScanExec =>
      val path = f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
      Seq(path.stripSuffix(".parquet") -> f.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    case p => (p.children ++ p.subqueries).flatMap(scans)
  }
}
