package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span: a trunk build, a key call ("build"), or a key's
  * timed action ("action"). */
final class Counters {
  var jobs, stages, tasks, taskMs, shuffleWrite, shuffleRead, spill = 0L
  var pinWrites, keyedPins, pinWriteNs, pinBytes, scanMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    pinWrites += o.pinWrites; keyedPins += o.keyedPins; pinWriteNs += o.pinWriteNs
    pinBytes += o.pinBytes; scanMs += o.scanMs
  }

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_ms" -> taskMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "pin_writes" -> pinWrites, "keyed_pins" -> keyedPins,
    "pin_write_ms" -> pinWriteNs / 1e6, "pin_bytes" -> pinBytes, "scan_ms" -> scanMs)
}

/** Listeners of the traced pass. As a Spark listener it counts jobs,
  * stages and tasks: jobs carry the span tag the benchmark thread set as
  * a local property when it submitted them, and stages and tasks inherit
  * their job's tag. Its `queries` listener, registered on the pass's
  * session, reads each finished SQL execution's plan: pin writes (write
  * commands whose output path is under one of `pinRoots`) and the scan
  * time of files under `inputDir`. Its `streams` listener keeps the
  * micro-batch progress. */
final class Tracer(pinRoots: Seq[String], inputDir: String) extends SparkListener {
  private val spans = mutable.Map.empty[String, Counters]
  private val stageTag = mutable.Map.empty[Int, String]
  private var lastTag = "other"

  val streams = new StreamTracer

  /** Delivered on the listener bus's shared queue, like the job events,
    * and so after the start events of the execution's own jobs and before
    * those of any later execution of the single benchmark thread. The
    * execution takes the tag of the latest job started: its own last job.
    * (A `QueryExecution` does not carry the execution id its jobs carry.) */
  val queries: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { executionEnded(at(lastTag), qe.executedPlan, durationNs) }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def at(tag: String): Counters = spans.getOrElseUpdate(tag, new Counters)

  def snapshot(): Map[String, Counters] = synchronized(spans.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .getOrElse("other")
    at(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
    lastTag = tag
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    at(stageTag.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageTag.getOrElse(e.stageId, "other"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskMs += m.executorRunTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
    }
  }

  private def executionEnded(c: Counters, plan: SparkPlan, durationNs: Long): Unit =
    Tracer.nodes(plan).foreach {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand
            if pinRoots.exists(r => i.outputPath.toUri.getPath.startsWith(r + "/")) =>
          c.pinWrites += 1
          if (i.outputPath.toUri.getPath.contains("/pins-keyed/")) c.keyedPins += 1
          c.pinWriteNs += durationNs
          c.pinBytes += w.metrics.get("numOutputBytes").map(_.value).getOrElse(0L)
        case _ =>
      }
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(inputDir)) =>
        c.scanMs += s.metrics.get("scanTime").map(_.value).getOrElse(0L)
      case _ =>
    }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Every physical node of an executed plan, through adaptive plans,
    * query stages, reused exchanges and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }
}

/** Micro-batch progress of the streaming queries of the traced pass. */
final class StreamTracer extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { if (e.progress.numInputRows > 0) batches += e }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
