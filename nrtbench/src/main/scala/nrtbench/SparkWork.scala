package nrtbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job and the work of its tasks, charged to an owner: a span
  * id ("span:<id>"), a streaming query ("query:<id>"), or "none".
  */
final class JobRec(val owner: String, val startNs: Long) {
  @volatile var endNs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
}

/** Benchmark-owned SparkListener: charges each job, and the tasks of its
  * stages, to the span named in the job's local properties, else to the
  * streaming query that ran it. Stage call sites cannot do this: most SQL
  * jobs show up as `withThreadLocalCaptured at CompletableFuture.java`.
  */
final class SparkWork extends SparkListener {
  // listener events carry wall-clock ms; spans use nanoTime
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + nsOffset

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val byJob = new ConcurrentHashMap[Int, JobRec]()
  private val byStage = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val owner = p.flatMap(x => Option(x.getProperty(Tracer.Key))).map("span:" + _)
      .orElse(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).map("query:" + _))
      .getOrElse("none")
    val j = new JobRec(owner, toNs(e.time))
    jobs.add(j)
    byJob.put(e.jobId, j)
    e.stageIds.foreach(byStage.put(_, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach(_.endNs = toNs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  /** Jobs by owner key, as recorded so far. */
  def byOwner: Map[String, Seq[JobRec]] = jobs.asScala.toSeq.groupBy(_.owner)
}

/** What a benchmark read's QueryExecution reports once it succeeded. */
final case class ReadStats(planMs: Double, filesRead: Long, bytesRead: Long)

/** QueryExecutionListener for the benchmark's own reads: planning-phase
  * times and the file scans' files/bytes metrics. Only queries the read
  * wrapper registered are inspected.
  */
final class ReadListener extends QueryExecutionListener {
  private val wanted = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
  private val seen = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, ReadStats]())

  def want(qe: QueryExecution): Unit = wanted.synchronized(wanted.add(qe))
  def statsOf(qe: QueryExecution): Option[ReadStats] = Option(seen.get(qe))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (wanted.synchronized(wanted.remove(qe))) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val scans = ReadListener.scans(qe.executedPlan)
      def metric(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      seen.put(qe, ReadStats(planMs,
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    wanted.synchronized(wanted.remove(qe))
}

object ReadListener {
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}

/** One micro-batch as its query reported it. */
final case class Progress(
    queryId: String, batchId: Long, inputRows: Long, endMs: Long,
    durationMs: Map[String, Long], endOffset: String)

/** Collects every query's progress reports. Used untraced too: the
  * batch end times are how medallion_stream sees a feed file become
  * visible, without polling the tables.
  */
final class StreamProgress extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    events.add(Progress(p.id.toString, p.batchId, p.numInputRows,
      startMs + dur.getOrElse("triggerExecution", 0L), dur,
      p.sources.headOption.map(_.endOffset).getOrElse("")))
  }

  def of(queryId: String): Seq[Progress] =
    events.asScala.toSeq.filter(_.queryId == queryId).sortBy(_.batchId)
}
