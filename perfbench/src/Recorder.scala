package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's one SparkListener plus one StreamingQueryListener.
  *
  * Always on: per (pass, query) job counts, which the shared-state guard
  * compares across passes, and stream micro-batch progress, from which the
  * stream latency metrics come. Only while `traced` is set: one record
  * per job and per stage attempt, RDD block bytes and SQL write metrics,
  * from which the per-layer metrics are computed offline.
  *
  * Job records carry what attribution needs: the bench query and pass
  * (local properties the benchmark's thread sets and every job, stream
  * threads included, inherits), the stream query id, and the call-site
  * frames. */
final class Recorder extends SparkListener {
  import Recorder._

  @volatile var traced = false
  @volatile var pass = -1

  val queryJobs = new ConcurrentHashMap[(Int, String), AtomicLong]()

  // listener callbacks arrive on one bus thread per queue; GraftBench reads
  // these only after draining the bus, so plain buffers under a lock suffice
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val batches = mutable.ArrayBuffer.empty[Batch]
  val writes = mutable.ArrayBuffer.empty[Write]
  private val openJobs = mutable.HashMap.empty[Int, Job]
  private val openStages = mutable.HashMap.empty[(Int, Int), Stage]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val submitted = mutable.HashSet.empty[Int]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var blockTotal = 0L
  val blockPeak = mutable.HashMap.empty[Int, Long]
  private val writeAccums = mutable.HashMap.empty[Long, (Long, String)]
  private val execSites = mutable.HashMap.empty[Long, (String, Frames)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val query = prop(QueryProp).getOrElse("")
    val p = prop(PassProp).map(_.toInt).getOrElse(-1)
    queryJobs.computeIfAbsent((p, query), _ => new AtomicLong).incrementAndGet()
    if (traced) synchronized {
      val last = e.stageInfos.maxBy(_.stageId)
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      // AQE and broadcast stages are submitted from pool threads whose
      // stacks hold no graft frame: take the call site of the SQL
      // execution they belong to, captured on the thread that started it
      val own = frames(last.details)
      val (callSite, f) = execSites.get(exec) match {
        case Some(site) if !own.graft && !own.bench => site
        case _ => (last.name, own)
      }
      val j = Job(e.jobId, p, query, e.time, -1L, ok = false,
        e.stageIds, callSite, prop("sql.streaming.queryId").getOrElse(""), exec, f)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      openJobs(e.jobId) = j
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
      j.skippedStages = j.stageIds.count(s => !submitted(s))
      jobs += j
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (traced) synchronized {
    val i = e.stageInfo
    submitted += i.stageId
    openStages((i.stageId, i.attemptNumber())) = Stage(i.stageId, i.attemptNumber(),
      stageJob.getOrElse(i.stageId, -1), pass, i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) synchronized {
    openStages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      val t = e.taskInfo
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val getting = if (t.gettingResultTime > 0) t.finishTime - t.gettingResultTime else 0L
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.deserMs += m.executorDeserializeTime
        s.schedDelayMs += math.max(0L, t.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    openStages.remove((i.stageId, i.attemptNumber())).foreach { s =>
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
      stages += s
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (traced) synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      blockTotal += now - blockBytes.getOrElse(b.blockId.name, 0L)
      if (now == 0L) blockBytes.remove(b.blockId.name) else blockBytes(b.blockId.name) = now
      blockPeak(pass) = math.max(blockPeak.getOrElse(pass, 0L), blockTotal)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (traced) e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = (s.description, frames(s.details))
      watchWrites(s.executionId, s.sparkPlanInfo)
    }
    case s: SparkListenerSQLAdaptiveExecutionUpdate => watchWrites(s.executionId, s.sparkPlanInfo)
    case u: SparkListenerDriverAccumUpdates => synchronized {
      val hits = u.accumUpdates.flatMap { case (id, v) => writeAccums.get(id).map(k => k._2 -> v) }
      if (hits.nonEmpty) writes += Write(u.executionId, pass,
        hits.collect { case (WrittenFiles, v) => v }.sum,
        hits.collect { case (WrittenBytes, v) => v }.sum)
    }
    case _ =>
  }

  private def watchWrites(exec: Long, plan: SparkPlanInfo): Unit = synchronized {
    def walk(p: SparkPlanInfo): Unit = {
      p.metrics.foreach { m =>
        if (m.name == WrittenFiles || m.name == WrittenBytes) writeAccums(m.accumulatorId) = (exec, m.name)
      }
      p.children.foreach(walk)
    }
    walk(plan)
  }

  /** Stream progress is recorded in every pass, traced or not: the stream
    * latency metrics use every warm pass. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Recorder.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches += Batch(pass, p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows, d,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }
}

object Recorder {
  val QueryProp = "perfbench.query"
  val PassProp = "perfbench.pass"
  private val WrittenFiles = "number of written files"
  private val WrittenBytes = "written output"

  final case class Frames(opsFile: String, plans: Boolean, mergeTable: Boolean, graft: Boolean,
      bench: Boolean)

  private val OpsFrame = """graft\.operators\.[\w$.]+\((\w+)\.scala:\d+\)""".r

  /** Attribution from a long call site: the first `graft.operators` frame
    * names the operator file; any `graft.plans` frame marks a loop/pin
    * job; a `graft.streaming.MergeTable` frame marks a table rewrite; a
    * `perfbench.GraftBench` frame marks the benchmark's own result collect. */
  def frames(details: String): Frames = {
    val d = Option(details).getOrElse("")
    Frames(OpsFrame.findFirstMatchIn(d).map(_.group(1)).getOrElse(""),
      d.contains("graft.plans."), d.contains("graft.streaming.MergeTable"),
      d.linesIterator.exists(_.trim.stripPrefix("at ").startsWith("graft.")),
      d.contains("perfbench.GraftBench"))
  }

  final case class Job(id: Int, pass: Int, query: String, startMs: Long, var endMs: Long,
      var ok: Boolean, stageIds: Seq[Int], callSite: String, streamId: String,
      execId: Long, frames: Frames, var skippedStages: Int = 0)

  final case class Stage(id: Int, attempt: Int, job: Int, pass: Int, startMs: Long,
      var endMs: Long = -1L, var tasks: Int = 0, var failedTasks: Int = 0,
      var runMs: Long = 0L, var cpuNs: Long = 0L, var deserMs: Long = 0L,
      var schedDelayMs: Long = 0L, var inputBytes: Long = 0L, var inputRecords: Long = 0L,
      var shuffleReadBytes: Long = 0L, var shuffleWriteBytes: Long = 0L, var spillBytes: Long = 0L)

  final case class Batch(pass: Int, streamId: String, batchId: Long, startMs: Long, inputRows: Long,
      durationMs: Map[String, Long], stateRows: Long, stateBytes: Long)

  final case class Write(execId: Long, pass: Int, files: Long, bytes: Long)
}
