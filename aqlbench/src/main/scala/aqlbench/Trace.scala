package aqlbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch milliseconds with a fractional
  * part (nanoTime-based, anchored once), so benchmark spans and Spark's
  * job times share one clock. `op` is the client operation the span
  * belongs to; `parent` is 0 for an operation's root span.
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double, attrs: Map[String, Any] = Map.empty) {
  def dur: Double = (end - start) / 1000.0 // seconds
}

/** Span recorder. Recording is on only while `on` is set; spans are kept
  * in memory and written out once, when the run ends.
  */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()

  def nextId(): Long = ids.incrementAndGet()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def add(s: Span): Unit = if (on) buf.add(s)

  /** Times `f` as a span named `name` of operation `op` under `parent`. */
  def span[A](name: String, op: Long, parent: Long)(f: Long => A): A = {
    val id = nextId()
    val t0 = nowMs()
    try f(id)
    finally add(Span(id, parent, op, name, t0, nowMs()))
  }

  def spans: Seq[Span] = buf.asScala.toSeq
}

/** Benchmark-side SparkListener: per-job Spark counters, attributed to the
  * client operation through the `aqlbench.op` local property that the
  * benchmark sets on the thread calling into the engine.
  *
  * A job is classified from its SQL execution and call site as
  * `checkpoint` (an eager localCheckpoint), `listing` (parallel file
  * listing), `write` (a file-writing execution) or `other`.
  */
final class SparkCounters extends SparkListener {

  final class Job(val id: Int, val op: Long, val start: Double,
      val stages: Seq[Int], val execId: Long, val site: String,
      val desc: String) {
    var end = Double.NaN
    var cls = "other"
    val done = mutable.Set.empty[Int]
    var tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, delayMs = 0L
    var inBytes, shReadBytes, shWriteBytes, spillBytes, outBytes = 0L
    def skipped: Int = stages.count(s => !done(s))
  }

  final class Exec(val id: Long, val isWrite: Boolean) {
    var end = Double.NaN
    var lastJobEnd = Double.NaN
  }

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val execs = mutable.Map.empty[Long, Exec]
  private var cached = 0L

  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq)
  def execsSeq: Seq[Exec] = synchronized(execs.values.toSeq)
  def cachedBytes: Long = synchronized(cached)

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val plan = Option(s.physicalPlanDescription).getOrElse("")
        execs(s.executionId) = new Exec(s.executionId,
          plan.contains("InsertIntoHadoopFsRelationCommand") ||
            plan.contains("WriteFiles") ||
            plan.contains("SaveIntoDataSourceCommand"))
      case end: SparkListenerSQLExecutionEnd =>
        execs.get(end.executionId).foreach(_.end = end.time.toDouble)
      case _ => ()
    }
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val p = Option(js.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val op = scala.util.Try(prop("aqlbench.op").toLong).getOrElse(0L)
    val exec = scala.util.Try(prop("spark.sql.execution.id").toLong).getOrElse(-1L)
    // the result stage is named after the job's call site, e.g.
    // "localCheckpoint at NearDup.scala:116"
    val site = js.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val j = new Job(js.jobId, op, js.time.toDouble, js.stageIds, exec,
      site, prop("spark.job.description"))
    j.cls =
      if (j.desc.startsWith("Listing leaf files")) "listing"
      else if (j.site.startsWith("localCheckpoint") ||
        j.site.startsWith("checkpoint")) "checkpoint"
      else if (execs.get(exec).exists(_.isWrite)) "write"
      else "other"
    jobsById(js.jobId) = j
    js.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(je.jobId).foreach { j =>
      j.end = je.time.toDouble
      execs.get(j.execId).foreach { x =>
        if (x.lastJobEnd.isNaN || j.end > x.lastJobEnd) x.lastJobEnd = j.end
      }
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(sc.stageInfo.stageId).foreach(_.done += sc.stageInfo.stageId)
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(te.stageId).foreach { j =>
      j.tasks += 1
      if (!te.taskInfo.successful) j.failedTasks += 1
      val m = te.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.delayMs += math.max(0L, te.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        j.inBytes += m.inputMetrics.bytesRead
        j.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit =
    synchronized {
      val i = bu.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        cached += i.memSize + i.diskSize
    }
}
