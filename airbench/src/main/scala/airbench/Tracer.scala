package airbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval: workload, pass, op, Spark job or Spark stage. */
final case class Span(kind: String, name: String, startMs: Long, endMs: Long, parent: String)

/** What Spark did for one op, attributed through the op's job group. */
final class OpSpark {
  val jobs = mutable.ArrayBuffer[(Long, Long)]()
  var stages = 0L
  var stagesRetried = 0L
  var tasks = 0L
  var tasksFailed = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var planningMs = 0L
  var blocksWritten = 0L
  var bytesWritten = 0L
  var capDropped = 0L
  /** (action name, seconds, reads a sink) per Dataset action. */
  val actions = mutable.ArrayBuffer[(String, Double, Boolean)]()
  /** stage id → (duration ms, task durations ms). */
  val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val stageDur = mutable.Map[Int, Long]()

  /** Wall time covered by at least one of the op's jobs, clipped to the op. */
  def jobUnionMs(from: Long, to: Long): Long = {
    val iv = jobs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Max ÷ median task time in the op's longest stage (1 when balanced). */
  def taskSkew: Double =
    if (stageDur.isEmpty) 1.0
    else {
      val longest = stageDur.maxBy(_._2)._1
      val ts = stageTasks.getOrElse(longest, mutable.ArrayBuffer[Long]()).sorted
      if (ts.isEmpty) 1.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2)).toDouble
    }
}

/** A `SparkListener` plus a `QueryExecutionListener` that file every job,
  * stage, task, block update and Dataset action under the job group the
  * benchmark set for the running op. Spans stay in memory until the run
  * writes them out. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map[String, OpSpark]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobGroup = mutable.Map[Int, (String, Long)]()
  val spans = mutable.ArrayBuffer[Span]()
  @volatile private var current: String = null

  def begin(group: String): Unit = synchronized {
    byGroup(group) = new OpSpark
    current = group
  }

  /** Call after the listener bus is drained. */
  def end(group: String): OpSpark = synchronized {
    current = null
    byGroup.remove(group).getOrElse(new OpSpark)
  }

  def addSpan(s: Span): Unit = synchronized(spans += s)

  private def acc(group: String): Option[OpSpark] =
    Option(group).flatMap(byGroup.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobGroup(e.jobId) = (g, e.time)
    if (g != null) e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      acc(g).foreach(_.jobs += ((start, e.time)))
      spans += Span("job", s"job ${e.jobId}", start, e.time, g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val g = stageGroup.getOrElse(si.stageId, null)
    acc(g).foreach { a =>
      val m = si.taskMetrics
      a.stages += 1
      if (si.attemptNumber() > 0) a.stagesRetried += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      val (s, c) = (si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
      a.stageDur(si.stageId) = math.max(0L, c - s)
      spans += Span("stage", s"stage ${si.stageId}.${si.attemptNumber()}", s, c, g)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageId, null)).foreach { a =>
      a.tasks += 1
      if (e.reason != Success) a.tasksFailed += 1
      if (e.taskInfo != null)
        a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      if (e.taskMetrics != null)
        a.peakExecMem = math.max(a.peakExecMem, e.taskMetrics.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) acc(current).foreach { a =>
      a.blocksWritten += 1
      a.bytesWritten += b.memSize + b.diskSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      acc(current).foreach { a =>
        a.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
        val readsSink = qe.analyzed.collectLeaves().exists {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName.endsWith("_transformado"))
            case _ => false
          }
          case _ => false
        }
        a.actions += ((funcName, durationNs / 1e9, readsSink))
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.endsWith("_cap")) a.capDropped += row.getAs[Long]("rows_in_dropped_buckets")
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def spansJson: String = synchronized {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.map(s =>
      s"""{"kind":${q(s.kind)},"name":${q(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs},"parent":${if (s.parent == null) "null" else q(s.parent)}}""")
      .mkString("[\n", ",\n", "\n]\n")
  }
}
