package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one job group (one op, one kernel pass, ...). */
final class GroupStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  /** (submission ms, completion ms, slowest task ms) per completed stage. */
  val stageSpans = ArrayBuffer[(Long, Long, Long)]()

  /** Slowest task's share of the wall of the group's longest stage. */
  def maxTaskShare: Double =
    if (stageSpans.isEmpty) 0.0
    else {
      val (s, e, slowest) = stageSpans.maxBy(t => t._2 - t._1)
      if (e > s) slowest.toDouble / (e - s) else 1.0
    }

  /** Milliseconds covered by at least one stage of the group. */
  def stageUnionMs: Long =
    Tracer.covered(stageSpans.toSeq.map(t => (t._1, t._2)))
}

/** One listener for every Spark-level number the benchmark reports: task
  * metrics and stage intervals are keyed by the job group each op sets,
  * and parquet write commands are timed per save mode (overwrite = data
  * write, append = commit marker). Callers read a group's numbers after
  * [[org.apache.spark.PerfbenchBus.drain]], so no event is still in flight.
  */
final class OpListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val slowestTask = new ConcurrentHashMap[(Int, Int), java.lang.Long]()

  def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val st = stats(g)
    st.synchronized { st.jobs += 1 }
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stats(stageGroup.getOrDefault(e.stageId, "none"))
    val m = e.taskMetrics
    slowestTask.merge((e.stageId, e.stageAttemptId),
      java.lang.Long.valueOf(e.taskInfo.duration),
      (a, b) => java.lang.Long.valueOf(math.max(a, b)))
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.diskBytesSpilled
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val st = stats(stageGroup.getOrDefault(info.stageId, "none"))
    val slowest = Option(slowestTask.remove((info.stageId, info.attemptNumber())))
      .map(_.longValue).getOrElse(0L)
    st.synchronized {
      st.stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        st.stageSpans += ((s, c, slowest))
    }
  }

  // ---- parquet write commands, in arrival order ----
  private val writes = ArrayBuffer[(String, Boolean, Double)]()

  /** (output path, isAppend, seconds) of every file write since the last
    * call, then forgets them.
    */
  def takeWrites(): Seq[(String, Boolean, Double)] = writes.synchronized {
    val out = writes.toSeq
    writes.clear()
    out
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c }
        .orElse(qe.commandExecuted.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand => c })
        .foreach { c =>
          writes.synchronized {
            writes += ((c.outputPath.toString,
              c.mode == org.apache.spark.sql.SaveMode.Append, durationNs / 1e9))
          }
        }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}
