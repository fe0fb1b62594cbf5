package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: its kind (read / write), wall window, and the
  * process CPU, GC and JIT time spent inside it. */
final case class OpRec(id: Long, kind: String, name: String,
                       startMs: Long, endMs: Long, wallNs: Long,
                       cpuNs: Long, gcMs: Long, jitMs: Long, stealShare: Double)

final case class JobRec(id: Int, op: Option[Long], start: Long, var end: Long,
                        stages: Seq[Int])

/** Everything Spark did on behalf of one operation. */
final case class OpSpark(jobs: Int, stages: Int, tasks: Int, taskCpuMs: Double,
                         taskRunMs: Double, shuffleWriteB: Long,
                         shuffleReadB: Long, inputB: Long, jobUnionMs: Long,
                         phases: Map[String, Long])

final case class StageRec(tasks: Int, cpuNs: Long, runMs: Long,
                          shuffleWrite: Long, shuffleRead: Long, input: Long)

/** Observers of the engine through Spark's public listener APIs only:
  * jobs and stage task metrics (`SparkListener`), query planning phases
  * (`QueryExecutionListener`) and streaming progress
  * (`StreamingQueryListener`). Each job carries the id of the operation
  * that submitted it (a thread-local job property inherited by the
  * threads that operation starts), so checks run between operations
  * are never charged to them. */
final class Probe(spark: SparkSession) {
  val OpProperty = "perfbench.op"

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageRec]
  /** (analysis start ms, phase -> ms) of every executed query. */
  private val planning = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  /** streaming query run id -> summed progress durations. */
  private val progress = mutable.HashMap.empty[String, mutable.Map[String, Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .filter(_.nonEmpty).map(_.toLong)
      jobs(e.jobId) = JobRec(e.jobId, op, e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null)
        stages(si.stageId) = StageRec(si.numTasks, m.executorCpuTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.inputMetrics.bytesRead)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }
      val start = qe.tracker.phases.get("analysis").map(_.startTimeMs)
        .getOrElse(System.currentTimeMillis())
      Probe.this.synchronized { planning += start -> ph }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val acc = progress.getOrElseUpdate(e.progress.runId.toString, mutable.HashMap.empty)
        e.progress.durationMs.asScala.foreach { case (k, v) =>
          acc(k) = acc.getOrElse(k, 0L) + v.longValue
        }
      }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  def clear(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); planning.clear(); progress.clear()
  }

  def forOp(op: OpRec): OpSpark = synchronized {
    val js = jobs.values.filter(_.op.contains(op.id)).toSeq
    val ss = js.flatMap(j => j.stages.filter(s => stageJob.get(s).contains(j.id)))
      .flatMap(stages.get)
    val union = unionLength(js.map(j => (j.start, if (j.end < 0) op.endMs else j.end)))
    val ph = planning.filter { case (t, _) => t >= op.startMs && t <= op.endMs }
      .map(_._2).foldLeft(Map.empty[String, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
      }
    OpSpark(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum / 1e6,
      ss.map(_.runMs).sum.toDouble, ss.map(_.shuffleWrite).sum,
      ss.map(_.shuffleRead).sum, ss.map(_.input).sum, union, ph)
  }

  /** Summed streaming progress durations of the given query run ids. */
  def progressOf(ids: Seq[String]): Map[String, Long] = synchronized {
    ids.flatMap(progress.get).flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Process-level counters read through the JVM's management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def processCpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(_.getCollectionTime).filter(_ >= 0).sum
  def jitMs: Long = if (jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else 0L
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Heap in use right after a full collection. Collected twice, a
    * moment apart, so blocks Spark's cleaner releases in reaction to
    * the first collection are gone too. */
  def heapAfterGcBytes: Long = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def maxHeapBytes: Long = Runtime.getRuntime.maxMemory
  def cores: Int = Runtime.getRuntime.availableProcessors
}
