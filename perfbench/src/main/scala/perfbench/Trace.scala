package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the executors and the driver did for one operation, gathered from
  * listener events. Times are seconds, sizes bytes.
  */
final class OpStats {
  var jobs, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var bytesRead, shuffleWrite, shuffleRead = 0L
  var spillMem, spillDisk, peakExec = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var writeNs = 0L
  val taskSpans = ArrayBuffer[(Long, Long)]()          // launch, finish (ms)
  val stageTasks = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()

  /** Share of [t0, t1] (ms) during which no task ran. */
  def idleSeconds(t0: Long, t1: Long): Double = {
    val clipped = taskSpans.map { case (a, b) => (a max t0, b min t1) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = t0
    clipped.foreach { case (a, b) =>
      if (b > end) { covered += b - (a max end); end = b }
    }
    ((t1 - t0) - covered) / 1e3
  }

  /** Largest over this operation's stages of the longest task time divided
    * by the median task time, for stages with at least two tasks. */
  def taskSkew: Double = {
    val ratios = stageTasks.values.filter(_.size >= 2).map { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.size / 2).max(1L)
      sorted.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def toMap(t0: Long, t1: Long): Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "run_s" -> runMs / 1e3,
    "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "bytes_read" -> bytesRead,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> (spillMem + spillDisk), "peak_exec" -> peakExec,
    "idle_s" -> idleSeconds(t0, t1), "task_skew" -> taskSkew,
    "analysis_s" -> analysisMs / 1e3, "optimization_s" -> optimizationMs / 1e3,
    "planning_s" -> planningMs / 1e3, "write_s" -> writeNs / 1e9)
}

/** Listener owned by the benchmark. Jobs carry the operation key in a
  * local property; tasks find their operation through their stage. Query
  * phases and block updates carry no properties, so they go to the
  * operation running when they are delivered — the driver drains the bus
  * after every traced operation, which keeps that exact.
  */
final class BenchListener(current: () => String) extends SparkListener
    with QueryExecutionListener {

  val stats = new ConcurrentHashMap[String, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val cached = new ConcurrentHashMap[String, Long]()
  @volatile var peakCacheBytes = 0L

  def stat(key: String): OpStats = stats.computeIfAbsent(key, _ => new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Driver.OpProp)))
      .getOrElse(current())
    e.stageIds.foreach(stageOp.put(_, key))
    val s = stat(key)
    s.synchronized { s.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stat(stageOp.getOrDefault(e.stageId, current()))
    val m = e.taskMetrics
    val info = e.taskInfo
    s.synchronized {
      s.tasks += 1
      s.taskSpans += ((info.launchTime, info.finishTime))
      s.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += info.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.bytesRead += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spillMem += m.memoryBytesSpilled
        s.spillDisk += m.diskBytesSpilled
        s.peakExec = s.peakExec max m.peakExecutionMemory
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      if (info.memSize > 0) cached.put(info.blockId.name, info.memSize)
      else cached.remove(info.blockId.name)
      peakCacheBytes = peakCacheBytes max cached.values.asScala.sum
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val s = stat(current())
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    s.synchronized {
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
      if (funcName == "command" || funcName.startsWith("save") ||
          funcName.startsWith("insert")) s.writeNs += durationNs
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** Spans recorded around each call into a layer, from the benchmark's own
  * code; each is a child of the operation that made the call. Disabled,
  * `span` only runs its body.
  */
final class Tracer {
  @volatile var enabled = false
  private val spans = ArrayBuffer[(String, Double)]()   // name, seconds

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans += ((name, (System.nanoTime() - t0) / 1e9))
    }

  /** The spans of the operation that just ended. */
  def take(): Seq[(String, Double)] = { val out = spans.toSeq; spans.clear(); out }
}
