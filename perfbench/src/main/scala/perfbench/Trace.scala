package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval: a layer boundary around a call into the library,
  * or a Spark job reported by the listener. `op` is the operation the
  * span belongs to (also the Spark job group of that operation). */
final case class Span(name: String, op: String, parent: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Everything the benchmark-side listener learns about one Spark job. */
final class JobRec(val jobId: Int, val op: String, val phase: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
}

/** Aggregated task metrics of one completed stage. */
final case class StageRec(
    stageId: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    resultBytes: Long, inBytes: Long, inRows: Long, scanTasks: Int,
    shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long, skew: Double)

/** Benchmark-side `SparkListener`: keys every job by the job group the
  * benchmark sets per operation (`Par` threads inherit it), and keeps
  * per-stage task aggregates, per-task run times (for skew) and the
  * cached-block footprint. Nothing here runs inside the library. */
final class BenchListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val taskRuns = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
  private val taskScans = new ConcurrentHashMap[Int, AtomicLong]()
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cached = new AtomicLong(0L)
  val cachePeak = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val r = new JobRec(e.jobId, prop("spark.jobGroup.id"), prop(Tracer.PhaseKey), e.time)
    e.stageIds.foreach(s => r.stages.add(s))
    jobs.put(e.jobId, r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskRuns.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
      if (m.inputMetrics.bytesRead > 0 || m.inputMetrics.recordsRead > 0)
        taskScans.computeIfAbsent(e.stageId, _ => new AtomicLong()).incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val runs = Option(taskRuns.remove(si.stageId)).map(_.asScala.toVector.sorted).getOrElse(Vector.empty)
    val skew = if (runs.size < 2) 1.0 else {
      val med = runs(runs.size / 2).toDouble
      runs.last / math.max(med, 1.0)
    }
    val scans = Option(taskScans.remove(si.stageId)).map(_.get.toInt).getOrElse(0)
    if (m != null) {
      val sr = m.shuffleReadMetrics
      stages.put(si.stageId, StageRec(si.stageId, si.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.resultSize, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, scans, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, skew))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val size = b.memSize + b.diskSize
      val prev = Option(if (size == 0) blocks.remove(key) else blocks.put(key, size))
      val now = cached.addAndGet(size - prev.map(_.longValue).getOrElse(0L))
      cachePeak.accumulateAndGet(now, math.max)
    }
  }

  /** Starts a pass with nothing cached: every operation's clean-up
    * unpersists what it left, also while the listener was detached. */
  def resetCache(): Unit = { blocks.clear(); cached.set(0L); cachePeak.set(0L) }

  /** Waits until the end of the job run in `group` has been delivered;
    * false if it has not arrived within `timeoutMs`. */
  def awaitGroupEnd(group: String, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def ended = jobs.values.asScala.exists(j => j.op == group && j.endMs >= 0)
    while (!ended && System.nanoTime() < deadline) Thread.sleep(5)
    ended
  }
}

/** Span recorder and job-group setter. With tracing off, `span` only
  * runs its body and no listener is attached, so the untimed and
  * timed code paths are the same calls in the same order. */
final class Tracer(val sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
  val listener: Option[BenchListener] = if (enabled) Some(new BenchListener) else None
  private var current = ""
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nanoToEpochMs(ns: Long): Double = ns / 1e6 + epochOffsetMs
  private val parents = mutable.Stack.empty[String]

  private var markers = 0

  def attach(): Unit = listener.foreach(sc.addSparkListener)

  /** Stops listening after a traced pass. Spark delivers listener
    * events asynchronously, in the order they were posted, so the last
    * jobs of the pass may still be queued: a one-task marker job runs
    * after the pass, and the listener is removed only once that job's
    * end has arrived, which means every earlier event has too. */
  def detach(): Unit = listener.foreach { l =>
    markers += 1
    val group = s"${Tracer.MarkerGroup}$markers"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val arrived = l.awaitGroupEnd(group, timeoutMs = 60000)
    sc.removeSparkListener(l)
    if (!arrived) throw new IllegalStateException(
      "listener events of a traced pass did not arrive: its per-layer figures would be incomplete")
  }

  /** Starts an operation: its id becomes the Spark job group. */
  def beginOp(op: String): Unit = {
    current = op
    sc.setJobGroup(op, op, interruptOnCancel = false)
  }
  def endOp(): Unit = sc.clearJobGroup()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      sc.setLocalProperty(Tracer.PhaseKey, name)
      val parent = parents.headOption.getOrElse("")
      parents.push(name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        parents.pop()
        sc.setLocalProperty(Tracer.PhaseKey, parents.headOption.orNull)
        spans += Span(name, current, parent, t0, t1)
      }
    }

  /** Adds a count (ops, statements, bytes) to the current operation. */
  def count(name: String, v: Double): Unit = if (enabled) counts((current, name)) += v
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val MarkerGroup = "perfbench.marker-"
}
