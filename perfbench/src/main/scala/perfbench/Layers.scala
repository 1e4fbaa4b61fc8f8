package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters that only grow; a layer's cost over an interval is the
  * difference of two snapshots. */
final class Counters {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = synchronized(m.toMap)
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
  def sum(ms: Iterable[Map[String, Double]]): Map[String, Double] =
    ms.foldLeft(Map.empty[String, Double]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
    }
}

/** Scheduler and Catalyst counters, fed by Spark's public listener
  * interfaces: a [[SparkListener]] for jobs, stages and tasks, and a
  * [[QueryExecutionListener]] whose `QueryExecution.tracker` carries the
  * analysis, optimization and planning spans of every executed plan. */
final class SparkLayers(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val counters = new Counters
  private val jobStart = mutable.Map.empty[Int, Long]
  private val smallTask = 1L << 20
  /** Events count only while on; registering early lets sessions cloned
    * later (each streaming query's) inherit the Catalyst listener. */
  @volatile var on = false
  private object c {
    def add(k: String, v: Double): Unit = if (on) counters.add(k, v)
  }
  def snapshot: Map[String, Double] = counters.snapshot

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def attach(): Unit = { register(); on = true }
  def detach(): Unit = {
    drain()
    on = false
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c.add("exec.jobs", 1)
    synchronized(jobStart(e.jobId) = e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(jobStart.remove(e.jobId)).foreach(t0 => c.add("job_wall_ms", e.time - t0))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    c.add("exec.stages", 1)
    for (a <- s.submissionTime; b <- s.completionTime) c.add("exec.stage_wall_ms", b - a)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c.add("exec.tasks", 1)
    if (e.reason != org.apache.spark.Success) c.add("exec.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val in = m.inputMetrics.bytesRead
      val rd = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.add("exec.task_busy_ms", m.executorRunTime)
      c.add("exec.sched_delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
      c.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      c.add("exec.shuffle_read_bytes", rd)
      c.add("exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      c.add("exec.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      c.add("exec.input_bytes", in)
      c.add("exec.gc_ms", m.jvmGCTime)
      c.add("sinks.bytes_written", m.outputMetrics.bytesWritten)
      if (in + rd < smallTask) c.add("small_tasks", 1)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      p.get(k).foreach(s => c.add(s"catalyst.${k}_ms", s.durationMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

/** JVM-wide layers read from static sources: Spark's generated-code
  * metrics and the GC MXBeans. */
object JvmLayers {
  /** Generated classes and compile time so far. The compile-time
    * histogram keeps a decaying sample, so its total is estimated as
    * count × sample mean. */
  def codegen: Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Map("codegen.classes" -> CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount.toDouble,
      "codegen.compile_ms" -> h.getCount * h.getSnapshot.getMean)
  }

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use after each pool's most recent collection, summed over
    * the heap pools (`MemoryPoolMXBean` collection usage), in MB. */
  def heapAfterGcMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0

  /** Live heap: the least occupancy left by three full collections, each
    * followed by a pause in which Spark's context cleaner drops the
    * blocks, broadcasts and shuffles the collection found unreachable. */
  def liveHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(200)
      used
    }.min
}

/** The engine's scratch tables (`graft.util.Scratch`): every
  * `graft_*_<pid>` directory this process wrote under java.io.tmpdir. */
final class ScratchScan {
  private val pid = ProcessHandle.current().pid().toString
  private var seen = Map.empty[String, (Long, Long)]

  private def files: Map[String, (Long, Long)] = {
    val root = new File(System.getProperty("java.io.tmpdir"))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    Option(root.listFiles()).toSeq.flatten
      .filter(d => d.getName.startsWith("graft_") && d.getName.endsWith("_" + pid))
      .flatMap(walk).map(f => f.getPath -> ((f.length(), f.lastModified())))
      .toMap
  }

  /** Totals now, plus what was written or rewritten since the last call. */
  def scan(): Map[String, Double] = {
    val now = files
    val changed = now.filter { case (p, v) => !seen.get(p).contains(v) }
    seen = now
    Map("scratch.bytes" -> now.values.map(_._1).sum.toDouble,
      "scratch.files" -> now.size.toDouble,
      "scratch.bytes_rewritten" -> changed.values.map(_._1).sum.toDouble,
      "scratch.files_rewritten" -> changed.size.toDouble)
  }
}
