package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Shuffle/IO telemetry main: one JSON file with per-query BYTE costs
  * (shuffle read/write, spill, input scan, executor task time) at
  * `SPARK_GRAFT_SF_DIR`.
  *
  * Wall-clock on this shared VM carries 2–8× host noise
  * (BENCH_FULL's min/max bands exist to price that in); bytes do not —
  * a query's shuffle volume is a pure function of its plan and its
  * data, so a single measured pass is exact and two scale factors give
  * an exact growth ratio. That ratio is the 100 TB question asked
  * directly: a query whose shuffle bytes grow 10× on 10× data is
  * linear in the sense that matters for a 1000-executor cluster (the
  * wire cost of its exchanges), and one that grows 100× has a pair
  * blowup no wall-clock measurement on 32 local threads would expose
  * as crisply.
  *
  * Methodology mirrors [[Bench]]: a cold pass materializes every
  * shared memo (signature/corpus/candle indexes), then ONE measured
  * pass over `SparkEntry.benchImpls` (index-serving queries run their
  * build plan) snapshots listener deltas per query — so a query's row
  * is its steady-state marginal cost, with index builds attributed to
  * the index's own query, exactly like the bench's warm pass.
  *
  * Metrics come from stage-completed listener events (the same
  * aggregates the Spark UI shows). Listener delivery is async, so each
  * query waits for job-count quiescence plus a stable snapshot before
  * reading its delta; `sum_peak_exec_mem` sums per-stage aggregated
  * task peaks (an upper bound on concurrent execution memory, not a
  * true high-water mark — named accordingly).
  *
  * Output file is suffixed with the SF directory's basename
  * (SHUFFLE_sf0.1.json) so multi-SF runs can never clobber each other
  * — the BENCH_FULL single-name overwrite trap, dodged structurally.
  */
object ShuffleAudit {

  /** One completed stage: task count, submit-to-complete wall and
    * summed task time — wall ≈ task time means the stage ran without
    * parallelism (the single-task hot stage). */
  final case class Stage(name: String, tasks: Int, wallMs: Long, taskTimeMs: Long)

  /** Accumulates stage-level task metrics; two [[MetricsListener.quiesce]]
    * snapshots bracket a query. */
  final class MetricsListener extends SparkListener {
    private val jobsStarted = new AtomicLong
    private val jobsEnded = new AtomicLong
    // one lock guards the sums; stage events on the listener bus are
    // single-threaded but `snapshot` races them from the main thread
    private object lock
    private var shuffleRead = 0L
    private var shuffleWrite = 0L
    private var spillMem = 0L
    private var spillDisk = 0L
    private var inputRead = 0L
    private var taskTimeMs = 0L
    private var peakMemSum = 0L
    private var tasks = 0L
    private val stageLog = scala.collection.mutable.ArrayBuffer.empty[Stage]

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobsStarted.incrementAndGet(); () }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) lock.synchronized {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        inputRead += m.inputMetrics.bytesRead
        taskTimeMs += m.executorRunTime
        peakMemSum += m.peakExecutionMemory
        tasks += si.numTasks
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
        stageLog += Stage(si.name, si.numTasks, wall, m.executorRunTime)
      }
    }

    final case class Snap(shuffleRead: Long, shuffleWrite: Long, spillMem: Long,
        spillDisk: Long, inputRead: Long, taskTimeMs: Long, peakMemSum: Long,
        stages: Long, tasks: Long, jobs: Long)

    def snapshot(): Snap = lock.synchronized {
      Snap(shuffleRead, shuffleWrite, spillMem, spillDisk, inputRead,
        taskTimeMs, peakMemSum, stageLog.size.toLong, tasks, jobsEnded.get)
    }

    /** The stages completed between two snapshots. */
    def stagesBetween(from: Snap, to: Snap): Seq[Stage] = lock.synchronized {
      stageLog.slice(from.stages.toInt, to.stages.toInt).toSeq
    }

    /** Waits until all submitted jobs' end events have been delivered
      * AND two consecutive snapshots agree (stage-completed events for
      * a job's last stage can trail its job-end event). Returns the
      * snapshot plus whether it actually SETTLED: on timeout the last
      * snapshot may still be missing a straggling stage, whose bytes
      * would then bleed into the next query's delta — the flag is
      * recorded per row so such deltas are distinguishable in the
      * committed artifact instead of silently corrupt. */
    def quiesce(timeoutMs: Long = 10000): (Snap, Boolean) = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      var prev = snapshot()
      var settled = false
      while (!settled && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val cur = snapshot()
        settled = jobsEnded.get == jobsStarted.get && cur == prev
        prev = cur
      }
      (prev, settled)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ordered = Bench.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = EngineConf.session()
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // cold pass: materialize every shared memo so measured deltas are
    // marginal cost (same attribution contract as Bench's cold pass)
    ordered.foreach { case (name, fn) =>
      try { BenchAction.consume(fn(spark, sfDir)); () }
      catch { case _: Throwable => failed += name }
    }

    val impls = SparkEntry.benchImpls
    val rows = ordered.map { case (name, fn) =>
      val (before, settledBefore) = listener.quiesce()
      val t0 = System.nanoTime()
      try { BenchAction.consume(impls.getOrElse(name, fn)(spark, sfDir)); () }
      catch { case _: Throwable => failed += name }
      val wallSec = (System.nanoTime() - t0) / 1e9
      val (after, settledAfter) = listener.quiesce()
      name -> Map(
        "settled" -> (if (settledBefore && settledAfter) 1L else 0L),
        "shuffle_read" -> (after.shuffleRead - before.shuffleRead),
        "shuffle_write" -> (after.shuffleWrite - before.shuffleWrite),
        "spill_mem" -> (after.spillMem - before.spillMem),
        "spill_disk" -> (after.spillDisk - before.spillDisk),
        "input_read" -> (after.inputRead - before.inputRead),
        "task_time_ms" -> (after.taskTimeMs - before.taskTimeMs),
        "sum_peak_exec_mem" -> (after.peakMemSum - before.peakMemSum),
        "stages" -> (after.stages - before.stages),
        "jobs" -> (after.jobs - before.jobs),
        "wall_ms" -> (wallSec * 1000).toLong)
    }

    def obj(m: Map[String, Long]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfName = new java.io.File(sfDir).getName
    val out = s"SHUFFLE_$sfName.json"
    val fw = new java.io.PrintWriter(out)
    try fw.println(s"""{"sf":"$sfDir","n_queries":${rows.size},"errors":$errs,"queries":${
      rows.map { case (k, v) => "\"" + k + "\":" + obj(v) }.mkString("{", ",", "}")}}""")
    finally fw.close()
    val totSR = rows.map(_._2("shuffle_read")).sum
    val totSW = rows.map(_._2("shuffle_write")).sum
    val totSpill = rows.map(r => r._2("spill_mem") + r._2("spill_disk")).sum
    spark.stop()
    println(s"""{"metric":"shuffle_audit","out":"$out","n_queries":${rows.size},"n_errors":${failed.size},"shuffle_read_mb":${totSR / 1048576},"shuffle_write_mb":${totSW / 1048576},"spill_mb":${totSpill / 1048576}}""")
  }
}
