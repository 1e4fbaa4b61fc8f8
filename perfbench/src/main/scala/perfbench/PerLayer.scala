package perfbench

import org.apache.spark.sql.SparkSession

/** The per-layer metric set every traced run reports, with units. A
  * layer a workload does not exercise reports 0 (no streaming in
  * `fx_batch`, no query construction in `fx_stream`). */
object PerLayer {
  val execNames: Seq[String] = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "exec.stage_wall_ms", "exec.task_busy_ms", "exec.sched_delay_ms",
    "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.fetch_wait_ms",
    "exec.spill_bytes", "exec.input_bytes", "exec.gc_ms", "exec.failed_tasks")

  val streamChannels: Seq[String] = Seq("raw_ticks", "ml_features", "heikin_ashi")
  /** The input table and the candle memo sit below `Spread`'s one-partition
    * gate; `above_gate` is a generated candle-shaped frame past it. */
  val spreadTables: Seq[String] = Seq("events", "candles", "above_gate")
  /** The stream-static index serve, probed alone after the tick window. */
  val indexNames: Seq[String] = Seq("index.build_ms", "stream.index_rows_per_busy_s",
    "stream.index_trigger_ms", "stream.emit_p50_ms.index_near_dup",
    "stream.emit_p99_ms.index_near_dup")

  val names: Seq[String] =
    Seq("entry.build_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "codegen.classes", "codegen.compile_ms", "consume.self_ms") ++
      execNames ++ Seq("exec.core_util", "exec.small_task_frac") ++
      spreadTables.flatMap(t => Seq(s"spread.width.$t", s"spread.fits_one_partition.$t")) ++
      Seq("tables.candles_build_ms", "tables.candles_hit_ms", "tables.candles_rows",
        "memo.first_touch_ms", "scratch.bytes", "scratch.files", "scratch.bytes_rewritten",
        "sinks.bytes_written", "sinks.files_written", "sinks.bytes_per_file",
        "jvm.gc_ms", "jvm.heap_after_gc_mb",
        "stream.trigger_ms", "stream.rows_per_busy_s", "stream.add_batch_ms", "stream.query_planning_ms",
        "stream.wal_commit_ms", "stream.latest_offset_ms", "stream.input_rows",
        "stream.backlog_rows", "stream.nonempty_batch_frac", "stream.state_rows",
        "stream.state_bytes", "stream.state_commit_ms", "stream.late_rows_dropped",
        "sink.emit_ms") ++
      streamChannels.flatMap(c => Seq(s"stream.emit_p50_ms.$c", s"stream.emit_p99_ms.$c")) ++
      indexNames ++ Seq("trace.overhead_frac")

  def unit(k: String): String =
    if (k.endsWith("_per_busy_s")) "1/s"
    else if (k.endsWith("_ms")) "ms"
    else if (k.contains("_ms.")) "ms"
    else if (k.endsWith("_bytes") || k == "scratch.bytes" || k == "sinks.bytes_per_file"
      || k == "sinks.bytes_written") "bytes"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k.endsWith("_util")) "ratio"
    else "count"

  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** The `Tables.candles` memo: a build over a fresh copy of the tables,
    * then a second call that hits the memo. */
  def tables(spark: SparkSession, dir: String, probeDir: String): Map[String, Double] = {
    val fresh = Main.freshCopy(dir, probeDir)
    val ((rows, _), build) = timed(graft.BenchAction.consume(graft.Tables.candles(spark, fresh)))
    val (_, hit) = timed(graft.BenchAction.consume(graft.Tables.candles(spark, fresh)))
    Map("tables.candles_build_ms" -> build, "tables.candles_hit_ms" -> hit,
      "tables.candles_rows" -> rows.toDouble)
  }

  /** Rows of the generated frame past the gate: its plan estimate is
    * several target partitions (128 MB each), while nothing is computed. */
  val aboveGateRows = 20000000L

  /** `util/Spread`'s decisions for the input table, the candle memo and
    * a generated frame past the gate. */
  def spread(spark: SparkSession, dir: String): Map[String, Double] = {
    import org.apache.spark.sql.functions._
    val aboveGate = spark.range(aboveGateRows).select(
      concat(lit("PAIR"), (col("id") % 450).cast("string")).as("symbol"),
      timestamp_seconds(col("id") * 60).as("bucket"),
      col("id").cast("double").as("open"), col("id").cast("double").as("high"),
      col("id").cast("double").as("low"), col("id").cast("double").as("close"))
    val frames = Map(
      "events" -> graft.Tables.events(spark, dir),
      "candles" -> graft.Tables.candles(spark, dir),
      "above_gate" -> aboveGate)
    frames.flatMap { case (t, df) =>
      Seq(s"spread.width.$t" -> graft.util.Spread.width(df).toDouble,
        s"spread.fits_one_partition.$t" -> (if (graft.util.Spread.fitsOnePartition(df)) 1.0 else 0.0))
    }
  }
}

/** Facts about the host a run measured on. */
object Host {
  def facts: Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map("nproc" -> Main.cores,
      "mem_total_mb" -> os.getTotalMemorySize / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576)
  }
}
