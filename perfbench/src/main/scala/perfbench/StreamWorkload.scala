package perfbench

import java.time.OffsetDateTime

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.{Channels, StreamCandle}
import Main.{Args, Metric, Outcome, json, median, quantile}

/** `fx_stream`: the live tick channels as an open loop. A rate source
  * emits seeded ticks on schedule at the reference 2 000 ticks/s,
  * whatever the engine's progress, through `Channels.decorateTicks`.
  * Three channels run concurrently on one session:
  *   - `raw_ticks`: the ticks themselves;
  *   - `ml_features`: `Channels.featureStream`, a per-symbol ring buffer
  *     in `flatMapGroupsWithState`;
  *   - `heikin_ashi`: `Channels.heikinAshiStream` over 1:1 tick candles,
  *     a `flatMapGroupsWithState` fold.
  * Every channel emits through a `Channels.RingBufferSink` (the JSON
  * envelope the fan-out serves), so emission time is when a row's
  * envelope is in the buffer, and its latency is emission time minus the
  * row's due time (the rate source's `timestamp`).
  *
  * Set-up (`setup_s`) runs from process start through the session, the
  * channels' start and the first non-empty emission of every channel;
  * the channels then run [[warmUpSeconds]] unmeasured while they work
  * off the rows that arrived during set-up and the JIT compiles their
  * hot paths, and the measured window follows. A traced run then
  * probes `index_near_dup` (`IndexNearDup.nearDupStream`, the
  * stream-static serve of the stored IVF-SQ8 index) alone, at a rate it
  * sustains. Every channel maps rows 1:1, so rows in (the progress'
  * `numInputRows`) must equal rows out (envelopes) for every batch; a
  * mismatch, or a channel that stops, is a failure.
  */
object StreamWorkload {
  val tickRate = 2000
  val symbols = 3
  /** Unmeasured seconds between set-up and the window: latency falls
    * for about this long after the first emission. */
  val warmUpSeconds = 10
  /** Arrival rate and length of the traced `index_near_dup` probe. */
  val vectorRate = 200
  val indexSeconds = 8
  private val ringCapacity = 20000
  /** Every channel polls at the `raw_ticks` cadence. The rate source
    * releases rows once per second; a one-second trigger would add a
    * wait of up to a second whose size is set by the phase between the
    * two clocks, which differs from run to run, not by the engine. */
  val trigger: Trigger = Channels.channelTriggers("raw_ticks")

  /** What each channel emits and which of its columns is the due time. */
  private val dueColumn = Map("raw_ticks" -> "ts", "ml_features" -> "ts",
    "heikin_ashi" -> "bucket", "index_near_dup" -> "ts")

  final case class Batch(channel: String, batchId: Long, rows: Long, emitMs: Long,
                         appendMs: Double, latenciesMs: Seq[Double])

  /** One running set of channels and everything they emitted. */
  final class Live(spark: SparkSession, checkpoints: String) {
    val batches = mutable.ArrayBuffer.empty[Batch]
    val progress = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]
    val started = mutable.Map.empty[String, Long]
    val layers = new SparkLayers(spark)
    private var queries = Seq.empty[(String, StreamingQuery)]

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Live.this.synchronized(progress += ((System.currentTimeMillis(), e.progress)))
    }

    private def emit(name: String, df: DataFrame): StreamingQuery = {
      val sink = new Channels.RingBufferSink(name, ringCapacity)
      val due = dueColumn(name)
      df.writeStream.queryName(name)
        .option("checkpointLocation", s"$checkpoints/$name")
        .trigger(trigger)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val before = sink.totalEmitted
          val t0 = System.nanoTime()
          sink.append(b, id)
          val emitMs = System.currentTimeMillis()
          val appendMs = (System.nanoTime() - t0) / 1e6
          val n = sink.totalEmitted - before
          val lat = sink.snapshot.takeRight(n.toInt).map(e => emitMs - dueMs(e, due).toDouble)
          Live.this.synchronized(batches += Batch(name, id, n, emitMs, appendMs, lat))
          ()
        }.start()
    }

    /** Starts the channels spaced evenly over a second: each channel's
      * rate source releases a second's rows at once, counted from its
      * own start, and even spacing keeps the releases apart in every run
      * instead of letting the start order decide how often they collide. */
    def start(channels: Seq[(String, DataFrame)]): Unit = {
      spark.streams.addListener(listener)
      layers.register()
      val t0 = System.currentTimeMillis()
      queries = channels.zipWithIndex.map { case ((n, df), k) =>
        Thread.sleep(math.max(0L, t0 + k * 1000L / channels.size - System.currentTimeMillis()))
        started(n) = System.currentTimeMillis()
        n -> emit(n, df)
      }
    }

    def emittedBy(name: String): Long = synchronized(batches.filter(_.channel == name).map(_.rows).sum)

    /** Blocks until every channel has emitted a non-empty batch. */
    def awaitFirstEmission(timeoutS: Int): Unit = {
      val end = System.nanoTime() + timeoutS * 1000000000L
      while (!queries.forall(q => emittedBy(q._1) > 0)) {
        stopped.foreach(e => throw new IllegalStateException(e))
        require(System.nanoTime() < end, s"channels silent after $timeoutS s")
        Thread.sleep(20)
      }
    }

    /** Channels that ended on their own, with the reason. */
    def stopped: Seq[String] = queries.collect {
      case (n, q) if !q.isActive => s"$n stopped: ${q.exception.map(_.getMessage.take(300)).getOrElse("")}"
    }

    def stop(): Unit = {
      queries.foreach { case (_, q) => q.stop() }
      queries.foreach { case (_, q) => q.awaitTermination() }
      layers.detach()
      spark.streams.removeListener(listener)
    }

    /** Batches whose emitted rows differ from the rows the engine read. */
    def rowMismatches: Seq[String] = synchronized {
      val in = progress.map(_._2).map(p => (p.name, p.batchId) -> p.numInputRows).toMap
      batches.flatMap { b =>
        in.get((b.channel, b.batchId)).filter(_ != b.rows)
          .map(r => s"${b.channel} batch ${b.batchId}: $r rows in, ${b.rows} out")
      }.toSeq
    }
  }

  /** Due time of an emitted envelope: its payload's `due` field. */
  private def dueMs(envelope: String, field: String): Long = {
    val k = "\"" + field + "\":\""
    val i = envelope.indexOf(k) + k.length
    OffsetDateTime.parse(envelope.substring(i, envelope.indexOf('"', i))).toInstant.toEpochMilli
  }

  private def rate(spark: SparkSession, rps: Int): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", rps.toString).load()

  /** The three tick channels; the seed shifts the tick walk. */
  def tickChannels(spark: SparkSession, seed: Long): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val offset = (seed & 0xfffff) * 1000L
    val tk = Channels.decorateTicks(
      rate(spark, tickRate).withColumn("value", col("value") + offset), symbols)
    val candles = tk.select(col("ts").as("bucket"), col("symbol"), col("bid").as("open"),
      col("ask").as("high"), col("bid").as("low"), col("mid").as("close")).as[StreamCandle]
    Seq("raw_ticks" -> tk,
      "ml_features" -> Channels.featureStream(spark, tk).toDF(),
      "heikin_ashi" -> Channels.heikinAshiStream(spark, candles).toDF())
  }

  /** Seeded 64-d arrivals (the seed salts the generator), ids disjoint
    * from the stored corpus' so no arrival is excluded as itself. */
  def vectorArrivals(spark: SparkSession, seed: Long): DataFrame = {
    val salt = (seed & 0xfffff) * 1000003L
    rate(spark, vectorRate).select((col("value") + 1000000000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        pmod(hash(col("value") + salt, i), lit(997)).cast("double") / lit(498.0) - lit(1.0)).as("v"),
      col("timestamp").as("ts"))
  }

  def run(a: Args): Outcome = {
    val runDir = s"${a.work}/run_${ProcessHandle.current().pid()}"
    val failures = mutable.ArrayBuffer.empty[String]
    // set-up, from process start to every channel's first emission
    val spark = Main.session(a.work)
    val live = new Live(spark, s"$runDir/checkpoints")
    live.start(tickChannels(spark, a.seed))
    live.awaitFirstEmission(120)
    val setupS = (System.currentTimeMillis() - Main.processStartMs) / 1000.0
    Thread.sleep(warmUpSeconds * 1000L)

    // the measured window, on the set-up's channels; a traced run
    // measures its first half untraced and its second half traced
    val w0 = System.currentTimeMillis()
    val mid = w0 + a.seconds * 500L
    val w1 = w0 + a.seconds * 1000L
    val gc0 = JvmLayers.gcMs
    var cg0 = JvmLayers.codegen
    val scratch = new ScratchScan
    var scratchUse = Map.empty[String, Double]
    if (a.trace) {
      Thread.sleep(mid - w0)
      cg0 = JvmLayers.codegen
      scratch.scan()
      live.layers.on = true
      Thread.sleep(w1 - mid)
      scratchUse = scratch.scan() - "scratch.files_rewritten"
    } else Thread.sleep(w1 - w0)
    val codegen = Counters.delta(JvmLayers.codegen, cg0)
    failures ++= live.stopped
    live.stop()
    val gcMs = JvmLayers.gcMs - gc0
    // after the channels stop, so no micro-batch is in flight
    val liveMb = JvmLayers.liveHeapMb()
    failures ++= live.rowMismatches

    val from = if (a.trace) mid else w0
    val inWindow = live.batches.filter(b => b.emitMs >= from && b.emitMs < w1 && b.rows > 0).toSeq
    val lat = inWindow.flatMap(_.latenciesMs)
    val progress = live.progress.filter(p => p._1 >= from && p._1 < w1).map(_._2).toSeq
    val untracedTrigger = live.progress.filter(p => p._1 >= w0 && p._1 < mid).map(_._2)
      .filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").toDouble).toSeq
    val windowS = (w1 - from) / 1000.0
    val index = if (a.trace) Some(indexProbe(spark, a, runDir)) else None
    index.foreach(p => failures ++= p.failures)
    val attempted = live.batches.size.toLong + index.map(_.batches).getOrElse(0L)

    val metrics =
      if (a.trace) (PerLayer.zeros ++ streamLayers(live, inWindow, progress, windowS, untracedTrigger) ++
        Map("jvm.gc_ms" -> gcMs, "jvm.heap_after_gc_mb" -> JvmLayers.heapAfterGcMb) ++
        sparkLayers(live.layers, windowS) ++ codegen ++ scratchUse ++ probes(spark, a.work, runDir) ++
        index.map(_.metrics).getOrElse(Map.empty))
        .map { case (k, v) => k -> Metric(v, PerLayer.unit(k)) }
      else Map(
        "setup_s" -> Metric(setupS, "s"),
        "queries_per_s" -> Metric(delivered(inWindow, from, w1, latencyLimitMs).values.sum, "1/s"),
        "query_p50_s" -> Metric(median(lat) / 1000, "s"),
        "query_p90_s" -> Metric(quantile(lat, 0.9) / 1000, "s"),
        "live_heap_peak_mb" -> Metric(liveMb, "MB"))
    spark.stop()
    BatchWorkload.deleteTree(new java.io.File(runDir))

    val byChannel = inWindow.groupBy(_.channel).map { case (c, bs) =>
      val l = bs.flatMap(_.latenciesMs)
      c -> Map("rows" -> bs.map(_.rows).sum, "batches" -> bs.size,
        "offered_per_s" -> tickRate, "on_time_per_s" -> delivered(inWindow, from, w1, latencyLimitMs).getOrElse(c, 0.0),
        "rows_per_busy_s" -> capacity(progress).getOrElse(c, 0.0),
        "emit_p50_ms" -> median(l), "emit_p99_ms" -> quantile(l, 0.99), "samples" -> l.size)
    }
    val report = json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "host" -> Host.facts,
      "setup_s" -> setupS, "live_heap_mb" -> liveMb, "window_s" -> windowS,
      "sink_append_p50_ms" -> median(inWindow.map(_.appendMs)),
      "batch_log" -> inWindow.sortBy(_.emitMs).map(b => Map("channel" -> b.channel, "at_ms" -> (b.emitMs - from),
        "rows" -> b.rows, "max_latency_ms" -> b.latenciesMs.max, "append_ms" -> b.appendMs)),
      "channels" -> byChannel, "index_near_dup" -> index.map(_.report).getOrElse(Map.empty),
      "metrics" -> metrics, "failures" -> failures.toSeq))
    Outcome(attempted, failures.size.toLong, metrics, report)
  }

  private def sparkLayers(l: SparkLayers, windowS: Double): Map[String, Double] = {
    val c = l.snapshot
    val tasks = c.getOrElse("exec.tasks", 0.0)
    PerLayer.execNames.map(k => k -> c.getOrElse(k, 0.0)).toMap ++ Map(
      "catalyst.analysis_ms" -> c.getOrElse("catalyst.analysis_ms", 0.0),
      "catalyst.optimization_ms" -> c.getOrElse("catalyst.optimization_ms", 0.0),
      "catalyst.planning_ms" -> c.getOrElse("catalyst.planning_ms", 0.0),
      "exec.core_util" -> c.getOrElse("exec.task_busy_ms", 0.0) / (windowS * 1000 * Main.cores),
      "exec.small_task_frac" -> (if (tasks > 0) c.getOrElse("small_tasks", 0.0) / tasks else 0.0))
  }

  /** Rows each channel delivered per second within `limitMs`: rows due
    * in the window up to `limitMs` before its end (by the rate source's
    * `timestamp`) whose emission came at most `limitMs` after their due
    * time, over that span. It cannot exceed the offered rate; it falls
    * below it as rows miss the limit, and further when a channel falls
    * behind. */
  private def delivered(batches: Seq[Batch], from: Long, to: Long,
                        limitMs: Long): Map[String, Double] = {
    val end = to - limitMs
    batches.groupBy(_.channel).map { case (c, bs) =>
      val onTime = bs.flatMap(b => b.latenciesMs.filter(_ <= limitMs).map(l => b.emitMs - l))
        .count(d => d >= from && d < end)
      c -> onTime * 1000.0 / (end - from)
    }
  }
  /** A tick is on time when its envelope is out within 1.5 s of its due
    * time: the rate source's 1 s release period (a row waits up to that
    * long for its release) plus 0.5 s from release to emission. */
  val latencyLimitMs = 1500L

  /** Rows processed per second of busy trigger time: the rows over the
    * summed `triggerExecution` spans, non-empty batches only. Unlike the
    * delivered rates, the engine sets this figure, not the source's
    * schedule, so it moves with per-batch cost whether or not the
    * channels keep up. It is per-layer only: it follows the host's
    * speed, which drifts by a third between runs minutes apart here,
    * and contention between the channels amplifies that drift. */
  private def rowsPerBusyS(ps: Seq[StreamingQueryProgress]): Double = {
    val nonEmpty = ps.filter(_.numInputRows > 0)
    nonEmpty.map(_.numInputRows).sum * 1000.0 /
      nonEmpty.map(_.durationMs.get("triggerExecution").toLong).sum
  }

  /** [[rowsPerBusyS]] of each channel. */
  private def capacity(ps: Seq[StreamingQueryProgress]): Map[String, Double] =
    ps.groupBy(_.name).map { case (c, bs) => c -> rowsPerBusyS(bs) }

  final case class IndexProbe(batches: Long, failures: Seq[String], metrics: Map[String, Double],
                              report: Map[String, Any])

  /** `index_near_dup` alone on the session: the stored index is built
    * over the generated corpus (`index.build_ms`), then seeded arrivals
    * are served at [[vectorRate]] for [[indexSeconds]] after its first
    * emission. */
  private def indexProbe(spark: SparkSession, a: Args, runDir: String): IndexProbe = {
    val data = Main.ensureData(spark, a.work)._1
    val t0 = System.nanoTime()
    val serve = graft.streaming.IndexNearDup.nearDupStream(spark, data, vectorArrivals(spark, a.seed))
    val buildMs = (System.nanoTime() - t0) / 1e6
    val live = new Live(spark, s"$runDir/checkpoints_index")
    live.start(Seq("index_near_dup" -> serve))
    live.awaitFirstEmission(60)
    val w0 = System.currentTimeMillis()
    Thread.sleep(indexSeconds * 1000L)
    val failures = live.stopped
    live.stop()
    val bs = live.batches.filter(b => b.emitMs >= w0 && b.rows > 0).toSeq
    val lat = bs.flatMap(_.latenciesMs)
    val ps = live.progress.filter(_._1 >= w0).map(_._2).toSeq
    val trig = ps.filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").toDouble)
    val metrics = Map(
      "index.build_ms" -> buildMs,
      "stream.index_rows_per_busy_s" -> capacity(ps).getOrElse("index_near_dup", 0.0),
      "stream.index_trigger_ms" -> (if (trig.isEmpty) 0.0 else median(trig)),
      "stream.emit_p50_ms.index_near_dup" -> (if (lat.isEmpty) 0.0 else median(lat)),
      "stream.emit_p99_ms.index_near_dup" -> (if (lat.isEmpty) 0.0 else quantile(lat, 0.99)))
    val verdicts = live.batches.map(_.rows).sum
    IndexProbe(live.batches.size.toLong, failures ++ live.rowMismatches, metrics,
      Map("offered_per_s" -> vectorRate, "rows" -> bs.map(_.rows).sum, "batches" -> bs.size,
        "verdicts_total" -> verdicts,
        "delivered_within_5s_per_s" ->
          delivered(bs, w0, w0 + indexSeconds * 1000L, 5000L).getOrElse("index_near_dup", 0.0),
        "samples" -> lat.size))
  }

  /** The table-side probes, over the generated tables. */
  private def probes(spark: SparkSession, work: String, runDir: String): Map[String, Double] = {
    val data = Main.ensureData(spark, work)._1
    PerLayer.tables(spark, data, s"$runDir/tables_probe") ++ PerLayer.spread(spark, data)
  }

  private def streamLayers(live: Live, batches: Seq[Batch], ps: Seq[StreamingQueryProgress],
      windowS: Double, untracedTrigger: Seq[Double]): Map[String, Double] = {
    val nonEmpty = ps.filter(_.numInputRows > 0)
    def dur(k: String) = {
      val xs = nonEmpty.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
      if (xs.isEmpty) 0.0 else median(xs)
    }
    val states = nonEmpty.flatMap(_.stateOperators)
    val lastState = ps.groupBy(_.name).values.flatMap(_.maxBy(_.batchId).stateOperators)
    // rows due by now minus rows the rate source has handed out (its
    // offsets count whole seconds since the channel started)
    val backlog = ps.flatMap { p =>
      val st = live.started(p.name)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
      p.sources.headOption.flatMap(s => scala.util.Try(s.endOffset.trim.toLong).toOption)
        .map(off => math.max(0.0, ((end - st) / 1000.0 - off) * tickRate))
    }
    val perChannel = PerLayer.streamChannels.flatMap { c =>
      val l = batches.filter(_.channel == c).flatMap(_.latenciesMs)
      Seq(s"stream.emit_p50_ms.$c" -> (if (l.isEmpty) 0.0 else median(l)),
        s"stream.emit_p99_ms.$c" -> (if (l.isEmpty) 0.0 else quantile(l, 0.99)))
    }.toMap
    val traced = dur("triggerExecution")
    perChannel ++ Map(
      "stream.trigger_ms" -> traced,
      "stream.rows_per_busy_s" -> rowsPerBusyS(ps),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.input_rows" -> nonEmpty.map(_.numInputRows).sum.toDouble,
      "stream.backlog_rows" -> (if (backlog.isEmpty) 0.0 else median(backlog)),
      "stream.nonempty_batch_frac" -> (if (ps.isEmpty) 0.0 else nonEmpty.size.toDouble / ps.size),
      "stream.state_rows" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "stream.state_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "stream.state_commit_ms" -> (if (states.isEmpty) 0.0 else median(states.map(_.commitTimeMs.toDouble))),
      "stream.late_rows_dropped" -> states.map(_.numRowsDroppedByWatermark).sum.toDouble,
      "sink.emit_ms" -> (if (batches.isEmpty) 0.0 else median(batches.map(_.appendMs))),
      "trace.overhead_frac" -> (if (untracedTrigger.isEmpty) 0.0 else traced / median(untracedTrigger) - 1.0))
  }
}
