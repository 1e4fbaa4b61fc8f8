package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import Main.{Args, Metric, Outcome, json, median, quantile}

/** `fx_batch`: the paper's batch path — candles, indicators, backtests
  * and the stored indicator / candle tables — as a closed loop. One
  * client issues the next query when the previous one returns, through
  * the public entry points (`SparkEntry.queries(name)(spark, dir)`, then
  * `BenchAction.consume`).
  *
  * A run is:
  *   1. one set-up, timed from process start (`setup_s`): JVM start, a
  *      session through `EngineConf.tune`, a fresh copy of the tables
  *      (so every dir-keyed memo and stored table is rebuilt), the
  *      `Tables.candles` memo and the shared memos, then a first-touch
  *      pass over every query's public entry in a seeded order, which
  *      carries the first code generation. Generating the tables, when
  *      a checkout has none yet, is timed on its own and left out.
  *   2. [[warmUpSweeps]] unmeasured warm sweeps: sweep time keeps
  *      falling over the first few after the first touch while the JIT
  *      compiles the hot paths.
  *   3. warm sweeps until `--seconds` have passed. Queries that serve a
  *      shared memo run their build plan (`SparkEntry.benchImpls`), as
  *      `graft.Bench` does. Each sweep visits every query once, in its
  *      own seeded order, and only whole sweeps are counted.
  *
  * Every sample's (rows, checksum) is compared with the reference
  * recorded at the commit that defined the benchmark; a query that
  * throws or differs counts as failed.
  */
object BatchWorkload {
  /** Candles, resampling, statistics, indicators, backtests, as-of joins
    * and the composed pipeline — all over the `Tables.candles` memo. */
  val reads: Seq[String] = Seq("candles_build", "a4_resample_4h", "a9_outliers", "w6_macd",
    "w17_adx", "w24_roll_stats", "w34_backtest", "j8_asof_exec", "pipeline_full")
  /** The stored-table step: indicator and aggregate tables written
    * through `sources/Sinks` under `util/Scratch` and read back. */
  val mutates: Seq[String] = Seq("k3_indicator_roundtrip", "k7_json_roundtrip")
  val queries: Seq[String] = reads ++ mutates
  /** Queries whose public entry builds a memo other queries share. */
  val memoBuilders: Seq[String] = queries.filter(graft.SparkEntry.benchImpls.contains)
  val warmUpSweeps = 3

  type Query = (SparkSession, String) => DataFrame
  def publicEntry(n: String): Query = graft.SparkEntry.queries(n)
  def warmEntry(n: String): Query = graft.SparkEntry.benchImpls.getOrElse(n, publicEntry(n))

  /** One call of one query: construction span, consume span, result. */
  final case class Sample(name: String, buildMs: Double, consumeMs: Double,
                          result: Either[String, (Long, Long)]) {
    def seconds: Double = (buildMs + consumeMs) / 1000
  }

  def call(spark: SparkSession, dir: String, name: String, q: Query): Sample = {
    val t0 = System.nanoTime()
    try {
      val df = q(spark, dir)
      val t1 = System.nanoTime()
      val r = graft.BenchAction.consume(df)
      Sample(name, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, Right(r))
    } catch {
      case e: Throwable =>
        Sample(name, 0.0, (System.nanoTime() - t0) / 1e6, Left(e.toString.take(300)))
    }
  }

  def order(seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(queries)

  /** Reference (rows, checksum) per query, for the public entry and for
    * the build-plan variant the warm sweeps run. */
  final case class Reference(public: Map[String, (Long, Long)], warm: Map[String, (Long, Long)])

  def loadReference(path: String): Reference = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    def side(k: String): Map[String, (Long, Long)] = {
      val n = root.get(k)
      queries.map(q => q -> ((n.get(q).get("rows").asLong, n.get(q).get("checksum").asLong))).toMap
    }
    Reference(side("public"), side("warm"))
  }

  def run(a: Args): Outcome =
    a.record match {
      case Some(path) => record(a, path)
      case None       => measure(a)
    }

  private def refPath = "perfbench/reference/fx_batch.json"

  private def measure(a: Args): Outcome = {
    val ref = loadReference(refPath)
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    def check(s: Sample, expect: Map[String, (Long, Long)]): Unit = {
      attempted += 1
      s.result match {
        case Left(err) => failures += s"${s.name}: threw $err"
        case Right(r) if r != expect(s.name) =>
          failures += s"${s.name}: (rows, checksum) $r, reference ${expect(s.name)}"
        case _ =>
      }
    }
    val runDir = s"${a.work}/run_${ProcessHandle.current().pid()}"

    // set-up, from process start: a session, a fresh copy of the tables,
    // the shared memos built over it (the candle memo and the stored
    // tables of the memo-serving queries) and the first touch of every
    // query through its public entry
    val spark = Main.session(a.work)
    val (data, genS) = Main.ensureData(spark, a.work)
    val dir = Main.freshCopy(data, s"$runDir/data")
    val b0 = System.nanoTime()
    graft.BenchAction.consume(graft.Tables.candles(spark, dir))
    memoBuilders.foreach(n => check(call(spark, dir, n, publicEntry(n)), ref.public))
    val memoMs = (System.nanoTime() - b0) / 1e6
    val firstTouch = order(a.seed, 0).map(n => call(spark, dir, n, publicEntry(n)))
    val setupS = (System.currentTimeMillis() - Main.processStartMs) / 1000.0 - genS
    firstTouch.foreach(check(_, ref.public))
    val liveMb = mutable.ArrayBuffer(JvmLayers.liveHeapMb())

    val layers = new SparkLayers(spark)
    val scratch = new ScratchScan
    val samples = mutable.ArrayBuffer.empty[Sample]
    val sweepWall = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Sample, Map[String, Double])]
    val tracedSweeps = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    var untracedSweep = Double.NaN
    def sweep(pass: Int, trace: Boolean): Double = {
      val s0 = System.nanoTime()
      order(a.seed, pass).foreach { n =>
        if (trace) {
          layers.drain()
          val before = layers.snapshot ++ JvmLayers.codegen
          val s = call(spark, dir, n, warmEntry(n))
          layers.drain()
          val d = Counters.delta(layers.snapshot ++ JvmLayers.codegen, before)
          traced += ((s, d))
          check(s, ref.warm)
        } else {
          val s = call(spark, dir, n, warmEntry(n))
          samples += s
          check(s, ref.warm)
        }
      }
      (System.nanoTime() - s0) / 1e9
    }

    // unmeasured warm sweeps: the first ones after the first touch
    // still carry JIT warm-up
    val warmUp = (1 to warmUpSweeps).map(i => sweep(-1000 * i, trace = false))
    samples.clear()
    val m0 = System.nanoTime()
    var pass = 0
    if (!a.trace) {
      while (pass == 0 || (System.nanoTime() - m0) / 1e9 < a.seconds) {
        pass += 1
        sweepWall += sweep(pass, trace = false)
      }
    } else {
      pass += 1
      untracedSweep = sweep(pass, trace = false)
      layers.attach()
      scratch.scan()
      while (tracedSweeps.isEmpty || (System.nanoTime() - m0) / 1e9 < a.seconds) {
        pass += 1
        val gc0 = JvmLayers.gcMs
        val w = sweep(pass, trace = true)
        tracedSweeps += ((w, scratch.scan() ++ Map("jvm.gc_ms" -> (JvmLayers.gcMs - gc0),
          "jvm.heap_after_gc_mb" -> JvmLayers.heapAfterGcMb)))
      }
      layers.detach()
    }
    liveMb += JvmLayers.liveHeapMb()
    val perLayer = if (a.trace) tracedLayers(spark, dir, runDir, traced.toSeq,
      tracedSweeps.toSeq, untracedSweep, memoMs) else Map.empty[String, Double]
    spark.stop()
    deleteTree(new File(runDir))

    val lat = samples.map(_.seconds).toSeq
    val mut = samples.filter(s => mutates.contains(s.name)).map(_.seconds).toSeq
    val metrics =
      if (a.trace) perLayer.map { case (k, v) => k -> Metric(v, PerLayer.unit(k)) }
      else Map(
        "setup_s" -> Metric(setupS, "s"),
        "queries_per_s" -> Metric(queries.size / median(sweepWall.toSeq), "1/s"),
        "query_p50_s" -> Metric(median(lat), "s"),
        "query_p90_s" -> Metric(quantile(lat, 0.9), "s"),
        "live_heap_peak_mb" -> Metric(liveMb.max, "MB"))
    val report = json(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "host" -> Host.facts,
      "data_gen_s" -> genS,
      "setup_s" -> setupS, "memo_build_ms" -> memoMs,
      "first_touch_s" -> firstTouch.map(s => s.name -> s.seconds).toMap,
      "warm_up_sweep_s" -> warmUp, "sweeps" -> sweepWall.size, "sweep_wall_s" -> sweepWall.toSeq,
      "samples" -> lat.size, "mutate_p50_s" -> median(mut),
      "samples_above_p90" -> (if (lat.isEmpty) 0 else lat.count(_ > quantile(lat, 0.9))),
      "query_p50_s_by_query" -> samples.groupBy(_.name).map { case (k, v) => k -> median(v.map(_.seconds).toSeq) },
      "live_heap_mb" -> liveMb.toSeq,
      "metrics" -> metrics,
      "traced_by_query" -> traced.groupBy(_._1.name).map { case (k, v) => k -> Counters.sum(v.map(_._2)) },
      "failures" -> failures.toSeq))
    Outcome(attempted, failures.size.toLong, metrics, report)
  }

  /** Per-layer metrics of a traced run, per traced sweep. */
  private def tracedLayers(spark: SparkSession, dir: String, runDir: String,
      traced: Seq[(Sample, Map[String, Double])], sweeps: Seq[(Double, Map[String, Double])],
      untracedSweep: Double, memoMs: Double): Map[String, Double] = {
    val n = sweeps.size.toDouble
    val tot = Counters.sum(traced.map(_._2))
    def per(k: String) = tot.getOrElse(k, 0.0) / n
    val wallMs = sweeps.map(_._1).sum * 1000
    val selfMs = traced.map { case (s, d) =>
      math.max(0.0, s.consumeMs - Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
        "catalyst.planning_ms", "codegen.compile_ms", "job_wall_ms").map(d.getOrElse(_, 0.0)).sum)
    }.sum
    val sweepLayers = Counters.sum(sweeps.map(_._2))
    val exec = PerLayer.execNames.map(k => k -> per(k)).toMap
    val tasks = tot.getOrElse("exec.tasks", 0.0)
    val writtenFiles = sweepLayers.getOrElse("scratch.files_rewritten", 0.0) / n
    PerLayer.zeros ++ exec ++ Map(
      "entry.build_ms" -> traced.map(_._1.buildMs).sum / n,
      "catalyst.analysis_ms" -> per("catalyst.analysis_ms"),
      "catalyst.optimization_ms" -> per("catalyst.optimization_ms"),
      "catalyst.planning_ms" -> per("catalyst.planning_ms"),
      "codegen.classes" -> per("codegen.classes"),
      "codegen.compile_ms" -> per("codegen.compile_ms"),
      "consume.self_ms" -> selfMs / n,
      "exec.core_util" -> tot.getOrElse("exec.task_busy_ms", 0.0) / (wallMs * Main.cores),
      "exec.small_task_frac" -> (if (tasks > 0) tot.getOrElse("small_tasks", 0.0) / tasks else 0.0),
      "memo.first_touch_ms" -> memoMs,
      "scratch.bytes" -> sweeps.last._2("scratch.bytes"),
      "scratch.files" -> sweeps.last._2("scratch.files"),
      "scratch.bytes_rewritten" -> sweepLayers.getOrElse("scratch.bytes_rewritten", 0.0) / n,
      "sinks.bytes_written" -> per("sinks.bytes_written"),
      "sinks.files_written" -> writtenFiles,
      "sinks.bytes_per_file" -> (if (writtenFiles > 0) per("sinks.bytes_written") / writtenFiles else 0.0),
      "jvm.gc_ms" -> sweepLayers.getOrElse("jvm.gc_ms", 0.0) / n,
      "jvm.heap_after_gc_mb" -> sweeps.map(_._2("jvm.heap_after_gc_mb")).max,
      "trace.overhead_frac" -> (sweeps.map(_._1).sum / n / untracedSweep - 1.0)
    ) ++ PerLayer.tables(spark, dir, s"$runDir/tables_probe") ++ PerLayer.spread(spark, dir)
  }

  /** Runs every query twice through both entries and writes the
    * reference; fails if a query throws or is not stable across calls. */
  private def record(a: Args, path: String): Outcome = {
    val spark = Main.session(a.work)
    val dir = a.data.getOrElse(Main.ensureData(spark, a.work)._1)
    val bad = mutable.ArrayBuffer.empty[String]
    def side(entry: String => Query): Map[String, Map[String, Long]] = queries.map { n =>
      val rs = (1 to 2).map(_ => call(spark, dir, n, entry(n)).result)
      rs.foreach(_.left.foreach(e => bad += s"$n: $e"))
      if (rs.distinct.size != 1) bad += s"$n: unstable ${rs.mkString(" vs ")}"
      n -> rs.head.map { case (r, c) => Map("rows" -> r, "checksum" -> c) }.getOrElse(Map.empty)
    }.toMap
    val pub = side(publicEntry)
    val warm = side(warmEntry)
    spark.stop()
    val body = json(Map("data" -> a.data.getOrElse(DataGen.tag), "public" -> pub, "warm" -> warm,
      "problems" -> bad.toSeq))
    java.nio.file.Files.writeString(new File(path).toPath, body + "\n")
    Outcome(queries.size * 4L, bad.size.toLong, Map.empty, body)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
