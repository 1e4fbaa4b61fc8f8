package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Dev harness and the per-layer diagnostic: runs named queries from
  * [[SparkEntry.queries]] through [[BenchAction]] — one cold run of the
  * public entry, then three warm runs of what Bench's warm pass runs
  * (the build-plan variant for index-serving queries) — and splits each
  * run's wall time so fixed per-query overhead is attributable:
  *
  *   - Catalyst analysis / optimization / physical planning of the plan
  *     that actually executes (the action's, not the input's);
  *   - janino classes compiled, with the compile time estimated from
  *     Spark's codegen histogram;
  *   - stage, task and shuffle-byte deltas from
  *     [[ShuffleAudit.MetricsListener]], plus the slowest stages
  *     (`tasks t/wall ms(sum task ms)`: wall ≈ sum ⇒ no parallelism);
  *   - the [[scale.GraphTelemetry]] loop runs and rounds, when the query
  *     drives a distributed graph loop.
  *
  * `explain` prints each query's formatted physical plan instead.
  *
  * Usage: runMain graft.RunOne <name>[,name...] [sfDir] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val queries = Bench.select(Some(args(0)))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = EngineConf.session()
    val listener = new ShuffleAudit.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    queries.foreach { case (name, fn) =>
      val warmFn = SparkEntry.benchImpls.getOrElse(name, fn)
      if (args.contains("explain")) warmFn(spark, sfDir).explain("formatted")
      else (("cold", fn) +: (1 to 3).map(i => (s"warm$i", warmFn))).foreach {
        case (pass, f) => probe(spark, sfDir, listener, s"$name $pass", f)
      }
    }
    spark.stop()
  }

  private def probe(spark: SparkSession, sfDir: String,
      listener: ShuffleAudit.MetricsListener, label: String,
      fn: (SparkSession, String) => DataFrame): Unit = {
    def f(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val cg = CodegenMetrics.METRIC_COMPILATION_TIME
    val (c0, m0) = (cg.getCount, cg.getSnapshot.getMean)
    scale.GraphTelemetry.clear()
    val (before, _) = listener.quiesce()
    val t0 = System.nanoTime()
    val action = BenchAction.plan(fn(spark, sfDir))
    val (rows, _) = BenchAction.run(action)
    val wall = (System.nanoTime() - t0) / 1e9
    val (after, settled) = listener.quiesce()
    val (c1, m1) = (cg.getCount, cg.getSnapshot.getMean)
    val phase = action.queryExecution.tracker.phases
      .map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) / 1e3 }.withDefaultValue(0.0)
    println(s"[runone] $label: ${f(wall)} s, $rows rows")
    println(s"[runone]   catalyst s: analysis ${f(phase("analysis"))} " +
      s"optimization ${f(phase("optimization"))} planning ${f(phase("planning"))}")
    // the histogram's mean is over its sample reservoir, so count × mean
    // is an estimate of the compile time, not a sum
    println(s"[runone]   codegen: ${c1 - c0} classes compiled, ~${f((c1 * m1 - c0 * m0) / 1e3)} s")
    val hot = listener.stagesBetween(before, after).sortBy(-_.wallMs).take(3)
      .map(s => s"${s.tasks}t/${s.wallMs}ms(sum ${s.taskTimeMs})[${s.name.take(60)}]")
    println(s"[runone]   exec: ${after.jobs - before.jobs} jobs, " +
      s"${after.stages - before.stages} stages, ${after.tasks - before.tasks} tasks, " +
      s"shuffle read ${after.shuffleRead - before.shuffleRead} B, " +
      s"write ${after.shuffleWrite - before.shuffleWrite} B" +
      (if (settled) "" else " (unsettled)") + "; slowest: " + hot.mkString(" "))
    val (rounds, runs) = scale.GraphTelemetry.snapshot()
    runs.foreach { r =>
      println(s"[runone]   graph ${r.loop}: edges=${r.edges} parts=${r.parts} " +
        s"rounds=${r.rounds} wall=${f(r.wallSec)}s")
    }
    rounds.foreach { r =>
      println(s"[runone]     ${r.loop} round ${r.round}: ${f(r.wallSec)}s measure=${r.measure}")
    }
  }
}
