package graft
import org.apache.spark.sql.SparkSession

/** The one place an engine session is built. Every main and the spec
  * harness go through [[session]], so Bench, the specs, the streaming
  * SLA run and the scale tools all measure the same engine:
  *
  *   - `spark.sql.extensions = graft.plans.GraftExtensions` — the
  *     documented production wiring for graft's Catalyst surface
  *     (custom functions, the as-of strategy, and the r15
  *     [[graft.plans.DedupWindowExpressions]] rule that collapses
  *     duplicate window aggregates engine-wide).
  *   - `spark.sql.codegen.cache.maxEntries` — Spark's generated-class
  *     cache holds 100 entries by default, sized for a handful of
  *     long-running queries. This engine's registry is 268 queries ×
  *     several codegen units each, so a full sweep evicts everything
  *     and every re-execution pays full janino compilation again
  *     (measured: warm per-query times ≈ cold). 4096 entries keeps one
  *     sweep resident. JVM-level and scale-independent — the same
  *     registry compiles the same classes on a 1000-node cluster.
  */
object EngineConf {
  def tune(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // the codegen-stage id is embedded in the generated CLASS NAME
      // purely as a debugging aid; under AQE the id reflects runtime
      // replanning order, so two executions of the SAME multi-stage
      // plan generate textually different classes and miss the cache
      // (measured: ann_recall2 recompiled 36-54 classes — 0.9-2.0 s —
      // on every warm run). Dropping the id makes generated source a
      // pure function of the subplan, so the cache can do its job.
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** A main's session: `SPARK_GRAFT_CPUS` local cores (default: every
    * core the JVM sees), one shuffle partition per core. */
  def session(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    session(cores, cores)
  }

  /** A [[tune]]d session at `local[cores]`, UTC, no UI, WARN logging. */
  def session(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
