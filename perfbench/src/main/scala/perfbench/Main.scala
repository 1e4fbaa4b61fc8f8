package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One process runs one workload:
  *
  * {{{
  * perfbench.Main --workload fx_batch|fx_stream --seed N --seconds S
  *                --trace 0|1 --work DIR [--record FILE] [--data DIR]
  * }}}
  *
  * The last line on stdout is the result object (`correct`, `attempted`,
  * `failed`, `metrics`); the full report, per query and per channel, goes
  * to `DIR/reports/`. `--record` writes the (rows, checksum) reference of
  * the batch workload instead of measuring; `--data` points the batch
  * queries at another table directory (used to cross-check the reference
  * against committed checksum artifacts).
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, record: Option[String], data: Option[String])

  final case class Metric(value: Double, unit: String)

  final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Metric],
                           report: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), kv.get("record"), kv.get("data"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** Milliseconds since the JVM started: the start of the first set-up. */
  def processStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Every workload's session: `EngineConf.tune` at `local[nproc]`, the
    * shuffle width Bench uses, and all local state under the work dir. */
  def session(work: String): SparkSession = {
    val s = graft.EngineConf.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fresh copy of the generated tables, so that memos keyed by the data
    * dir (`DirMemo`, the stored indexes under `Scratch`) start empty. */
  def freshCopy(src: String, dst: String): String = {
    def copy(a: File, b: File): Unit =
      if (a.isDirectory) { b.mkdirs(); a.listFiles().foreach(f => copy(f, new File(b, f.getName))) }
      else Files.copy(a.toPath, b.toPath, StandardCopyOption.REPLACE_EXISTING)
    copy(new File(src), new File(dst))
    dst
  }

  /** Data dir of the generated tables (reused across runs) and the
    * seconds spent generating them in this process. */
  def ensureData(spark: SparkSession, work: String): (String, Double) = {
    val dir = s"$work/data/${DataGen.tag}"
    (dir, DataGen.ensure(spark, dir))
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case Metric(x, u) => json(Map("value" -> x, "unit" -> u))
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.work).mkdirs()
    val out = a.workload match {
      case "fx_batch"  => BatchWorkload.run(a)
      case "fx_stream" => StreamWorkload.run(a)
      case other       => sys.error(s"unknown workload $other")
    }
    val reports = new File(a.work, "reports")
    reports.mkdirs()
    val name = s"${a.workload}_seed${a.seed}_trace${if (a.trace) 1 else 0}.json"
    Files.writeString(new File(reports, name).toPath, out.report)
    val correct = out.failed == 0
    println(json(Map("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> out.metrics)))
    System.out.flush()
    // an incorrect run exits nonzero once its result is on stdout
    sys.exit(if (correct) 0 else 1)
  }
}
