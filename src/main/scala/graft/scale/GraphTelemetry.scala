package graft.scale

/** Per-round telemetry for the distributed graph loops (connected
  * components, k-core peel). The round counts and edge measurements are
  * ALREADY paid by the loops themselves — convergence is detected from
  * a per-round aggregate — so recording them costs one buffer append
  * per round; what it buys is receipts: the sf-sweep adjudications in
  * SCALE.md ("er_clusters' 54× is ~6 pointer-doubling rounds over a
  * ~100× match graph") previously reconstructed round counts from
  * outside the loop, and a regression in round count (e.g. a broken
  * shortcut making propagation linear in diameter) was invisible until
  * it hit the round cap.
  *
  * In-memory and process-local by design (`graft.RunOne` reads it
  * after each run, and SCALE.md carries its tables; production would lift
  * the same records into Spark listener events or metrics). Buffers are
  * bounded by round caps (≤ 50 per loop run), and [[clear]] +
  * [[snapshot]] bracket a measured query. */
private[graft] object GraphTelemetry {

  /** One loop round: `loop` tags the loop kind ("cc" or "peel(k=N)"),
    * `measure` is the loop's own convergence measurement for the round
    * (cc: label sum; peel: surviving edge rows). */
  final case class Round(loop: String, round: Int, wallSec: Double, measure: Long)

  /** One completed loop run: input edge rows (symmetrized), partition
    * count the loop sized, rounds to fixpoint, total wall. */
  final case class Run(loop: String, edges: Long, parts: Int, rounds: Int,
      wallSec: Double)

  private val roundsBuf = scala.collection.mutable.ArrayBuffer.empty[Round]
  private val runsBuf = scala.collection.mutable.ArrayBuffer.empty[Run]

  def recordRound(loop: String, round: Int, wallSec: Double, measure: Long): Unit =
    synchronized { roundsBuf += Round(loop, round, wallSec, measure) }

  def recordRun(loop: String, edges: Long, parts: Int, rounds: Int,
      wallSec: Double): Unit =
    synchronized { runsBuf += Run(loop, edges, parts, rounds, wallSec) }

  def clear(): Unit = synchronized { roundsBuf.clear(); runsBuf.clear() }

  def snapshot(): (Seq[Round], Seq[Run]) =
    synchronized { (roundsBuf.toSeq, runsBuf.toSeq) }
}
