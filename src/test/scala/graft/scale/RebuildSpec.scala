package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `ann_ivf2_rebuild` invariants beyond the shared fresh-build oracle:
  * the generation protocol's ONLINE guarantee — the old index serves
  * every query until the pointer flips, including the whole window
  * where the new generation is already fully built — and the cutover's
  * completeness gate. */
class RebuildSpec extends SparkSpec {

  test("old generation serves until the pointer flips; cutover is gated on completeness") {
    val root = Similarity.ivf2RebuildPath(sfDir)
    val c = Similarity.corpus(spark, sfDir)
    val n = Similarity.corpusCount(spark, sfDir)
    val cut = n / 10L

    // refusing to cut over to a generation that was never built
    intercept[IllegalArgumentException] {
      Similarity.ivf2RebuildCutover(spark, sfDir, root, "gen-ghost")
    }

    // day-0: index over the first 10% only, live after its cutover
    Similarity.ivf2RebuildAside(spark, sfDir, root, "gen-0", c.filter(col("vec_id") < cut), cut)
    Similarity.ivf2RebuildCutover(spark, sfDir, root, "gen-0")
    assert(Similarity.ivf2CurrentGen(root).contains("gen-0"))
    val day0 = Similarity.ivf2GenServeRead(spark, sfDir, root)
    assert(day0.filter(col("neighbor_id") >= cut).isEmpty,
      "the day-0 generation must only serve day-0 vectors")
    assert(day0.count() > 0, "the day-0 generation must serve results")

    // the grown corpus's generation lands ASIDE — the pointer still
    // names gen-0, and a serve in this window returns day-0 results
    // (this is the claim that makes the rebuild online: no reader ever
    // sees a partial or half-adopted index)
    Similarity.ivf2RebuildAside(spark, sfDir, root, "gen-1", c, n)
    assert(Similarity.ivf2CurrentGen(root).contains("gen-0"),
      "building aside must not move the pointer")
    val preFlip = Similarity.ivf2GenServeRead(spark, sfDir, root)
    assert(preFlip.exceptAll(day0).isEmpty && day0.exceptAll(preFlip).isEmpty,
      "a serve between build-aside and cutover must still return day-0 results")

    // flip: the same read path now returns the fresh-build search
    Similarity.ivf2RebuildCutover(spark, sfDir, root, "gen-1")
    val rebuilt = Similarity.ivf2GenServeRead(spark, sfDir, root)
    val fresh = Similarity.annIvf2Search(spark, sfDir)
    assert(rebuilt.exceptAll(fresh).isEmpty && fresh.exceptAll(rebuilt).isEmpty,
      "the rebuilt generation must equal a fresh build at the grown corpus")
    // and the superseded generation's tables are still on disk for
    // in-flight readers (reclaim is a later sweep, not the cutover's job)
    assert(new java.io.File(s"$root/gen-0/_GRAFT_INDEX_COMPLETE").exists(),
      "cutover must not delete the old generation")
    graft.util.Scratch.cleanupPath(root)
  }
}
