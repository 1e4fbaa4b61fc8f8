package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The physical half of the `ann_ivf2_delete` contract (the oracle
  * checks content): on the range-clustered staged table, a COW delete
  * of the oldest 5% rewrites ONLY the files that contain doomed rows —
  * clean files survive the swap byte-for-byte untouched — and a second
  * apply with the same predicate is a pure no-op (nothing left to
  * delete, no files touched). */
class DeleteSpec extends SparkSpec {

  private def snapshot(path: String): Map[String, (Long, Long)] =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> (f.length(), f.lastModified())).toMap

  test("COW delete rewrites only dirty files; clean files are untouched; re-apply is a no-op") {
    val src = StoredIndex.stage(Similarity.ivf2Stored(spark, sfDir)._3, "ivf2del", sfDir)
    val n = Similarity.corpusCount(spark, sfDir)
    val cutoff = n / 20L
    assert(cutoff > 0, s"fixture must be big enough to delete something (n=$n)")
    val stagedCount = spark.read.parquet(src).count()
    assert(stagedCount == n, "staged table must hold the full assignment")

    val before = snapshot(src)
    assert(before.size == 8, s"range-clustered stage must be 8 files, got ${before.size}")
    StoredIndex.delete(spark, src, Similarity.ivf2AssignSchema, StoredIndex.Where(col("vec_id") < cutoff))
    val after = snapshot(src)

    val untouched = before.keySet.intersect(after.keySet)
      .filter(k => before(k) == after(k))
    val rewritten = before.keySet.diff(after.keySet)
    val added = after.keySet.diff(before.keySet)
    // range clustering means the lowest-5% predicate lands in a file
    // subset: most files must survive with identical (size, mtime)
    assert(rewritten.nonEmpty, "at least one dirty file must be replaced")
    assert(added.nonEmpty, "the rewrite must add surviving-row files")
    assert(untouched.size >= 6,
      s"clean files must not be rewritten: only ${untouched.size} of 8 untouched " +
        s"(rewritten=${rewritten.size})")
    // the .rewrite staging dir must not linger
    assert(!new java.io.File(src + ".rewrite").exists(), "swap must remove the staging dir")

    // content: exactly the full assignment minus the doomed range
    val got = spark.read.parquet(src)
    assert(got.count() == n - cutoff)
    assert(got.agg(min(col("vec_id"))).head.getLong(0) == cutoff)
    val expect = Similarity.annIvf2Assign(spark, sfDir)
      .filter(col("vec_id") >= cutoff)
      .select(col("vec_id"), col("centroid_id").as("cid"))
    val gotKeyed = got.select(col("vec_id"), col("cid"))
    assert(gotKeyed.exceptAll(expect).isEmpty && expect.exceptAll(gotKeyed).isEmpty,
      "surviving rows must equal the full assignment filtered by the delete predicate")

    // idempotence: nothing below the cutoff remains, so a second apply
    // must touch no files at all
    StoredIndex.delete(spark, src, Similarity.ivf2AssignSchema, StoredIndex.Where(col("vec_id") < cutoff))
    assert(snapshot(src) == after, "re-applying the same delete must be a pure no-op")

    graft.util.Scratch.cleanupPath(src)
  }

  test("crash windows: pre-commit kill serves the pre-delete table; post-commit kill rolls forward") {
    import org.apache.hadoop.fs.Path
    val src = StoredIndex.stage(Similarity.ivf2Stored(spark, sfDir)._3, "ivf2del", sfDir)
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = Similarity.corpusCount(spark, sfDir)
    val cutoff = n / 20L

    // --- window 1: kill BEFORE the journal commit. An orphan stage
    // dir exists but no marker — readers must see the PRE-delete table
    // and recover must be a strict no-op.
    val orphan = new java.io.File(src + ".rewrite")
    orphan.mkdirs()
    new java.io.FileWriter(new java.io.File(orphan, "part-orphan")) { write("x"); close() }
    StoredIndex.recover(spark, src)
    assert(spark.read.parquet(src).count() == n,
      "no-marker state must serve the pre-delete table")
    assert(orphan.exists(), "recover without a marker must not touch the stage dir")
    graft.util.Scratch.cleanupPath(src + ".rewrite")

    // --- window 2: kill AFTER the commit point, mid-swap. Prepare
    // stages survivors + commits the journal; simulate an interrupted
    // recover by replaying its first op for ONE journal entry of each
    // kind, then killing — the re-run must complete the identical swap.
    assert(StoredIndex.prepare(spark, src, Similarity.ivf2AssignSchema, StoredIndex.Where(col("vec_id") < cutoff)),
      "fixture must have dirty files to stage")
    val marker = StoredIndex.swapMarker(src)
    assert(fs.exists(marker), "prepare must leave the committed journal")
    val journal = scala.io.Source.fromFile(
      new java.io.File(new java.net.URI(marker.toString).getPath)).getLines().toList
    val renames = journal.collect { case l if l.startsWith("R\t") => l.split('\t') }
    val drops = journal.collect { case l if l.startsWith("D\t") => l.split('\t') }
    assert(renames.nonEmpty && drops.nonEmpty, "journal must carry both op kinds")
    // interrupted progress: one part already adopted, one original already dropped
    assert(fs.rename(new Path(renames.head(1)), new Path(src, renames.head(2))))
    assert(fs.delete(new Path(drops.head(1)), false))
    // the "restart": roll forward from the journal
    StoredIndex.recover(spark, src)
    assert(!fs.exists(marker), "recover must clear the journal")
    assert(!new java.io.File(src + ".rewrite").exists(), "recover must clear the stage dir")
    val got = spark.read.parquet(src)
    assert(got.count() == n - cutoff)
    assert(got.agg(min(col("vec_id"))).head.getLong(0) == cutoff,
      "post-recovery table must be exactly the post-delete state")
    // and a recover with no marker stays a no-op
    StoredIndex.recover(spark, src)
    assert(spark.read.parquet(src).count() == n - cutoff)
    graft.util.Scratch.cleanupPath(src)
  }

  test("the dirty-file census read pushes the delete predicate to the parquet scan") {
    // the IO-level pruning claim: on the range-clustered layout the
    // census read must reach the scan as a pushed filter (row-group
    // stats then skip clean files' groups entirely)
    val src = StoredIndex.stage(Similarity.ivf2Stored(spark, sfDir)._3, "ivf2del", sfDir)
    val plan = spark.read.schema("vec_id BIGINT, cid BIGINT, d DOUBLE").parquet(src)
      .filter(col("vec_id") < 25L)
      .select(col("_metadata.file_path")).distinct()
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("LessThan(vec_id,25)"),
      "vec_id predicate must appear in PushedFilters:\n" + plan)
    graft.util.Scratch.cleanupPath(src)
  }
}
