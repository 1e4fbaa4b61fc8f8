package graft.scale

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The on-disk lifecycle every stored ANN index table shares — the
  * ivf2 and sq8 serve indexes, the streaming inverted lists, the
  * merge-on-read tombstones and the rebuild generations, plus the
  * tables the append and delete rows stage from them. Three decisions
  * live here and nowhere else:
  *
  *  1. BUILD ONCE PER CORPUS: a stored index is readable only behind
  *     its completion marker, written after every table of the build
  *     lands. The marker's CONTENT is the [[fingerprint]] of the
  *     `embeddings` input the build read, so a crash mid-build (no
  *     marker) and a corpus regenerated under the same dir (another
  *     fingerprint) both trigger a rebuild instead of serving an index
  *     of data that is no longer there. The routing tables' layout is
  *     here too ([[writeRouting]], [[readRouting]]).
  *  2. STAGING: the tables a delete mutates are range-clustered on
  *     vec_id ([[stage]]); the append rows land a day-0 build and then
  *     append the arriving batch as a pure file add ([[writeDay0]],
  *     [[appendBatch]]).
  *  3. THE JOURNALED COPY-ON-WRITE DELETE: [[delete]] (with
  *     [[prepare]] and [[recover]], its two phases, for the crash
  *     specs).
  *
  * Scratch paths stay [[graft.util.Scratch.path]]: per data dir and per
  * JVM, swept at exit. */
private[scale] object StoredIndex {

  private val Marker = "_GRAFT_INDEX_COMPLETE"

  /** The last fingerprint each dir's embeddings showed in this JVM. */
  private val seen = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** md5 of every file's path, size and mtime under `dir`'s embeddings
    * table — a directory listing, no data read. The first call that
    * sees a different fingerprint than the previous call for the same
    * dir drops everything derived from the old corpus: the dir's
    * [[DirMemo]] entries (the memoized corpus among them), its
    * [[Similarity.corpusCount]], and any Spark-cached frame over the
    * table (`refreshByPath`). Every [[Similarity.corpus]] read runs
    * this check, so no memo outlives the data it was computed from. */
  def fingerprint(spark: SparkSession, dir: String): String = {
    val table = new Path(s"$dir/embeddings.parquet")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plain listStatus, not listFiles: the located statuses listFiles
    // builds load owner/permission, which the local filesystem reads by
    // running a shell command per file
    def files(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
    val rows = files(table).map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(rows.sorted.mkString("\n").getBytes(UTF_8))
      .map("%02x".format(_)).mkString
    val prev = seen.put(dir, fp)
    if (prev != null && prev != fp) {
      DirMemo.invalidateDir(dir)
      Similarity.corpusCountCache.remove(dir)
      spark.catalog.refreshByPath(table.toString)
    }
    fp
  }

  /** Whether `path` holds a complete build of `dir`'s CURRENT corpus. */
  def current(spark: SparkSession, dir: String, path: String): Boolean = {
    val m = new File(path, Marker)
    m.exists() &&
      new String(Files.readAllBytes(m.toPath), UTF_8) == fingerprint(spark, dir)
  }

  /** `path`, holding a complete build of `dir`'s current corpus: `write`
    * (re)builds it when the marker is missing or carries another
    * fingerprint, or always when `rebuild` is set (the rows that time
    * the build itself, and the per-call sidecars and generations). The
    * marker is removed before any table is touched and written last,
    * so a reader never trusts a partial build; a truncated marker
    * cannot match a fingerprint either. */
  def ensure(spark: SparkSession, dir: String, path: String, rebuild: Boolean = false)
            (write: String => Unit): String = {
    if (rebuild || !current(spark, dir, path)) {
      val m = new File(path, Marker)
      m.delete()
      write(path)
      Files.write(m.toPath, fingerprint(spark, dir).getBytes(UTF_8))
    }
    path
  }

  // ---------------------------------------------------- two-level routing
  /** Land the two-level routing tables under `base`: supers, groups, and
    * the assignment with its distance `d` (the delete and append rows
    * stage from it; the routing readers' scans column-prune `d`). */
  def writeRouting(idx: Similarity.Ivf2Index, base: String): Unit = {
    idx.supers.write.mode("overwrite").parquet(s"$base/supers")
    idx.groups.write.mode("overwrite").parquet(s"$base/groups")
    idx.assigned.select(col("vec_id"), col("cid"), col("d"))
      .write.mode("overwrite").parquet(s"$base/assigned")
  }

  /** The routing tables under `base` read back: (supers, groups,
    * assigned (vec_id, cid, d)). */
  def readRouting(spark: SparkSession, base: String): (DataFrame, DataFrame, DataFrame) =
    (spark.read.schema("sid BIGINT, sv ARRAY<DOUBLE>").parquet(s"$base/supers"),
      spark.read.schema("cid BIGINT, cv ARRAY<DOUBLE>, sid BIGINT").parquet(s"$base/groups"),
      spark.read.schema(Similarity.ivf2AssignSchema).parquet(s"$base/assigned"))

  // ------------------------------------------------------------- staging
  /** Write `rows` as the table a delete mutates, RANGE-CLUSTERED on
    * vec_id into a fixed 8 files. The clustering is the point — a
    * delete predicate on the cluster key touches a contiguous file
    * subset, which is what makes copy-on-write DELETE affordable at
    * scale (an unclustered table makes every file dirty and COW
    * degenerates to a full rewrite; the same reason Delta/Iceberg pair
    * DELETE with Z-order/clustering). A production table sizes the file
    * count from bytes like `ann_ivf2_compact` does. */
  def stage(rows: DataFrame, tag: String, dir: String): String = {
    val path = graft.util.Scratch.path(tag, dir)
    rows.repartitionByRange(8, col("vec_id")).write.mode("overwrite").parquet(path)
    path
  }

  /** The day-0/batch split of an append row: the first 90% of vec_ids
    * are the built table, the rest the arriving batch. */
  private[scale] def appendCut(spark: SparkSession, dir: String): Long =
    Similarity.corpusCount(spark, dir) * 9L / 10L

  /** Day-0 build of an append-only table: the rows of `rows` below the
    * cut, written as a new table at `path`. */
  def writeDay0(spark: SparkSession, dir: String, rows: DataFrame, path: String): String = {
    rows.filter(col("vec_id") < appendCut(spark, dir)).write.mode("overwrite").parquet(path)
    path
  }

  /** The arriving batch: the rows of `rows` at or above the cut,
    * appended — a pure file add, no day-0 file is rewritten. The vec_id
    * filter pushes through the row computation to the corpus scan, so
    * the write computes only its slice. */
  def appendBatch(spark: SparkSession, dir: String, rows: DataFrame, path: String): String = {
    rows.filter(col("vec_id") >= appendCut(spark, dir)).write.mode("append").parquet(path)
    path
  }

  // ----------------------------------------------------------- COW delete
  /** The rows a COW delete drops. */
  sealed trait Doomed
  /** A predicate on the cluster key: row-group stats prune it, so on a
    * [[stage]]d table the dirty-file census reads almost nothing. */
  final case class Where(p: Column) extends Doomed
  /** A fit-sized vec_id table (a tombstone sidecar), selected by
    * BROADCAST semi-join; scattered ids touch every file, so the census
    * cannot be pruned — which is why merge-on-read defers it. */
  final case class Keys(ids: DataFrame) extends Doomed

  /** Swap journal path — `_`-prefixed, so Spark/DuckDB parquet reads of
    * the table dir never see it. Its EXISTENCE is the commit point:
    * written only after every surviving row is staged. */
  private[scale] def swapMarker(src: String): Path = new Path(src, "_GRAFT_SWAP_PENDING")

  /** COPY-ON-WRITE DELETE of the `doomed` rows of the parquet table at
    * `src` (read with `schema`, so no footer-inference job runs): (1) census the files holding doomed rows; (2) rewrite ONLY
    * those files' surviving rows; (3) swap — adopt the rewritten parts,
    * drop the dirty originals. The census collect is bounded by the
    * table's FILE count (a manifest at scale), never its row count.
    * Plain-parquet staging makes the swap filesystem ops where
    * Delta/Iceberg commit a manifest atomically — the row-level work
    * (decode + filter + re-encode, the term that matters at 100 TB) is
    * identical and touches the dirty subset only.
    *
    * CRASH CONTRACT: the swap is journaled through [[swapMarker]] —
    * [[prepare]] stages ALL surviving rows (closed by Spark's
    * committer; the journal itself is hsync'd, the parts are not — so
    * the contract is exact under process kills and journal-synced
    * best-effort under power loss), then commits the journal with an
    * atomic rename; only [[recover]] mutates the table, strictly
    * roll-forward from the journal, each filesystem op checked and
    * idempotent. A kill anywhere leaves one of two readable states:
    * journal absent → the table is byte-identical to pre-delete
    * (staged files live OUTSIDE the dir and `_`-prefixed files are
    * invisible to parquet reads); journal present → the next
    * [[recover]] (which this runs first, and any reader of a COW-
    * maintained table must run before reading) completes the identical
    * swap. No state serves a partial table. */
  def delete(spark: SparkSession, src: String, schema: String, doomed: Doomed): Unit = {
    recover(spark, src) // finish any interrupted prior swap
    if (prepare(spark, src, schema, doomed)) recover(spark, src)
  }

  /** Phases 1+2: census the dirty files, stage their surviving rows
    * OUTSIDE the table dir, then COMMIT the swap intent — a
    * tab-separated journal (`R staged dest` per part to adopt, `D path`
    * per original to drop) written to a temp name and atomically
    * renamed to [[swapMarker]]. Returns false (no journal, table
    * untouched) when nothing is dirty. Crash anywhere in here ⇒ journal
    * absent ⇒ readers serve the pre-delete table and the orphan stage
    * dir is exit-swept by [[graft.util.Scratch]]. */
  def prepare(spark: SparkSession, src: String, schema: String, doomed: Doomed): Boolean = {
    val (doomedRows, survivors): (DataFrame => DataFrame, DataFrame => DataFrame) =
      doomed match {
        case Where(p) => (_.filter(p), _.filter(!p))
        case Keys(ids) => (_.join(broadcast(ids), Seq("vec_id"), "left_semi"),
          _.join(broadcast(ids), Seq("vec_id"), "left_anti"))
      }
    // the file-path metadata column is attached at the scan, BEFORE the
    // doomed-row selection runs (a filter sees through the projection;
    // the keyed semi-join could not request _metadata on its own output)
    val dirty = doomedRows(spark.read.schema(schema).parquet(src)
        .withColumn("__graft_fp", col("_metadata.file_path")))
      .select(col("__graft_fp")).distinct()
      .collect().map(_.getString(0))
    if (dirty.isEmpty) return false
    val stage = graft.util.Scratch.register(s"$src.rewrite")
    survivors(spark.read.schema(schema).parquet(dirty.toIndexedSeq: _*))
      .write.mode("overwrite").parquet(stage)
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(stage))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getPath)
    val journal = parts.map(p => s"R\t$p\t${p.getName}") ++ dirty.map(d => s"D\t$d")
    val tmpMarker = new Path(src, "_GRAFT_SWAP_PENDING.tmp")
    val out = fs.create(tmpMarker, true)
    out.write((journal.mkString("\n") + "\n").getBytes(UTF_8))
    // flush the journal to the device before the commit rename: without
    // it the marker's EXISTENCE could survive a power loss while its
    // CONTENT (or a staged part it references) sat in the page cache —
    // and roll-forward would adopt a truncated file. hsync() syncs where
    // the filesystem supports Syncable (HDFS, local RawLocalFileSystem)
    // and degrades to a flush elsewhere. Durability scope: the journal
    // is synced here; the staged parquet parts are closed by Spark
    // committers without fsync, so the crash contract is exact for
    // process kills and best-effort (journal-synced) for power loss —
    // the same scope a plain-parquet lakehouse commit has without a
    // WAL'd metastore.
    out.hsync()
    out.close()
    require(fs.rename(tmpMarker, swapMarker(src)),
      s"COW swap: journal commit rename failed for $src")
    true
  }

  /** Phase 3, strictly ROLL-FORWARD from the committed journal — adopt
    * every staged part still at its staged path (renames are per-file
    * atomic; one already adopted by an interrupted attempt no longer
    * exists at the staged path and is skipped), then drop every dirty
    * original still present, then clear the stage dir and the journal
    * itself. Every filesystem op that should succeed is REQUIRED to (a
    * false return — name collision, cross-FS rename, permission —
    * raises instead of silently losing rows). Idempotent: re-running
    * after a kill at ANY line completes the same swap; a no-journal
    * call is a no-op. */
  def recover(spark: SparkSession, src: String): Unit = {
    val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = swapMarker(src)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val journal = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    journal.foreach(_.split('\t') match {
      case Array("R", staged, destName) =>
        val s = new Path(staged)
        if (fs.exists(s))
          require(fs.rename(s, new Path(src, destName)),
            s"COW swap: adopt rename failed: $staged -> $src/$destName")
      case _ => ()
    })
    journal.foreach(_.split('\t') match {
      case Array("D", doomed) =>
        val d = new Path(doomed)
        if (fs.exists(d))
          require(fs.delete(d, false), s"COW swap: drop failed: $doomed")
      case _ => ()
    })
    val stage = new Path(s"$src.rewrite")
    if (fs.exists(stage)) fs.delete(stage, true)
    require(fs.delete(marker, false), s"COW swap: journal clear failed for $src")
  }
}
