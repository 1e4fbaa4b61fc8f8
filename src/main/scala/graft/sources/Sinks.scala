package graft.sources

import graft.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink operators — SURVEY §2.2. The reference persists to TimescaleDB
  * with per-row upserts, retention/compression policies, and JSON
  * exports; the Spark-native equivalents are partitioned Parquet (ZSTD)
  * with set-based merge semantics:
  *
  *  - K1 upsert ⇒ left-anti join new-vs-existing + append (or Delta
  *    `MERGE INTO` where Delta is available — same plan shape);
  *  - K5 retention ⇒ partition-pruned filter rewrite (at scale: drop
  *    whole date partitions, never row-level deletes);
  *  - K7 export ⇒ `coalesce(1).write.json`.
  *
  * `upsertMerged` is the query-shaped version of K1 so the merge
  * semantics sit under the DuckDB oracle like every other operator.
  */
object Sinks {

  /** r16: the shared pre-write distribution for every date-partitioned
    * sink. Range partitioning on (date, user_id) keeps each writer
    * task's rows date-clustered (one file per date per task — the §6
    * small-files goal r15's hash-on-date achieved) WITHOUT capping
    * parallelism at #distinct dates: the range sampler sizes each
    * date's writer count by its actual row share, so a hot date spans
    * several contiguous tasks instead of one giant serial writer
    * (§2.5). This is Iceberg's `write.distribution-mode=range`. The
    * sampling pass is the documented cost of range distribution. */
  private def clusterForDateWrite(df: DataFrame): DataFrame = {
    // SCALE-ADAPTIVE (r16): range distribution needs a sampling pass
    // (and a localCheckpoint so the sampler does not re-execute the
    // aggregate — measured: k1 2.07 s vs 1.48 s without/with), which
    // is pure overhead when the WHOLE write fits in one target-sized
    // partition — there a hot date is by definition small, the skew
    // hazard range distribution exists to fix cannot occur, and the
    // plain hash-on-date shape (one writer per date, one file per
    // date) is strictly cheaper (measured: k3 0.97 s hash vs 1.44 s
    // range isolated, 0.61 vs 1.57 in-bench). Above the one-partition
    // bound, range(date, user_id) sizes each date's writer count by
    // its actual row share — Iceberg's `write.distribution-mode=range`
    // — so a hot date spans contiguous tasks instead of one serial
    // writer (§2.5/§6).
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (graft.util.Spread.fitsOnePartition(df))
      df.repartition(para, col("date"))
    else {
      val cp = df.localCheckpoint()
      cp.repartitionByRange(graft.util.Spread.width(cp),
        col("date"), col("user_id"))
    }
  }

  /** K1 — the merged view an upsert produces: existing rows win on key
    * collisions, new rows are appended (`repository.py:28-96` skip-if-
    * exists path). Keys = (user_id, ts). "New" batch = the events rows
    * with event_id % 5 = 0, re-keyed to collide on a subset. */
  def upsertMerged(spark: SparkSession, dir: String): DataFrame = {
    val existing = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"), lit("existing").as("origin"))
    val incoming = Tables.events(spark, dir)
      .filter(col("event_id") % 5 === 0)
      .select(col("user_id"),
        // half the incoming batch collides with existing keys, half is new
        when(col("event_id") % 10 === 0, col("ts"))
          .otherwise(col("ts") + expr("INTERVAL 30 SECONDS")).as("ts"),
        round(col("value") * 2, 6).as("value"), lit("incoming").as("origin"))
    val newRows = incoming.join(existing.select("user_id", "ts"), Seq("user_id", "ts"), "left_anti")
    existing.unionByName(newRows)
      .select(col("user_id"), col("ts"), round(col("value"), 6).as("value"), col("origin"))
  }

  /** K1 CLOSURE (round-11 decision, carried since round 5). The
    * reference's upsert is SKIP-IF-EXISTS: `repository.py:120-129`
    * checks `get_ohlcv_by_timestamp` and returns None on a hit
    * ("Registro já existe ... pulando") — it NEVER updates a stored
    * row. [[upsertMerged]]'s left-anti + append is therefore exact
    * reference parity, not an approximation. UPDATE-wins MERGE is a
    * beyond-reference capability a real incremental-ingest user still
    * needs (late corrections), so it ships separately as
    * [[k1MergeCow]]: partition-level copy-on-write over plain
    * parquet — the same rewrite-touched-partitions-only plan a Delta/
    * Iceberg COW `MERGE INTO` executes, expressed with vanilla Spark's
    * dynamic partition overwrite. Transactionality (atomic commit,
    * snapshot isolation) is a table-format concern (Delta/Iceberg),
    * not an engine-query concern; the ENGINE's job — compute the
    * merged state reading only touched partitions — is what the
    * oracle pins. */

  /** K1b — update-wins MERGE as partition-level copy-on-write:
    * a date-partitioned daily-stats target is written once; a
    * correction batch (late, covering only dates ≥ Jan 10, with some
    * brand-new keys) is merged with UPDATE-WINS semantics; only the
    * TOUCHED date partitions are read (broadcast semi-join on the
    * batch's distinct dates ⇒ partition pruning at scale) and only
    * those are rewritten (`partitionOverwriteMode=dynamic` leaves
    * untouched partitions' files in place — the COW granularity).
    * The read-back of the whole table is what the oracle checks:
    * updated rows carry the batch's values, inserted rows appear,
    * untouched partitions survive byte-identical with origin `kept`. */
  /** Scratch table path: pid-suffixed (no cross-process races —
    * caught live when a concurrent ShuffleAudit raced a MatCheck read
    * of this table mid-rewrite), digest-keyed, and swept at JVM exit —
    * see [[graft.util.Scratch]]. In-JVM reuse semantics unchanged. */
  private[sources] def k1CowPath(dir: String): String =
    graft.util.Scratch.path("k1cow", dir)

  def k1MergeCow(spark: SparkSession, dir: String): DataFrame = {
    val tmp = k1CowPath(dir)
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("date"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value"))
      .select(col("user_id"), col("date"), col("n"), col("total_value"),
        lit("kept").as("origin"))
    // distribute on the partition column before every partitioned
    // write (guide §6): without it every shuffle task opens a writer in
    // every date dir — up to tasks×dates tiny files. r15 hashed on
    // `date` alone, which caps write parallelism at #distinct dates and
    // makes one hot date ONE serial writer at scale (§2.5 skew); r16
    // range-distributes on (date, user_id) — Iceberg
    // write.distribution-mode=range — so a hot date spans as many
    // contiguous writer tasks as its row share warrants while small
    // dates still produce one file. Count explicit + bytes-aware
    // (Spread.width) so AQE cannot byte-coalesce the fixture-scale
    // exchange back to one serial writer task.
    clusterForDateWrite(daily)
      .write.mode(SaveMode.Overwrite).partitionBy("date")
      .option("compression", "zstd").parquet(tmp)
    val target = spark.read.schema(daily.schema).parquet(tmp)
    // late correction batch: doubled totals for a sampled subset of the
    // last days, re-keyed so some rows are genuinely new (inserts)
    val src = Tables.events(spark, dir)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp") && col("event_id") % 3 === 0)
      .select(
        when(col("event_id") % 9 === 0, col("user_id") + 1000)
          .otherwise(col("user_id")).as("user_id"),
        date_trunc("day", col("ts")).cast("date").as("date"), col("value"))
      .groupBy(col("user_id"), col("date"))
      .agg(count(lit(1)).as("n_src"), round(sum(col("value")) * 2, 6).as("total_src"))
    // COW read side: ONLY the touched partitions (pruned at scale)
    val touched = src.select(col("date")).distinct()
    val hot = target.join(broadcast(touched), Seq("date"), "left_semi")
    val merged = hot.alias("t")
      .join(src.alias("s"), Seq("user_id", "date"), "full_outer")
      .select(col("user_id"),
        coalesce(col("s.n_src"), col("t.n")).as("n"),
        coalesce(col("s.total_src"), col("t.total_value")).as("total_value"),
        when(col("s.n_src").isNotNull && col("t.n").isNotNull, lit("updated"))
          .when(col("s.n_src").isNotNull, lit("inserted"))
          .otherwise(lit("kept")).as("origin"),
        col("date"))
    // COW write side: dynamic overwrite rewrites ONLY merged's dates
    clusterForDateWrite(merged)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd")
      .partitionBy("date").parquet(tmp)
    spark.read.schema(daily.schema).parquet(tmp)
      .select(col("user_id"), col("date").cast("timestamp").as("day"),
        col("n"), col("total_value"), col("origin"))
  }

  val k1MergeCowSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS date,
      |         count(*) AS n, round(sum(value), 6) + 0 AS total_value
      |  FROM events GROUP BY 1, 2),
      |src AS (
      |  SELECT CASE WHEN event_id % 9 = 0 THEN user_id + 1000 ELSE user_id END AS user_id,
      |         CAST(date_trunc('day', ts) AS DATE) AS date,
      |         count(*) AS n_src, round(sum(value) * 2, 6) + 0 AS total_src
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-10' AND event_id % 3 = 0
      |  GROUP BY 1, 2),
      |hot AS (SELECT * FROM daily WHERE date IN (SELECT date FROM src)),
      |merged AS (
      |  SELECT coalesce(s.user_id, t.user_id) AS user_id,
      |         coalesce(s.date, t.date) AS date,
      |         coalesce(s.n_src, t.n) AS n,
      |         coalesce(s.total_src, t.total_value) AS total_value,
      |         CASE WHEN s.n_src IS NOT NULL AND t.n IS NOT NULL THEN 'updated'
      |              WHEN s.n_src IS NOT NULL THEN 'inserted'
      |              ELSE 'kept' END AS origin
      |  FROM hot t FULL OUTER JOIN src s
      |    ON t.user_id = s.user_id AND t.date = s.date)
      |SELECT user_id, CAST(date AS TIMESTAMP) AS day, n, total_value, origin FROM merged
      |UNION ALL
      |SELECT user_id, CAST(date AS TIMESTAMP) AS day, n, total_value, 'kept' AS origin
      |FROM daily WHERE date NOT IN (SELECT date FROM src)""".stripMargin

  val upsertMergedSql: String =
    """WITH existing AS (
      |  SELECT user_id, ts, value, 'existing' AS origin FROM events),
      |incoming AS (
      |  SELECT user_id,
      |         CASE WHEN event_id % 10 = 0 THEN ts ELSE ts + INTERVAL 30 SECOND END AS ts,
      |         round(value * 2, 6) + 0 AS value, 'incoming' AS origin
      |  FROM events WHERE event_id % 5 = 0),
      |new_rows AS (
      |  SELECT i.* FROM incoming i
      |  WHERE NOT EXISTS (SELECT 1 FROM existing e
      |                    WHERE e.user_id = i.user_id AND e.ts = i.ts))
      |SELECT user_id, ts, round(value, 6) + 0 AS value, origin FROM existing
      |UNION ALL
      |SELECT user_id, ts, round(value, 6) + 0 AS value, origin FROM new_rows""".stripMargin

  /** K5 — retention view: drop rows older than a cutoff. At scale the
    * cutoff predicate hits the date partition column ⇒ partition drop. */
  def retentionFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts") >= lit("2024-01-10").cast("timestamp"))
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  val retentionFilterSql: String =
    """SELECT date_trunc('day', ts) AS day, count(*) AS n
      |FROM events WHERE ts >= TIMESTAMP '2024-01-10'
      |GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- K2
  /** K2 — the wide MLReady row (`repository.py:98-164`,
    * `save_single_ohlcv`): OHLCV + quality defaults (95.0 / good / api)
    * as flat columns, plus the reference's three JSONB feature dicts —
    * `technical_indicators`, `normalized_features`, `market_features` —
    * as native `MapType` columns. This is the frame [[writeMlReady]]
    * persists; [[k2FeatureSave]] is its oracle-checked query surface. */
  def mlReadyFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
    val wAll = Window.partitionBy(col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def framedAvg(n: Int) =
      when(count(col("close")).over(w.rowsBetween(-(n - 1), 0)) === n,
        avg(col("close")).over(w.rowsBetween(-(n - 1), 0)))
    val prev = lag(col("close"), 1).over(w)
    val mn = min(col("close")).over(wAll)
    val mx = max(col("close")).over(wAll)
    val mu = avg(col("close")).over(wAll)
    val sd = stddev_samp(col("close")).over(wAll)
    val hr = hour(col("bucket")).cast("double")
    Tables.candles(spark, dir)
      .withColumn("technical_indicators", map(
        lit("sma_5"), round(framedAvg(5), 6),
        lit("sma_20"), round(framedAvg(20), 6),
        lit("close_ret"), round(when(prev =!= 0, (col("close") - prev) / prev), 6)))
      .withColumn("normalized_features", map(
        lit("close_minmax"), round((col("close") - mn) / nullif(mx - mn, lit(0)), 6),
        lit("close_z"), round((col("close") - mu) / nullif(sd, lit(0)), 6)))
      .withColumn("market_features", map(
        lit("hour_sin"), round(sin(hr * math.Pi * 2 / 24), 6),
        lit("hour_cos"), round(cos(hr * math.Pi * 2 / 24), 6)))
      .withColumn("quality_score", lit(95.0))
      .withColumn("quality_level", lit("good"))
      .withColumn("data_source", lit("api"))
      .withColumn("is_gap_fill", lit(false))
  }

  /** K2 query surface: the MLReady row with its feature maps exploded to
    * (feature_key, feature_value) rows — MapType cells don't compare
    * stably across engines in the driver's hasher, rows do. 7 features
    * per candle; the dotted prefix is the dict the reference stores the
    * key in. */
  def k2FeatureSave(spark: SparkSession, dir: String): DataFrame = {
    // literal-keyed struct rows instead of transform_keys+map_concat+
    // explode: the keys are FIXED, so rebuilding three maps and
    // re-concatenating every key per row only to tear the result apart
    // again is pure per-row allocation (measured ~40% of this query's
    // warm time); inline() emits the same 7 (key, value) rows per candle
    val kvs = Seq(
      "tech." -> ("technical_indicators", Seq("sma_5", "sma_20", "close_ret")),
      "norm." -> ("normalized_features", Seq("close_minmax", "close_z")),
      "mkt."  -> ("market_features", Seq("hour_sin", "hour_cos"))
    ).flatMap { case (pfx, (m, ks)) => ks.map(k =>
      struct(lit(pfx + k).as("feature_key"),
        element_at(col(m), k).as("feature_value"))) }
    mlReadyFrame(spark, dir)
      .select(col("user_id"), col("bucket"), round(col("close"), 6).as("close"),
        col("quality_score"), col("quality_level"), col("data_source"),
        inline(array(kvs: _*)))
  }

  val k2FeatureSaveSql: String = Tables.candlesSql +
    """, f AS (
      |  SELECT user_id, bucket, close,
      |    CASE WHEN count(close) OVER w5 = 5 THEN avg(close) OVER w5 END AS sma_5,
      |    CASE WHEN count(close) OVER w20 = 20 THEN avg(close) OVER w20 END AS sma_20,
      |    (close - lag(close) OVER w) / nullif(lag(close) OVER w, 0) AS close_ret,
      |    (close - min(close) OVER wa) / nullif(max(close) OVER wa - min(close) OVER wa, 0) AS close_minmax,
      |    (close - avg(close) OVER wa) / nullif(stddev_samp(close) OVER wa, 0) AS close_z,
      |    sin(CAST(extract(hour FROM bucket) AS DOUBLE) * pi() * 2 / 24) AS hour_sin,
      |    cos(CAST(extract(hour FROM bucket) AS DOUBLE) * pi() * 2 / 24) AS hour_cos
      |  FROM candles
      |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket),
      |         w5 AS (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |         w20 AS (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
      |         wa AS (PARTITION BY user_id)),
      |wide AS (
      |  SELECT user_id, bucket, round(close, 6) + 0 AS close,
      |         95.0 AS quality_score, 'good' AS quality_level, 'api' AS data_source,
      |         round(sma_5, 6) + 0 AS "tech.sma_5", round(sma_20, 6) + 0 AS "tech.sma_20",
      |         round(close_ret, 6) + 0 AS "tech.close_ret",
      |         round(close_minmax, 6) + 0 AS "norm.close_minmax", round(close_z, 6) + 0 AS "norm.close_z",
      |         round(hour_sin, 6) + 0 AS "mkt.hour_sin", round(hour_cos, 6) + 0 AS "mkt.hour_cos"
      |  FROM f)
      |SELECT user_id, bucket, close, quality_score, quality_level, data_source,
      |       feature_key, feature_value
      |FROM wide
      |UNPIVOT INCLUDE NULLS (feature_value FOR feature_key IN (
      |  "tech.sma_5", "tech.sma_20", "tech.close_ret",
      |  "norm.close_minmax", "norm.close_z", "mkt.hour_sin", "mkt.hour_cos"))""".stripMargin

  /** K2 physical write: the MLReady frame, MapType columns and all, as
    * ZSTD Parquet (Parquet maps ≙ the reference's JSONB columns). */
  def writeMlReady(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(path)

  // -------------------------------------------------------------- writers
  /** K1/K2 physical write: date-partitioned ZSTD Parquet append — the
    * storage layout §1.1 prescribes (partition pruning ≙ chunk
    * exclusion). */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.withColumn("date", to_date(col("ts")))
      .write.mode(SaveMode.Append)
      .partitionBy("date")
      .option("compression", "zstd")
      .parquet(path)

  /** K5 retention delete as a partition-level rewrite (plain-Parquet
    * stand-in for Delta `DELETE WHERE` / partition drop). The kept rows
    * land beside the table, then the same two-rename swap as
    * [[compactPartitioned]]: every failure point leaves a full copy on
    * disk, and a filesystem op that reports failure raises. */
  def applyRetention(spark: SparkSession, path: String, cutoff: String): Unit = {
    val kept = spark.read.parquet(path).filter(col("date") >= lit(cutoff))
    val tmp = new Path(path + "_retained")
    val old = new Path(path + "_expired")
    kept.write.mode(SaveMode.Overwrite).partitionBy("date")
      .option("compression", "zstd").parquet(tmp.toString)
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    swap(fs, new Path(path), tmp, old)
  }

  /** Replace `live` by `fresh`, keeping `live`'s data at `old` until
    * `fresh` is in place: a crash after the first rename leaves the
    * data recoverable from `old`. Each rename and delete must report
    * success; a `false` raises instead of going on to drop the only
    * copy. */
  private def swap(fs: FileSystem, live: Path, fresh: Path, old: Path): Unit = {
    if (fs.exists(old)) require(fs.delete(old, true), s"swap: stale $old not removed")
    require(fs.rename(live, old), s"swap: rename $live -> $old failed")
    require(fs.rename(fresh, live), s"swap: rename $fresh -> $live failed; data kept at $old")
    require(fs.delete(old, true), s"swap: $old not removed")
  }

  /** K7 — JSON export of a small result (reports/params). */
  def exportJson(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(path)

  /** Small-file compaction — the maintenance job a 100 TB lake runs
    * continuously: streaming appends leave thousands of KB-sized files
    * per date partition, and scan planning + file-open cost eventually
    * dominates reads. Each partition is rewritten into
    * ceil(bytes / target) files, sized from its ACTUAL on-disk bytes
    * (never a global constant). The directory listing is a driver-side
    * metadata op proportional to partition count; each rewrite is a
    * distributed job touching only partitions whose file count exceeds
    * the target — untouched partitions cost nothing. Returns the
    * (date, files_before, files_after, bytes) census. */
  def compactPartitioned(spark: SparkSession, path: String,
                         targetBytes: Long = 128L << 20): Seq[(String, Int, Int, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
      .map { p =>
        val files = fs.listStatus(p.getPath)
          .filter(_.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        val date = p.getPath.getName.stripPrefix("date=")
        if (want < files.length) {
          val tmp = new Path(p.getPath.getParent, s".compact_tmp_$date")
          val old = new Path(p.getPath.getParent, s".compact_old_$date")
          spark.read.parquet(p.getPath.toString)
            .repartition(want)
            .write.mode(SaveMode.Overwrite)
            .option("compression", "zstd")
            .parquet(tmp.toString)
          // two-rename swap: every failure point leaves a full copy on
          // disk (crash after the first rename ⇒ the partition is
          // recoverable from .compact_old_<date>; delete-then-rename
          // would lose it). The old copy is dropped only once the new
          // data is live.
          swap(fs, p.getPath, tmp, old)
          (date, files.length, want, bytes)
        } else (date, files.length, files.length, bytes)
      }
  }

  // ---------------------------------------------------------------- z-order
  /** Z-ORDER layout manifest — the multi-dimensional clustering a
    * 100 TB lake applies so BOTH `user_id` predicates and time-range
    * predicates prune files (date-only partitioning serves one and
    * table-scans the other; Delta/Iceberg `OPTIMIZE ZORDER BY` is this
    * exact computation). Each row's Morton code interleaves the 16-bit
    * key and day dimensions; the top 8 bits pick the target file, and
    * the emitted manifest row per file carries the min/max of each
    * dimension — the skip statistics a reader consults. The spec
    * quantifies the win: under Z-order a single-user predicate touches
    * a bounded fraction of files, where a time-sorted layout touches
    * every one.
    *
    * One map pass + one 256-group aggregate — the shape of a layout job
    * at any scale; the actual rewrite is `repartitionByRange(zval)` +
    * [[writePartitioned]], same plan. */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame = {
    // zero-origin both dimensions first (the layout job's tiny stats
    // pass, broadcast back) — otherwise the constant high bits of the
    // absolute day index make every row share one coarse z-cell
    val base = Tables.events(spark, dir)
      .select(col("user_id"),
        // day index via epoch floor: TZ-independent on both engines
        floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
    val mins = base.agg(min(col("user_id")).as("min_uid"),
      min(col("day")).as("min_day_abs"))
    val zval = (0 until 8).map { i =>
      shiftleft(shiftright(col("xb"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(col("yb"), i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
    base.crossJoin(broadcast(mins))
      .select(col("user_id"), col("day"),
        (col("user_id") - col("min_uid")).bitwiseAND(0xFF).as("xb"),
        (col("day") - col("min_day_abs")).bitwiseAND(0xFF).as("yb"))
      .withColumn("zfile", shiftright(zval, 6))
      .groupBy(col("zfile"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        min(col("day")).as("min_day"), max(col("day")).as("max_day"))
  }

  val layoutZorderSql: String = {
    val terms = (0 until 8).map { i =>
      s"(((xb >> $i) & 1) << ${2 * i}) + (((yb >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH d AS (
       |  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day FROM events),
       |m AS (SELECT min(user_id) AS min_uid, min(day) AS min_day_abs FROM d),
       |b AS (
       |  SELECT user_id, day, (user_id - min_uid) & 255 AS xb,
       |         (day - min_day_abs) & 255 AS yb
       |  FROM d CROSS JOIN m),
       |z AS (
       |  SELECT user_id, day, ($terms) >> 6 AS zfile FROM b)
       |SELECT zfile, count(*) AS n_rows,
       |       min(user_id) AS min_user, max(user_id) AS max_user,
       |       min(day) AS min_day, max(day) AS max_day
       |FROM z GROUP BY zfile""".stripMargin
  }

  // ------------------------------------------------------- K3/K7 round-trips
  /** K3 — indicator-rows save as a driver-verified ROUND-TRIP: daily
    * indicator rows are physically written date-partitioned (the §1.1
    * storage layout), then read back through a partition-pruning
    * predicate, and the read-back content is what the oracle checks —
    * so the write path, the partition encoding (date → directory →
    * DATE-typed column on read), and chunk-exclusion pruning are all
    * under the hash gate, not just a spec. The pruned week is the
    * query result; `PlanSpec` asserts the scan carries PartitionFilters
    * rather than reading all 30 days. */
  def k3IndicatorRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    // pid-suffixed + exit-swept like k1CowPath (graft.util.Scratch):
    // concurrent engine JVMs on one dir must not race each other's
    // roundtrip rewrites
    val tmp = graft.util.Scratch.path("k3", dir)
    val daily = Tables.candles(spark, dir)
      .groupBy(col("user_id"), to_date(col("bucket")).as("date"))
      .agg(count(lit(1)).as("n_candles"),
        round(avg(col("close")), 6).as("avg_close"),
        round(max(col("high")), 6).as("max_high"),
        round(min(col("low")), 6).as("min_low"))
    // distribute on (date, user_id) ranges before the partitioned
    // write (see k1MergeCow for the r16 skew rationale) — date-
    // clustered files, hot dates split across writers
    clusterForDateWrite(daily)
      .write.mode(SaveMode.Overwrite).partitionBy("date")
      .option("compression", "zstd").parquet(tmp)
    // explicit schema: the consumer contract — and an EMPTY write leaves
    // no footers to infer from (schema inference would throw)
    spark.read.schema(daily.schema).parquet(tmp)
      .filter(col("date") >= lit("2024-01-08") && col("date") < lit("2024-01-15"))
      // pruning happens on the DATE-typed partition column above; the
      // output carries it as a timestamp (the driver compare's
      // canonical temporal type)
      .select(col("user_id"), col("date").cast("timestamp").as("day"),
        col("n_candles"), col("avg_close"), col("max_high"), col("min_low"))
  }

  val k3IndicatorRoundtripSql: String = Tables.candlesSql +
    """, daily AS (
      |  SELECT user_id, CAST(date_trunc('day', bucket) AS DATE) AS date,
      |         count(*) AS n_candles,
      |         round(avg(close), 6) + 0 AS avg_close,
      |         round(max(high), 6) + 0 AS max_high,
      |         round(min(low), 6) + 0 AS min_low
      |  FROM candles GROUP BY 1, 2)
      |SELECT user_id, CAST(date AS TIMESTAMP) AS day,
      |       n_candles, avg_close, max_high, min_low
      |FROM daily
      |WHERE date >= DATE '2024-01-08' AND date < DATE '2024-01-15'""".stripMargin

  /** K7 — JSON export as a driver-verified ROUND-TRIP: the per-type
    * report is exported through [[exportJson]] (single-part, the
    * reference's report shape), read back under an EXPLICIT schema (no
    * inference — the contract a downstream consumer codes against),
    * and the read-back rows are what the oracle checks. Pins that
    * doubles survive the JSON text round-trip exactly (Spark writes
    * shortest-round-trip representations). */
  def k7JsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.util.Scratch.path("k7", dir)
    exportJson(
      Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total_value")),
      tmp)
    spark.read.schema("event_type STRING, n BIGINT, total_value DOUBLE").json(tmp)
  }

  val k7JsonRoundtripSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 6) + 0 AS total_value
      |FROM events GROUP BY event_type""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k1_upsert_merge"    -> (upsertMerged _),
    "k1_merge_cow"       -> (k1MergeCow _),
    "k2_feature_save"    -> (k2FeatureSave _),
    "k3_indicator_roundtrip" -> (k3IndicatorRoundtrip _),
    "k7_json_roundtrip"  -> (k7JsonRoundtrip _),
    "layout_zorder"      -> (layoutZorder _),
    "k5_retention"       -> (retentionFilter _))

  def oracles: Map[String, String] = Map(
    "k1_upsert_merge"    -> upsertMergedSql,
    "k1_merge_cow"       -> k1MergeCowSql,
    "k2_feature_save"    -> k2FeatureSaveSql,
    "k3_indicator_roundtrip" -> k3IndicatorRoundtripSql,
    "k7_json_roundtrip"  -> k7JsonRoundtripSql,
    "layout_zorder"      -> layoutZorderSql,
    "k5_retention"       -> retentionFilterSql)
}
