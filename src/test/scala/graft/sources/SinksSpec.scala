package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical writers (K1/K2/K5/K7): partitioned ZSTD layout, retention as
  * partition drop, JSON export — driven against a temp dir. */
class SinksSpec extends SparkSpec {

  test("writePartitioned lays out date partitions readable with pruning; retention drops old ones") {
    val dir = graft.util.Scratch.register(Files.createTempDirectory("graft_sink").toString) + "/events"
    val src = Tables.events(spark, sfDir).select(col("ts"), col("user_id"), col("value"))
    Sinks.writePartitioned(src, dir)

    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    assert(back.columns.contains("date"))
    val days = back.select(countDistinct(col("date"))).head().getLong(0)
    assert(days > 5, s"expected multiple date partitions, got $days")
    // a date predicate must prune partitions at the file-index level
    val plan = back.filter(col("date") === "2024-01-05")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(1000))

    val keepFrom = back.select(date_format(max(col("date")) - expr("INTERVAL 5 DAYS"), "yyyy-MM-dd"))
      .head().getString(0)
    // materialize the expectation BEFORE retention rewrites the files
    val expectedKept = back.filter(col("date") >= lit(keepFrom)).count()
    assert(expectedKept > 0 && expectedKept < back.count())
    Sinks.applyRetention(spark, dir, keepFrom)
    val after = spark.read.parquet(dir)
    assert(after.select(min(col("date"))).head().getDate(0).toString >= keepFrom)
    assert(after.count() == expectedKept)
  }

  test("MLReady frame persists MapType feature columns; to_json/from_json round-trips them") {
    val dir = graft.util.Scratch.register(Files.createTempDirectory("graft_mlready").toString) + "/mlready"
    val src = Sinks.mlReadyFrame(spark, sfDir)
    Sinks.writeMlReady(src, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    // the three reference JSONB dicts come back as real MapType columns
    import org.apache.spark.sql.types.{MapType, StringType, DoubleType}
    Seq("technical_indicators", "normalized_features", "market_features").foreach { c =>
      assert(back.schema(c).dataType == MapType(StringType, DoubleType, valueContainsNull = true),
        s"$c should be map<string,double>, got ${back.schema(c).dataType}")
    }
    // JSON round-trip: serialize a map column, parse it back, values survive
    // maps aren't orderable — compare their sorted entry arrays
    val rt = back.select(
        array_sort(map_entries(col("technical_indicators"))).as("orig"),
        array_sort(map_entries(from_json(to_json(col("technical_indicators")),
          MapType(StringType, DoubleType)))).as("rt"))
      .filter(!(col("orig") <=> col("rt")))
    assert(rt.isEmpty, "to_json/from_json round trip lost map entries")
  }

  test("exportJson writes a single readable JSON part") {
    val dir = graft.util.Scratch.register(Files.createTempDirectory("graft_json").toString) + "/report"
    val df = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    Sinks.exportJson(df, dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    assert(parts.length == 1, "coalesce(1) should produce one part file")
    val back = spark.read.json(dir)
    assert(back.count() == df.count())
  }

  test("a corrupt part-file is skipped under ignoreCorruptFiles instead of killing the scan") {
    // the 100 TB reality: out of millions of part-files a few arrive
    // truncated; the lake read path must degrade to "skip + log", not
    // fail the whole job
    val dir = graft.util.Scratch.register(Files.createTempDirectory("graft_corrupt").toString) + "/t"
    Tables.events(spark, sfDir).select(col("user_id"), col("value"))
      .coalesce(1).write.parquet(dir)
    val good = spark.read.parquet(dir).count()
    Files.write(java.nio.file.Paths.get(dir, "part-corrupt.parquet"),
      "not a parquet file".getBytes)
    val failed =
      try { spark.read.parquet(dir).count(); false }
      catch { case _: Throwable => true }
    assert(failed, "without the flag a corrupt file must surface as an error")
    val keep = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    try {
      spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
      assert(spark.read.parquet(dir).count() == good,
        "with the flag the scan must return every healthy row")
    } finally keep match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None    => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  test("compaction collapses small-file partitions without changing the data") {
    val dir = graft.util.Scratch.register(Files.createTempDirectory("graft_compact").toString) + "/events"
    val src = Tables.events(spark, sfDir).select(col("ts"), col("user_id"), col("value"))
    // simulate streaming-append fragmentation: many tiny files per partition
    Sinks.writePartitioned(src.repartition(20), dir)
    val before = spark.read.parquet(dir)
    val nBefore = before.count()
    val sumBefore = before.select(sum(col("value"))).head().getDouble(0)
    val fragged = new java.io.File(dir).listFiles().filter(_.getName.startsWith("date="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(fragged.exists(_ > 5), s"fixture should be fragmented, got $fragged")

    val census = Sinks.compactPartitioned(spark, dir, targetBytes = 1L << 30)
    assert(census.nonEmpty)
    census.foreach { case (date, b, a, bytes) =>
      assert(a <= b, s"$date grew: $b -> $a")
      assert(a == 1, s"$date: 1 GiB target must collapse a tiny partition to one file, got $a")
      assert(bytes > 0)
    }
    val filesAfter = new java.io.File(dir).listFiles().filter(_.getName.startsWith("date="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(filesAfter.forall(_ == 1), s"expected 1 file per partition, got $filesAfter")
    val after = spark.read.parquet(dir)
    assert(after.count() == nBefore)
    assert(math.abs(after.select(sum(col("value"))).head().getDouble(0) - sumBefore) < 1e-6)
  }

  test("a rename the filesystem refuses raises and leaves every row readable") {
    // the swap's renames go through a filesystem that refuses them (Spark's
    // own commit renames under _temporary still work); before the checks a
    // refused partition swap was followed by a delete of the only copy
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nomove.impl", classOf[SinksSpec.RefuseRenameFs].getName)
    conf.setBoolean("fs.nomove.impl.disable.cache", true)
    val local = graft.util.Scratch.register(Files.createTempDirectory("graft_refuse").toString)
    val dir = s"nomove://$local/events"
    val src = Tables.events(spark, sfDir).select(col("ts"), col("user_id"), col("value"))
    Sinks.writePartitioned(src.repartition(20), dir)
    val n = spark.read.parquet(dir).count()
    val days = spark.read.parquet(dir).select(countDistinct(col("date"))).head().getLong(0)
    val refused = Seq(
      intercept[IllegalArgumentException](Sinks.compactPartitioned(spark, dir, targetBytes = 1L << 30)),
      intercept[IllegalArgumentException](Sinks.applyRetention(spark, dir, "2024-01-05")))
    refused.foreach(e => assert(e.getMessage.contains("swap: rename"), e.getMessage))
    val after = spark.read.parquet(dir)
    assert(after.count() == n, "every row must still be readable at the table path")
    assert(after.select(countDistinct(col("date"))).head().getLong(0) == days)
  }

  test("k1_merge_cow is genuinely copy-on-write: untouched date partitions keep their pass-1 files") {
    val out = Sinks.k1MergeCow(spark, sfDir)
    val rows = out.collect()
    // semantic floor (values are oracle-pinned; this is the shape check)
    val origins = rows.map(_.getString(4)).toSet
    assert(origins == Set("kept", "updated", "inserted"), s"origins: $origins")
    val cutoff = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    assert(rows.filter(_.getTimestamp(1).before(cutoff)).forall(_.getString(4) == "kept"),
      "a date before the correction batch's horizon was modified")
    // physical COW assertion, time-independent: every part file of one
    // write job shares that job's UUID in its name. Pass 1 writes all
    // dates; pass 2 (dynamic overwrite of the merged frame) must
    // replace ONLY the touched dates — so untouched partitions carry
    // pass-1 UUIDs, touched partitions pass-2 UUIDs, and the sets are
    // disjoint. A silent fallback to STATIC overwrite (which deletes
    // every other partition) or a whole-table rewrite both fail here.
    val root = new java.io.File(Sinks.k1CowPath(sfDir))
    val uuidsByDate = root.listFiles().filter(_.getName.startsWith("date="))
      .map { d =>
        val uuids = d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(_.getName.replaceFirst("^part-\\d+-", "").replaceFirst("-c\\d+.*$", "")).toSet
        d.getName.stripPrefix("date=") -> uuids
      }.toMap
    val (hot, untouched) = uuidsByDate.partition(_._1 >= "2024-01-10")
    assert(hot.nonEmpty && untouched.nonEmpty, s"fixture spans the cutoff: ${uuidsByDate.keys}")
    val passOne = untouched.values.flatten.toSet
    val passTwo = hot.values.flatten.toSet
    assert(passOne.size == 1, s"untouched partitions must all be pass-1 files: $passOne")
    assert(passTwo.size == 1, s"touched partitions must all be pass-2 files: $passTwo")
    assert((passOne intersect passTwo).isEmpty,
      "touched and untouched partitions share a write job - not copy-on-write")
  }

  test("z-order manifest: a single-user predicate skips most files") {
    val manifest = Sinks.layoutZorder(spark, sfDir).cache()
    val nFiles = manifest.count()
    assert(nFiles > 4, s"expected a real file spread, got $nFiles")
    // a reader consults min/max skip stats: files whose [min_user,
    // max_user] band misses user_id = 42 are never opened. A layout
    // sorted purely by time has every user in every file (each file a
    // contiguous time slice) — zero skipping on this predicate.
    val touched = manifest
      .filter(col("min_user") <= 42 && col("max_user") >= 42).count()
    assert(touched.toDouble / nFiles <= 0.5,
      s"z-order should bound the touched fraction: $touched/$nFiles")
    // and the day dimension still prunes too (the point of interleaving:
    // BOTH dimensions keep locality)
    val someDay = manifest.agg(min(col("min_day"))).head().getLong(0)
    val dayTouched = manifest
      .filter(col("min_day") <= someDay && col("max_day") >= someDay).count()
    assert(dayTouched < nFiles,
      s"day predicate should skip at least one file: $dayTouched/$nFiles")
    // suites share one session: a leaked cache entry substitutes an
    // executed AQE plan into later suites' explains (PlanAuditSpec saw
    // final+initial plans double-counted)
    manifest.unpersist()
  }
}

object SinksSpec {
  /** The local filesystem under the `nomove` scheme, refusing every
    * rename outside a Spark job's `_temporary` commit dir. */
  class RefuseRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("nomove:///")
    override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
      src.toString.contains("_temporary") && super.rename(src, dst)
  }
}
