package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.{Files, Paths}

/** The stored-index lifecycle across a regenerated corpus: every
  * stored index, memo and cached frame derived from a dir's
  * `embeddings` is keyed by the corpus fingerprint, so regenerating the
  * table inside one session serves the new corpus — never the index of
  * the old one — while an unchanged corpus reuses its stored build. */
class StoredIndexSpec extends SparkSpec {

  private val lifecycle: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq("ann_ivf2_serve" -> (Similarity.annIvf2Serve _),
      "ann_sq8_serve" -> (Similarity.annSq8Serve _),
      "ann_ivfsq_serve" -> (Similarity.annIvfSqServe _),
      "ann_ivf2_delete" -> (Similarity.annIvf2Delete _),
      "ann_brute_force" -> (Similarity.annBruteForce _))

  /** A deterministic corpus unlike the fixture's, with a different row
    * count and the fixture's exact schema (so a stale cached frame of
    * the old table would still match the new table's plan). */
  private def writeCorpus(dir: String, n: Int): Unit = {
    val rows = (0L until n.toLong).map { i =>
      Row(i, Array.tabulate(64)(d => math.sin(0.37 * (i * 64 + d) + 1.0).toFloat).toSeq,
        (i % 7).toInt)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
        graft.Tables.embeddings(spark, sfDir).schema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("one memoized float corpus per (session, dir)") {
    assert(Similarity.corpus(spark, sfDir) eq Similarity.corpus(spark, sfDir))
  }

  test("a corpus regenerated in-session is served fresh; an unchanged one reuses its build") {
    val regen = graft.util.Scratch.register(Files.createTempDirectory("graft_regen").toString)
    val fresh = graft.util.Scratch.register(Files.createTempDirectory("graft_fresh").toString)
    Files.copy(Paths.get(s"$sfDir/embeddings.parquet"), Paths.get(s"$regen/embeddings.parquet"))
    writeCorpus(fresh, 300)

    lifecycle.foreach { case (name, q) => assert(q(spark, regen).count() > 0, name) }
    // an unchanged fingerprint does not rebuild: the delete row stages
    // from the stored routing index and leaves its marker alone
    val marker = new java.io.File(Similarity.ivf2ServePath(regen), "_GRAFT_INDEX_COMPLETE")
    val builtAt = marker.lastModified()
    assert(builtAt > 0L, "the serve rows must leave a completed index")
    Similarity.annIvf2Delete(spark, regen).collect()
    Similarity.ivf2ServeRead(spark, regen).collect()
    assert(marker.lastModified() == builtAt, "an unchanged corpus must not rebuild its index")

    writeCorpus(regen, 300)
    lifecycle.foreach { case (name, q) =>
      assert(same(q(spark, regen), q(spark, fresh)),
        s"$name over the regenerated dir must equal $name over a dir holding only the new corpus")
    }
    assert(Similarity.corpusCount(spark, regen) == 300L)
    Seq(regen, fresh).foreach { d =>
      Seq(Similarity.ivf2ServePath(d), Similarity.sq8ServePath(d)).foreach(graft.util.Scratch.cleanupPath)
      graft.util.Scratch.cleanupPath(d)
    }
  }
}
