package graft.scale

import graft.SparkSpec

/** The Count-Min ε-band lives here, not in the DuckDB oracle: the
  * upper bound est ≤ exact + ε·N holds with probability 1−δ per item,
  * so it is a property of this fixed (fixture, seed) pair — pinning
  * TRUE in a hash-compared oracle would turn a legitimate probabilistic
  * miss into a correctness failure. The deterministic guarantee
  * (est ≥ exact, counters only over-count) stays oracle-checked in
  * `sk_heavy_hitters_cms`. */
class SketchesSpec extends SparkSpec {

  test("CMS estimates over-count and stay inside the eps band on the fixed fixture") {
    val band = Sketches.cmsErrorBand(spark, sfDir)
    assert(band.size == 20)
    band.foreach { case (s, exact, est, slack) =>
      assert(est >= exact, s"'$s': CMS must never under-count ($est < $exact)")
      assert(est <= exact + slack,
        s"'$s': est $est exceeds exact $exact + eps*N $slack on the fixed seed/fixture")
    }
  }

  test("approx distinct keeps a type whose values are all null, with n_exact 0") {
    val dir = graft.util.Scratch.register(
      java.nio.file.Files.createTempDirectory("sk_allnull").toString)
    import spark.implicits._
    Seq((1L, 1723500000000000L, "view", Some(1.5)),
      (2L, 1723500000000001L, "view", Some(2.5)),
      (3L, 1723500000000002L, "view", None),
      (4L, 1723500000000003L, "refund", None),
      (5L, 1723500000000004L, "refund", None))
      .toDF("user_id", "us", "event_type", "value")
      .selectExpr("user_id", "timestamp_micros(us) AS ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Sketches.skApproxDistinct(spark, dir)
      .as[(String, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("refund", 0L, true), ("view", 2L, true)))
  }
}
