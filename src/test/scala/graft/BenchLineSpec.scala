package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver keeps only the last ~2000 chars of Bench stdout; round 2's
  * full per-query line overflowed it and the whole bench parsed as null.
  * Pin the rendered headline line comfortably under the limit with
  * worst-case widths, and keep every headline pick a real query. */
class BenchLineSpec extends AnyFunSuite {

  test("headline bench line fits the driver's stdout tail with margin") {
    // worst case: every value prints like 12345.678 (9 chars)
    val qs = Bench.headline
      .map(k => "\"" + k + "\":12345.678").mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":99999.999,"unit":"sec","warmup_sec":99999.999,"n_queries":9999,"n_errors":9999,"max_query":"some_rather_long_query_name","max_sec":99999.999,"queries":$qs,"sf":"/root/testdata/sf0.1"}"""
    assert(line.length < 1800,
      s"bench line would be ${line.length} chars; driver tail is ~2000")
  }

  test("every headline pick is a registered query") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names not in queries: $missing")
  }

  test("the query selector picks the headline set and rejects unknown or empty lists") {
    assert(Bench.select(Some("headline")).map(_._1) === Bench.headline.sorted)
    assert(Bench.select(None).size === SparkEntry.queries.size)
    assert(Bench.select(Some(" w4_ema,q1_agg")).map(_._1) === Seq("q1_agg", "w4_ema"))
    intercept[IllegalArgumentException](Bench.select(Some("q1_agg,no_such_query")))
    intercept[IllegalArgumentException](Bench.select(Some(" , ")))
  }

  test("bench action is pruning-proof: count() blesses a broken column, consume must fire it") {
    val spark = SparkSpec.session
    // `10 div (id-1)` throws ANSI DIVIDE_BY_ZERO at id = 1 — but only if
    // the column is actually computed. Over a real leaf (range; a
    // LocalRelation would be folded eagerly), count() prunes it (the r8
    // defect: a crashing query benched green); consume must crash.
    val broken = spark.range(3).selectExpr("10 div (id - 1) AS inv", "id")
    assert(broken.count() == 3, "count() prunes the division — precondition of the test")
    intercept[Exception](BenchAction.consume(broken))
    val ok = spark.range(1, 3).selectExpr("10 div id AS inv", "id")
    assert(BenchAction.consume(ok)._1 == 2L, "consume must report the row count")
  }

  test("map columns checksum by contents, not entry order") {
    val spark = SparkSpec.session
    // same map contents, opposite construction order — Spark preserves
    // entry insertion order in the value, and hash(map) is entry-order
    // sensitive, so without canonicalization these would checksum apart
    val ab = spark.range(5).selectExpr("map('a', id, 'b', id * 2) AS m", "id")
    val ba = spark.range(5).selectExpr("map('b', id * 2, 'a', id) AS m", "id")
    val (na, ha) = BenchAction.consume(ab)
    val (nb, hb) = BenchAction.consume(ba)
    assert(na == 5L && nb == 5L)
    assert(ha == hb, "checksum must be invariant under map entry order")
    val diff = spark.range(5).selectExpr("map('a', id, 'b', id * 3) AS m", "id")
    assert(BenchAction.consume(diff)._2 != ha, "different contents must differ")
  }
}
