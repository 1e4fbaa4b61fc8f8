package graft

import org.scalatest.funsuite.AnyFunSuite

/** Specs run the engine every main runs: the shared spec session comes
  * from [[EngineConf.session]], so it carries the production confs. */
class EngineConfSpec extends AnyFunSuite {

  test("the spec session carries the engine confs") {
    val conf = SparkSpec.session.conf
    assert(conf.get("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(conf.get("spark.sql.codegen.useIdInClassName") === "false")
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
  }
}
