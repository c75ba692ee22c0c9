package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite with SparkSuite {

  test("the fixture's session carries GraftSession.local(4)'s settings") {
    val sc = spark.sparkContext
    assert(sc.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(sc.getConf.get("spark.ui.enabled") == "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(spark.conf.get(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
  }
}
