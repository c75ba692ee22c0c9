package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-singleton). */
object SparkSessionFixture {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSuite {
  lazy val spark: SparkSession = SparkSessionFixture.spark
}
