package graft.block

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The driver-side block engine: which corpora it takes, the jobs its
  * construction costs, and exact keys wider than 31 bits. Its statistics
  * and pairs on small fixtures are compared with the Spark paths in
  * `LearnerSpec` and `DedupeUnitSpec`. */
class DriverBlocksSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val attrs = Seq("head_text", "role_seq")

  test("the path bound counts attribute chars, not rows") {
    // three rows, over the char bound between them
    val long = "abcdefghij" * 70001
    val recs = Seq(("a", long, "u a"), ("b", long, "u a"),
      ("c", long.reverse, "t t")).toDF("conv_id", "head_text", "role_seq")
    assert(DriverBlocks(recs, Schemes.forAttributes(attrs)).isEmpty)
    // the same rows with short strings take the driver path
    val small = DriverBlocks(recs.withColumn("head_text", $"conv_id"),
      Schemes.forAttributes(attrs))
    assert(small.map(_.rows).contains(3))
  }

  test("construction runs the volume and collect jobs, and only the " +
    "volume job over the bound") {
    // a range-backed corpus, so that the collect is a job too
    def corpus(headChars: Int) = spark.range(6).select(
      concat(lit("r"), col("id")).as("conv_id"),
      repeat(lit("ab "), headChars / 3).as("head_text"),
      lit("u a").as("role_seq"))
    val (small, smallJobs, _) = counting(
      DriverBlocks(corpus(30), Schemes.forAttributes(attrs)))
    assert(small.isDefined && smallJobs == 2, s"$smallJobs jobs")
    val (big, bigJobs, _) = counting(
      DriverBlocks(corpus(400002), Schemes.forAttributes(attrs)))
    assert(big.isEmpty && bigJobs == 1, s"$bigJobs jobs")
  }

  test("a conjunction whose key codes pass 31 bits pairs as the Spark " +
    "plan does") {
    // 1,500 / 1,400 / 1,300 values: 11 bits each, so the third position
    // is numbered by a dictionary; rows 2k and 2k+1 share a and b, and
    // c for two thirds of k
    val recs = spark.range(3000).selectExpr("cast(id as string) as conv_id",
      "concat('a', id div 2) as a", "concat('b', (id div 2) % 1400) as b",
      "concat('c', (id div 3) % 1300) as c")
    val conj = Seq("a", "b", "c").map(BoundScheme(ExactMatch, _))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    val driver = DriverBlocks(recs, conj).get.pairs(100)
    driver.add(Seq(conj))
    val expected = pairs(Blocking.candidatePairs(recs, conj, "conv_id", 100))
    val got = pairs(driver.frame)
    val differ = (got diff expected) ++ (expected diff got)
    assert(expected.size > 900 && differ.size == 0)
  }
}
