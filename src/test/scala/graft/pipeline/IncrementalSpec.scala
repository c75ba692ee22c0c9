package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.block.{BoundScheme, FirstNChars}

class IncrementalSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val cols = Seq("conv_id", "head_text", "role_seq", "full_text")

  test("incoming records attach to existing clusters; leftovers dedupe " +
    "among themselves; the rest become singletons") {
    val existing = Seq(
      ("e1", "alpha beta gamma", "u a", "alpha beta gamma delta"),
      ("e2", "alpha beta gamm", "u a", "alpha beta gamma delta"),
      ("e9", "zeta eta theta", "u t", "zeta eta theta iota"))
      .toDF(cols: _*)
    val clusters = Seq(("e1", "e1"), ("e2", "e1"), ("e9", "e9"))
      .toDF("id", "component")
    val incoming = Seq(
      ("n1", "alpha beta gamma", "u a", "alpha beta gamma delta"),
      ("n2", "qqq www eee", "u a", "qqq www eee rrr"),
      ("n3", "qqq www eee", "u a", "qqq www eee rrr"),
      ("n4", "unique text here", "u t", "unique text here indeed"))
      .toDF(cols: _*)
    val out = Incremental.attach(existing, clusters, incoming,
        Seq(BoundScheme(FirstNChars(4), "head_text")))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getBoolean(2))))
      .toMap
    assert(out.size == 4)
    assert(out("n1") == (("e1", true)))   // joins the existing cluster
    assert(out("n2") == (("n2", false)))  // intra-batch dup pair →
    assert(out("n3") == (("n2", false)))  //   one NEW cluster
    assert(out("n4") == (("n4", false)))  // nothing matched → singleton
  }

  test("empty incoming batch and no-match batch behave") {
    val existing = Seq(("e1", "alpha beta", "u a", "alpha beta gamma"))
      .toDF(cols: _*)
    val clusters = Seq(("e1", "e1")).toDF("id", "component")
    val nothing = Seq(("n7", "totally different", "u t", "totally different x"))
      .toDF(cols: _*)
    val out = Incremental.attach(existing, clusters, nothing,
        Seq(BoundScheme(FirstNChars(4), "head_text")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(("n7", "n7", false)))
  }

  test("attach reads each existing cluster row exactly once") {
    val existing = Seq(
      ("e1", "alpha beta gamma", "u a", "alpha beta gamma delta"),
      ("e2", "alpha beta gamm", "u a", "alpha beta gamma delta"),
      ("e9", "zeta eta theta", "u t", "zeta eta theta iota"))
      .toDF(cols: _*)
    // every evaluation of the attach plan scans `clusters` again: the
    // tap counts cluster rows read across all of attach's jobs
    val reads = spark.sparkContext.longAccumulator("cluster rows read")
    val tap = org.apache.spark.sql.functions.udf { (c: String) =>
      reads.add(1); c
    }.asNondeterministic()
    val clusters = Seq(("e1", "e1"), ("e2", "e1"), ("e9", "e9"))
      .toDF("id", "component")
      .select($"id", tap($"component").as("component"))
    val incoming = Seq(
      ("n1", "alpha beta gamma", "u a", "alpha beta gamma delta"),
      ("n2", "qqq www eee", "u a", "qqq www eee rrr"),
      ("n3", "qqq www eee", "u a", "qqq www eee rrr"))
      .toDF(cols: _*)
    val out = Incremental.attach(existing, clusters, incoming,
        Seq(BoundScheme(FirstNChars(4), "head_text")))
      .collect()
    assert(out.length == 3)
    assert(reads.value == 3, s"${reads.value} cluster rows read for 3")
  }
}
