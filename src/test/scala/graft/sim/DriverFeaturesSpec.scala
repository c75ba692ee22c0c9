package graft.sim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.block.DriverBlocks

/** The driver-side featurizer against the Spark plans it replaces
  * (`Distances.featuresFor` ⋈ `TfIdf.cosine`), row for row, and the jobs
  * it runs. The comparisons are exact: both sides quantize the outputs of
  * the same expressions, and the cosines' sums are sums of integers. */
class DriverFeaturesSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val plan = Distances.defaultPlan
  private val keys = Seq("id_l", "id_r")

  // 14 rows: null, "" and all-space full_text (d, e, f); "half" on 7
  // distinct ids (df = n/2, kept) and "over" on 8 (dropped), so that g's
  // every token is capped away; a repeated conv_id (r); a null id, whose
  // tokens count in no df; non-ASCII tokens
  private lazy val recs = Seq[(String, String, String, String)](
    ("a", "alpha beta", "u a", "half over café 日本 alpha"),
    ("b", "alpha bets", "u t a", "half over alpha beta"),
    ("c", "gamma", "t t", "half over gamma"),
    ("d", null, "u", null),
    ("e", "", "", ""),
    ("f", "   ", " ", "   "),
    ("g", "cap", "u a", "over over"),
    ("r", "rep one", "u a", "half rep one"),
    ("r", "rep two", "u t", "half over rep two 日本"),
    (null, "nul", "u", "half over nul"),
    ("h", "delta", "a a", "half over delta café"),
    ("i", "epsilon", "u a", "half over epsilon"),
    ("j", "zeta", "u", "over zeta"),
    ("k", "eta", "t", "half eta theta"))
    .toDF("conv_id", "head_text", "role_seq", "full_text")

  // no pair row repeats; (a, zz) has an id missing from the records and
  // (null, a) a null id: both are dropped
  private lazy val pairs = Seq[(String, String)](
    ("a", "b"), ("a", "c"), ("a", "r"), ("r", "h"), ("d", "e"), ("e", "f"),
    ("f", "a"), ("g", "a"), ("a", "zz"), (null, "a"), ("k", "i"), ("j", "c"),
    ("b", "a"), ("a", "a")).toDF("id_l", "id_r")

  /** The ids as longs (single letters and "zz" have distinct codes). */
  private def longIds(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, ascii(col(c)).cast("long")))

  private def driver(records: DataFrame): DriverFeatures = {
    val (rows, chars) = DriverBlocks.volume(records,
      DriverFeatures.attributes(plan))
    assert(DriverBlocks.small(records, (rows, chars.head)))
    DriverFeatures(records, plan, (rows, chars.head))
  }

  /** What the pipeline computed before: the Spark plans, with `p`'s other
    * columns joined back. */
  private def expected(p: DataFrame, records: DataFrame): DataFrame = {
    val ids = p.select(keys.map(col): _*)
    val f = Distances.featuresFor(ids, records, plan)
      .join(TfIdf.cosine(ids, records), keys)
    if (p.columns.toSeq == keys) f else f.join(p, keys)
  }

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def sameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    val (g, w) = (bag(got), bag(want))
    assert(g == w, s"driver-only ${g.toSet diff w.toSet}, " +
      s"Spark-only ${w.toSet diff g.toSet}")
  }

  test("driver features equal the Spark plans' on an edge-case fixture: " +
    "string ids") {
    val want = expected(pairs, recs)
    // premises: "half" (df = n/2) is kept, "over" (n/2 + 1) is not, g's
    // cosines are 0, the repeated id fans out, missing and null ids drop
    val cos = want.collect().map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Double]("tfidf_cos")).toMap
    assert(cos(("k", "i")) > 0.0 && cos(("j", "c")) == 0.0 &&
      cos(("g", "a")) == 0.0)
    assert(want.filter($"id_l" === "a" && $"id_r" === "r").count() == 2)
    assert(want.count() == 14)
    sameRows(driver(recs).featurize(pairs), want)
  }

  test("driver features equal the Spark plans' on an edge-case fixture: " +
    "long ids, a label carried through, an empty pair set") {
    val longRecs = longIds(recs, "conv_id")
    val labeled = longIds(pairs, "id_l", "id_r")
      .withColumn("label", when($"id_l" === ascii(lit("a")), 1).otherwise(0))
    val f = driver(longRecs)
    sameRows(f.featurize(labeled), expected(labeled, longRecs))
    val none = labeled.limit(0)
    val empty = f.featurize(none)
    assert(empty.count() == 0)
    sameRows(empty, expected(none, longRecs))
    // string-id features against the string-id corpus: the same values
    val strings = driver(recs).featurize(pairs).drop(keys: _*).collect()
    assert(f.featurize(labeled).drop((keys :+ "label"): _*).collect()
      .groupBy(identity).view.mapValues(_.length).toMap ==
      strings.groupBy(identity).view.mapValues(_.length).toMap)
  }

  // a range-backed corpus of 700 ids, so that reading it is a job
  private def corpus: DataFrame = spark.range(700).select(
    concat(lit("r"), $"id").as("conv_id"),
    concat(lit("h"), $"id" % 7).as("head_text"),
    lit("u a").as("role_seq"),
    concat_ws(" ", concat(lit("t"), $"id" % 5), concat(lit("s"), $"id" % 11),
      lit("x")).as("full_text"))

  // `n` distinct pairs of corpus ids
  private def rangePairs(n: Long): DataFrame = spark.range(n).select(
    concat(lit("r"), ($"id" / 700).cast("long")).as("id_l"),
    concat(lit("r"), $"id" % 700).as("id_r"))

  test("construction runs one collect") {
    val recs = corpus
    val (rows, chars) = DriverBlocks.volume(recs,
      DriverFeatures.attributes(plan))
    val (_, jobs, _) = counting(DriverFeatures(recs, plan, (rows, chars.head)))
    assert(jobs == 1, s"$jobs jobs")
  }

  test("a featurize call within the bound runs at most its bounded read " +
    "and returns a local frame") {
    val f = driver(corpus)
    val p = rangePairs(50)
    val (_, readJobs, _) = counting(
      p.limit(DriverFeatures.PairBound + 1).collect())
    val (out, jobs, _) = counting(f.featurize(p))
    assert(jobs <= readJobs, s"$jobs jobs, the read alone $readJobs")
    assert(out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val (_, collectJobs, _) = counting(out.collect())
    assert(collectJobs == 0)
  }

  test("a featurize call over the bound returns the Spark plans after its " +
    "one read, with the same rows") {
    val recs = corpus.cache()
    try {
      val f = driver(recs)
      val over = DriverFeatures.PairBound + 1
      val p = rangePairs(over)
      val (_, readJobs, _) = counting(p.limit(over).collect())
      val (out, jobs, _) = counting(f.featurize(p))
      assert(jobs == readJobs, s"$jobs jobs, the read alone $readJobs")
      assert(!out.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      val want = expected(p, recs)
      assert(out.columns.toSeq == want.columns.toSeq)
      assert(out.count() == over && out.exceptAll(want).isEmpty &&
        want.exceptAll(out).isEmpty)
    } finally recs.unpersist()
  }
}
