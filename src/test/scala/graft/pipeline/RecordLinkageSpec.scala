package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite

class RecordLinkageSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("record-linkage mode links the planted cross-table truth at F1 >= 0.99") {
    val result = RecordLinkage.run(spark, sfDir)
    val (f1, tp, fp, fn) = Dedupe.pairwiseF1(spark, sfDir, result.scored)
    info(s"RL f1=$f1 tp=$tp fp=$fp fn=$fn")
    assert(f1 >= 0.99, s"record-linkage F1 $f1 (tp=$tp fp=$fp fn=$fn)")
    // pairs must cross tables: id_l always from the c-corpus, id_r from d
    val bad = result.pairs.filter(!col("id_l").startsWith("c") ||
      !col("id_r").startsWith("d")).count()
    assert(bad == 0)
  }

  test("pairwiseF1 leaves the session's persistent RDDs as it found them") {
    import spark.implicits._
    val scored = Seq(("c10", "d10", 0.95), ("c11", "d12", 0.9),
      ("c20", "d20", 0.1)).toDF("id_l", "id_r", "score")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, tp, fp, _) = Dedupe.pairwiseF1(spark, sfDir, scored)
    assert(tp + fp == 2)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("a linkage run and its F1 leave at most CC's final round registered") {
    // an earlier run's cache of the same records plan would be reused
    // by a new cache() and hide its entry
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = RecordLinkage.run(spark, sfDir)
    val (f1, _, _, _) = Dedupe.pairwiseF1(spark, sfDir, result.scored)
    assert(f1 >= 0.99)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 1, s"persistent RDDs left registered: $added")
  }

  test("RL clusters carry (cluster, id, _type) with cross-table membership") {
    val clusters = RecordLinkage.run(spark, sfDir).clusters
    assert(clusters.columns.toSeq == Seq("cluster", "id", "_type"))
    val types = clusters.select("_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(types == Set("left", "right"))
    // edges are strictly cross-table → every cluster mixes both sides
    val oneSided = clusters.groupBy("cluster")
      .agg(countDistinct(col("_type")).as("t"))
      .filter(col("t") < 2).count()
    assert(oneSided == 0)
    // _type namespacing: the same raw id may exist on both sides of a
    // match without self-collapse — the pair survives as two rows
    import spark.implicits._
    val scored = Seq(("x", "x", 0.99)).toDF("id_l", "id_r", "score")
    val (comps, _) = graft.cluster.ConnectedComponents.run(scored.select(
      concat(lit("l:"), col("id_l")).as("id_l"),
      concat(lit("r:"), col("id_r")).as("id_r")))
    assert(comps.count() == 2) // both nodes kept, one component
    assert(comps.select("component").distinct().count() == 1)
  }
}
