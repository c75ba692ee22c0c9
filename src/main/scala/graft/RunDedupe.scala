package graft

import graft.pipeline.Dedupe

/** spark-submit / sbt-runMain entry point for the dedupe pipeline.
  *
  * Usage: graft.RunDedupe <sfDir> [workDir]
  *   sfDir   — directory with orders.parquet + lineitem.parquet
  *   workDir — optional checkpoint root (stages resume from it)
  *
  * Prints a one-line JSON summary: learned conjunctions, pair count,
  * cluster count, CC supersteps, pairwise F1 vs planted truth.
  */
object RunDedupe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val workDir = if (args.length > 1) Some(args(1)) else None
    val spark = GraftSession.local()

    val t0 = System.nanoTime()
    val result = Dedupe.run(spark, sfDir, workDir = workDir)
    val nPairs = result.pairs.count()
    val nClusters = result.clusters.select("component").distinct().count()
    val nRecords = result.records.count()
    val (f1, tp, fp, fn) = Dedupe.pairwiseF1(spark, sfDir, result.scored)
    val wall = (System.nanoTime() - t0) / 1e9
    val conjs = result.conjunctions.take(5)
      .map(c => "\"" + c.conjunction.mkString("&") + "\"").mkString("[", ",", "]")
    println(
      s"""{"records":$nRecords,"pairs":$nPairs,"clusters":$nClusters,""" +
      s""""cc_supersteps":${result.ccSupersteps.size},"f1":$f1,""" +
      s""""tp":$tp,"fp":$fp,"fn":$fn,"wall_sec":$wall,""" +
      s""""top_conjunctions":$conjs}""")
    spark.stop()
  }
}
