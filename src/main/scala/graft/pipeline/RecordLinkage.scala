package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.block.{Blocking, BoundScheme, FirstNChars, FindNgrams}
import graft.cluster.ConnectedComponents
import graft.normalize.Normalize
import graft.plans.Evaluated
import graft.sim.Distances
import graft.synth.Transcripts

/** Record-linkage mode — the reference's second deployment mode
  * (settings.py:34-37 `dedupe: bool`, `*_link` table family,
  * utils.py:1-34 decorators): match entities ACROSS two tables, pairs
  * not ordering-constrained, cluster ids namespaced by source table
  * (reference `_type` column, tables.py:285-300).
  *
  * Exercised here by linking the original conversation corpus (c…)
  * against the perturbed-duplicate corpus (d…): ground truth is the
  * planted (c<k>, d<k>) map.
  */
object RecordLinkage {

  /** block-size cap for the n-gram linkage conjunction (see run()). */
  val NgramLinkCap = 10

  final case class Result(pairs: DataFrame, scored: DataFrame,
                          clusters: DataFrame)

  def run(spark: SparkSession, sfDir: String,
          threshold: Double = 0.8): Result = {
    // read by both blocking sides and by hydration: evaluated once,
    // with no cache entry left for the caller to release
    val records = Evaluated.once(Normalize.normalize(
      Transcripts.transcripts(spark, sfDir)))
    val left = records.filter(col("conv_id").startsWith("c"))
    val right = records.filter(col("conv_id").startsWith("d"))

    // J2: cross-table blocked pairs, two conjunctions unioned. The
    // n-gram side runs under a TIGHTER cap than the prefix side: a
    // 6-gram shared by many conversations is boilerplate vocabulary —
    // non-informative for linkage — and at cap 100 such grams
    // contributed ~90% of the candidate volume (and the dominant cost
    // of this pipeline's oracle mirror) while recall stayed with the
    // rare grams + the prefix conjunction (F1 gate unchanged,
    // RecordLinkageSpec).
    val conj1 = Seq(BoundScheme(FirstNChars(8), "head_text"))
    val conj2 = Seq(BoundScheme(FindNgrams(6), "head_text"))
    val pairs = Blocking.unionPairs(Seq(
        Blocking.linkagePairs(left, right, conj1),
        Blocking.linkagePairs(left, right, conj2,
          maxBlockSize = NgramLinkCap)))
      .select(col("id_l"), col("id_r"))

    // M1 + rule score (id_l from left table, id_r from right table)
    val scored = Distances.ruleScore(
      Distances.features(pairs, records))
      .select("id_l", "id_r", "score")

    // C1 with _type-namespaced node ids (reference cluster.py:83-129 +
    // tables.py:285-300): every node is tagged with its source table
    // BEFORE clustering, so ids that collide across the two tables can
    // never be merged by accident, and the output carries (cluster,
    // id, _type) exactly like the reference's maindf/maindf_link split.
    val edges = scored.filter(col("score") > threshold)
    val (comps, _) = ConnectedComponents.run(edges.select(
      concat(lit("l:"), col("id_l")).as("id_l"),
      concat(lit("r:"), col("id_r")).as("id_r")))
    val clusters = comps.select(
      col("component").as("cluster"),
      col("id").substr(lit(3), length(col("id"))).as("id"),
      when(col("id").startsWith("l:"), lit("left"))
        .otherwise(lit("right")).as("_type"))
    Result(pairs, scored, clusters)
  }
}
