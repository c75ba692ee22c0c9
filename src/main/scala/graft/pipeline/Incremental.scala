package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.block.{Blocking, BoundScheme}
import graft.cluster.ConnectedComponents
import graft.plans.Evaluated
import graft.sim.Distances

/** Incremental dedupe — attach a NEW batch of records to an EXISTING
  * clustered corpus without re-clustering the world (the realistic
  * operating mode at 10^12 turns: the corpus is clustered once, and
  * each ingest batch is deduped against it).
  *
  * Beyond the reference (oagdedupe re-runs its whole pipeline), but
  * built from its operators: the incoming batch is blocked against the
  * existing records with the record-linkage join (J2), scored with the
  * same similarity kernel, and each incoming record that clears the
  * threshold joins the cluster of its best-scoring existing match
  * (ties → smallest component id — deterministic). Records that match
  * nothing are deduped AMONG THEMSELVES (capped self-join + connected
  * components), so intra-batch duplicates still merge; the rest become
  * singletons.
  *
  * Scale shape: one linkage join (inverted index over the existing
  * side is the precomputable/bucketable half), one map-only scoring
  * pass, one groupBy(id) min(struct) for the argmax attach — partial
  * aggregation, no window — and a CC run sized to the LEFTOVER batch,
  * not the corpus. A leftover graph of at most 200k edges (an ingest
  * batch's, in practice) runs CC's rounds on the driver: CC collects
  * the edges once, with no per-round job and no checkpoint left
  * behind; a larger one takes the distributed loop. The attach result is evaluated once, nothing
  * pinned: the leftover anti-join (read by CC and by `fresh`) and the
  * returned union all read one [[Evaluated.once]] frame, so the
  * linkage blocking, hydration, scoring and argmax shuffles run once
  * per call instead of once per consumer, and no storage block is left
  * behind.
  */
object Incremental {

  /** @param existing  existing records (must cover the ids in clusters)
    * @param clusters  (id, component) for the existing corpus
    * @param incoming  the new batch (same schema as existing)
    * @return (id, component, attached) for every incoming record:
    *         attached = true → component is an existing cluster id;
    *         false → a new cluster keyed by its minimum incoming id.
    */
  def attach(existing: DataFrame, clusters: DataFrame, incoming: DataFrame,
             conjunction: Seq[BoundScheme],
             idCol: String = "conv_id",
             threshold: Double = 0.8,
             maxBlockSize: Int = Blocking.DefaultMaxBlockSize): DataFrame = {
    val pairs = Blocking.linkagePairs(incoming, existing, conjunction,
      idCol, maxBlockSize)
    val all = incoming.unionByName(existing)
    val scored = Distances.ruleScore(Distances.features(pairs, all, idCol))
      .filter(col("score") > threshold)
    // best existing match per incoming id: max score, tie → min
    // component (min over (-score, component) — an aggregate, not a
    // window)
    val attached = Evaluated.once(scored
      .join(clusters.withColumnRenamed("id", "id_r"), "id_r")
      .groupBy(col("id_l").as("id"))
      .agg(min(struct((-col("score")).as("neg"), col("component")))
        .as("_best"))
      .select(col("id"), col("_best.component").as("component"),
        lit(true).as("attached")))
    // leftover: incoming records that attached to nothing — dedupe
    // them against each other, then singletons
    val leftover = incoming
      .join(attached.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    val leftoverPairs = Blocking.candidatePairs(leftover, conjunction,
      idCol, maxBlockSize)
    val leftoverEdges = Distances.ruleScore(
        Distances.features(leftoverPairs, leftover, idCol))
      .filter(col("score") > threshold)
    val (comps, _) = ConnectedComponents.run(leftoverEdges)
    val fresh = leftover.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"),
        lit(false).as("attached"))
    attached.unionByName(fresh)
  }
}
