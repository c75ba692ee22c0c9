package graft

import org.apache.spark.sql.DataFrame
import graft.normalize.Normalize
import graft.sim.Distances
import graft.synth.Transcripts

/** Dumps `.explain("formatted")` for the declared queries plus the
  * bench's hydration/scoring stage frames to `plans/r06/<name>_<tag>.txt`
  * (guide §1: capture the plan shape — Exchange count, join strategy,
  * PushedFilters — before and after each optimization).
  *
  * Usage: sbt "runMain graft.ExplainDump before [sfDir]"
  *
  * Runs at local[N], N = `SPARK_GRAFT_CPUS` or the machine's processor
  * count, with Bench's 4×N scoring shuffle width; the committed r06
  * dumps are N = 8 (hashpartitioning(…, 32)).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val tag = if (args.nonEmpty) args(0) else "before"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = GraftSession.cores
    val spark = GraftSession.local()
    spark.conf.set("spark.sql.shuffle.partitions", (cpus * 4).toString)
    val outDir = java.nio.file.Paths.get("plans/r06")
    java.nio.file.Files.createDirectories(outDir)

    def dump(name: String, df: => DataFrame): Unit = {
      val plan = try {
        val qe = df.queryExecution
        qe.explainString(org.apache.spark.sql.execution.ExplainMode
          .fromString("formatted"))
      } catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$tag.txt"), plan)
      System.err.println(s"[explain] $name -> ${name}_$tag.txt")
    }

    // the bench's hydration + scoring frames (records cached like Bench)
    val records = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
      .cache()
    records.count()
    val allPairs = Bench.fixedPairs(records).localCheckpoint()
    val hydrated = Bench.hydrateForScoring(allPairs, records, cpus * 4)
    dump("hydration", hydrated)
    dump("scoring", Distances.ruleScore(
      Distances.featuresFromHydrated(hydrated)))

    // declared queries touched (or candidates) this round
    val names = Seq("q05_inverted_index", "q06_candidate_pairs",
      "q08_pairs_ngram", "q10_distances", "q11_scores", "q13_clusters",
      "q16_tfidf_cosine", "q26_doc_minhash_pairs", "q31_ann_topk",
      "q33_pairs_salted", "q45_conj_scores", "q50_sorted_neighborhood")
    names.foreach { n => dump(n, SparkEntry.queries(n)(spark, sfDir)) }
    spark.stop()
  }
}
