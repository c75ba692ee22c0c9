package graft

import graft.emb.EmbeddingOps

/** spark-submit / sbt-runMain entry point for the PRODUCTION ANN path:
  * fit the learned quantizers (spark.ml KMeans — the real coarse/
  * product quantizers the deterministic lowest-vec_id codebooks stand
  * in for during oracle checks), search with them, and report recall
  * against brute-force ground truth plus the PQ reconstruction error.
  *
  * Usage: graft.RunAnn <sfDir> [nCentroids] [nprobe]
  *
  * Prints one JSON line:
  *   {"n_vectors":..,"ivf_recall":..,"ivf_recall_learned":..,
  *    "pq_recall_learned":..,"pq_recon_demo":..,"pq_recon_learned":..,
  *    "wall_sec":..}
  */
object RunAnn {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val nCentroids = if (args.length > 1) args(1).toInt else 16
    val nprobe = if (args.length > 2) args(2).toInt else 4
    val (nQueries, k) = (8, 10)
    val spark = GraftSession.local()

    val t0 = System.nanoTime()
    val emb = EmbeddingOps.embeddings(spark, sfDir).cache()
    val n = emb.count()

    // ground truth: exact brute-force top-k per query
    val exact = EmbeddingOps.bruteForceTopK(emb, nQueries, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .count(exact.contains).toDouble / exact.size

    // IVF: deterministic demo centroids vs LEARNED KMeans centroids.
    // Recall is reported NEXT TO the scanned fraction: demo cells are
    // degenerate (one giant cell ⇒ probing ≈ brute force), so its high
    // recall buys almost no work reduction; the learned quantizer's
    // recall per scanned candidate is the number that matters.
    val ivfDemo = recallOf(EmbeddingOps.ivfTopK(
      emb, nCentroids, nprobe, nQueries, k).collect())
    val scanDemo = EmbeddingOps.ivfScanFraction(
      emb, nCentroids, nprobe, nQueries)
    val cents = EmbeddingOps.kmeansCentroids(emb, nCentroids)
    val ivfLearned = recallOf(EmbeddingOps.ivfTopK(
      emb, nCentroids, nprobe, nQueries, k, Some(cents)).collect())
    val scanLearned = EmbeddingOps.ivfScanFraction(
      emb, nCentroids, nprobe, nQueries, Some(cents))

    // PQ: learned per-subspace codebooks + reconstruction-error check
    val cbs = EmbeddingOps.kmeansCodebooks(emb, m = 8, k = 16)
    val pqLearned = recallOf(EmbeddingOps.pqTopK(
      emb, m = 8, k = 16, nQueries, k, Some(cbs)).collect())
    val reconDemo = EmbeddingOps.pqReconstructionError(emb, m = 8, k = 16)
    val reconLearned = EmbeddingOps.pqReconstructionError(
      emb, m = 8, k = 16, Some(cbs))

    val wall = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"n_vectors":$n,"n_centroids":$nCentroids,"nprobe":$nprobe,""" +
      s""""ivf_recall":$ivfDemo,"ivf_scan_fraction":$scanDemo,""" +
      s""""ivf_recall_learned":$ivfLearned,""" +
      s""""ivf_scan_fraction_learned":$scanLearned,""" +
      s""""pq_recall_learned":$pqLearned,"pq_recon_demo":$reconDemo,""" +
      s""""pq_recon_learned":$reconLearned,"wall_sec":$wall}""")
    spark.stop()
  }
}
