package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.block.{DriverBlocks, Labels, Learner, Schemes}
import graft.ml.MatchClassifier

/** The BASELINE.json gate: the full learned-blocking pipeline must
  * reproduce the planted entity clusters at pairwise F1 ≥ 0.99 on the
  * labeled evaluation set (north rule).
  */
class DedupeE2ESpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("end-to-end dedupe reaches pairwise F1 >= 0.99 at sf0.001") {
    val result = Dedupe.run(spark, sfDir, Dedupe.Config())
    val (f1, tp, fp, fn) = Dedupe.pairwiseF1(spark, sfDir, result.scored)
    info(s"f1=$f1 tp=$tp fp=$fp fn=$fn " +
      s"conjunctions=${result.conjunctions.take(3).map(_.conjunction)}")
    assert(f1 >= 0.99, s"pairwise F1 $f1 below gate (tp=$tp fp=$fp fn=$fn)")

    // clusters: every truth pair ends in the same component
    val truth = graft.block.Labels.truthPairs(spark, sfDir)
    val comp = result.clusters
    val joined = truth
      .join(comp.select(col("id").as("id_l"), col("component").as("c_l")), "id_l")
      .join(comp.select(col("id").as("id_r"), col("component").as("c_r")), "id_r")
    assert(joined.filter(col("c_l") =!= col("c_r")).count() == 0)

    // CC superstep trail exists (convergence checkpointed per superstep)
    assert(result.ccSupersteps.size >= 2)
  }

  test("CSV-landed corpus: the full learned pipeline reaches the same " +
    "F1 gate from a csv ingest (documented first-run path)") {
    import graft.synth.Transcripts
    val csvPath = java.nio.file.Files
      .createTempDirectory("graft_csv_corpus").toString + "/turns.csv"
    // land the corpus as a headered CSV, then run the pipeline from
    // Transcripts.readTurns — the reference's pd.read_csv entry path
    Transcripts.transcripts(spark, sfDir).write
      .option("header", "true").csv(csvPath)
    val turns = Transcripts.readTurns(spark, csvPath, format = "csv")
    val result = Dedupe.run(spark, sfDir, Dedupe.Config(),
      turns = Some(turns))
    val (f1, tp, fp, fn) = Dedupe.pairwiseF1(spark, sfDir, result.scored)
    info(s"csv e2e: f1=$f1 tp=$tp fp=$fp fn=$fn")
    assert(f1 >= 0.99, s"pairwise F1 $f1 below gate (tp=$tp fp=$fp fn=$fn)")
  }

  test("resume: a committed clusters stage skips the CC iteration " +
    "entirely and returns identical clusters") {
    val workDir = java.nio.file.Files
      .createTempDirectory("graft_dedupe_resume").toString
    val first = Dedupe.run(spark, sfDir, Dedupe.Config(), Some(workDir))
    // cold run executed CC: superstep trail is non-trivial
    assert(first.ccSupersteps.size >= 2)
    val firstClusters = first.clusters.orderBy("id").collect().toSeq

    val resumed = Dedupe.run(spark, sfDir, Dedupe.Config(), Some(workDir))
    // CC's convergence loop runs INSIDE staged("clusters"): on resume
    // the committed output is read back and the iteration never runs —
    // the trail (only populated by an actual ConnectedComponents.run
    // call) must be empty
    assert(resumed.ccSupersteps.isEmpty,
      "resumed run re-executed the connected-components iteration")
    assert(resumed.clusters.orderBy("id").collect().toSeq == firstClusters)
  }

  test("in-memory runs score the same rows on both budget paths") {
    // the driver path's local pairs frame carries a row count, so the
    // hydration gate may plan a different join shape than for the
    // Spark path's checkpoint; the scored rows must not differ
    def scored(driverPaths: Boolean) = {
      val r = Dedupe.runWith(spark, sfDir, Dedupe.Config(), None, None,
        driverPaths)
      val rows = r.scored.collect().toSet
      Seq(r.pairs, r.scored).foreach(graft.plans.Checkpoints.release)
      r.records.unpersist()
      rows
    }
    val driver = scored(driverPaths = true)
    val sparkPath = scored(driverPaths = false)
    assert(driver.nonEmpty && driver == sparkPath,
      s"${(driver -- sparkPath).size} driver-only, " +
        s"${(sparkPath -- driver).size} Spark-only scored rows")
  }

  test("driver and Spark featurization commit the same features and " +
    "scores: planted sf0.001") {
    // both pair sets featurized on the driver, or both by the Spark plans
    // over cached TF-IDF relations; compared as row multisets
    def stages(driverPaths: Boolean) = {
      val wd = java.nio.file.Files.createTempDirectory("graft_features")
        .toString
      val r = Dedupe.runWith(spark, sfDir, Dedupe.Config(), Some(wd), None,
        driverPaths)
      r.records.unpersist()
      Seq("features", "scores").map(s => spark.read.parquet(s"$wd/$s")
        .collect().toSeq.groupBy(identity).map { case (k, v) => k -> v.size })
    }
    val Seq(df, ds) = stages(driverPaths = true)
    val Seq(sf, ss) = stages(driverPaths = false)
    assert(df.nonEmpty && df == sf, "features differ")
    assert(ds.nonEmpty && ds == ss, "scores differ")
  }

  test("driver and Spark budget paths emit the same pairs: planted " +
    "sf0.001 and its learned list") {
    val recs = graft.normalize.Normalize.normalize(
      graft.synth.Transcripts.transcripts(spark, sfDir)).cache()
    val labs = Labels.plantedLabels(spark, sfDir).cache()
    try {
      val cfg = Dedupe.Config()
      val blocks = DriverBlocks(recs, Schemes.forAttributes(cfg.blockingAttrs))
      val learner = new Learner(recs, labs, cfg.blockingAttrs, cfg.k,
        cfg.seedRrCut, cfg.maxBlockSize, maxCompare = cfg.maxCompare,
        blocks = blocks)
      val learned = Dedupe.bestFirst(learner.learn())
      learner.unpersist()
      val admitted = Dedupe.applicableConjunctions(learned, recs.count(),
        cfg.maxCompare)
      val byName = Schemes.byName(cfg.blockingAttrs)
      val conjs = admitted.map(_.conjunction.map(byName))
      val bound = admitted.map(_.nPairs).sum
      assert(conjs.size > 8 && bound <= Dedupe.DriverPairBound)
      Seq(cfg.nCovered, 1L).foreach { nCovered =>
        def run(b: Option[DriverBlocks]) = Dedupe.budgetPairs(recs, conjs,
          bound, nCovered, cfg.maxBlockSize, b)
        def pairs(df: DataFrame) =
          df.collect().map(r => (r.getString(0), r.getString(1))).toSet
        val driver = pairs(run(blocks))
        val sparkPath = run(None)
        assert(driver.nonEmpty && driver == pairs(sparkPath),
          s"nCovered=$nCovered")
        graft.plans.Checkpoints.release(sparkPath)
      }
    } finally { recs.unpersist(); labs.unpersist() }
  }

  /** The planted labels and fixed-blocking candidate pairs, featurized
    * with the pipeline's feature vector (5 distances + TF-IDF cosine),
    * passed to `check` with the feature column names. */
  private def withFixedBlocking(check: (DataFrame, DataFrame, Seq[String]) => Unit)
      : Unit = {
    import graft.block.{Blocking, BoundScheme, FirstNChars}
    import graft.sim.Distances
    val records = graft.normalize.Normalize.normalize(
      graft.synth.Transcripts.transcripts(spark, sfDir)).cache()
    val labels = Labels.plantedLabels(spark, sfDir)
    val pairs = Blocking.candidatePairs(records,
      Seq(BoundScheme(FirstNChars(8), "head_text")))
    def featurize(p: DataFrame) =
      Distances.features(p, records)
        .join(graft.sim.TfIdf.cosine(p.select("id_l", "id_r"), records),
          Seq("id_l", "id_r"))
    val cols = Seq("jw_head", "jw_role", "jw_full", "lev_full", "jac_full",
      "tfidf_cos")
    try check(
      featurize(labels.select("id_l", "id_r")).join(labels, Seq("id_l", "id_r")),
      featurize(pairs), cols)
    finally records.unpersist()
  }

  test("random_forest classifier reaches the same F1 gate (fixed blocking)") {
    withFixedBlocking { (train, pairFeatures, cols) =>
      val model = MatchClassifier.train(train, cols, MatchClassifier.RandomForest)
      val scored = MatchClassifier.score(model, pairFeatures, cols)
      val (f1, tp, fp, fn) = Dedupe.pairwiseF1(spark, sfDir, scored)
      info(s"RF f1=$f1 tp=$tp fp=$fp fn=$fn")
      assert(f1 >= 0.99, s"RF pairwise F1 $f1 below gate (tp=$tp fp=$fp fn=$fn)")
    }
  }

  test("logistic fits on the driver and in spark.ml match the same pairs " +
    "(fixed blocking)") {
    import org.apache.spark.ml.classification.LogisticRegressionModel
    withFixedBlocking { (train0, pairFeatures, cols) =>
      val train = train0.cache()
      val feats = pairFeatures.cache()
      def matches(m: LogisticRegressionModel) =
        MatchClassifier.score(m, feats, cols).filter(col("score") > 0.8)
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val d = MatchClassifier.train(train, cols)
        .asInstanceOf[LogisticRegressionModel]
      val s = MatchClassifier.trainWith(train, cols, MatchClassifier.Logistic,
        driverRows = -1).asInstanceOf[LogisticRegressionModel]
      // the labeled set is separable: the two fits stop at different
      // finite coefficients, so predictions are compared, not weights
      val drift = (d.coefficients.toArray :+ d.intercept)
        .zip(s.coefficients.toArray :+ s.intercept)
        .map { case (x, y) => math.abs(x - y) }.max
      val (md, ms) = (matches(d), matches(s))
      info(f"${train.count()} labels, ${feats.count()} pairs, ${md.size} " +
        f"matched; driver ${d.coefficients} ${d.intercept}%.3f, spark.ml " +
        f"${s.coefficients} ${s.intercept}%.3f, drift $drift%.3f")
      assert(!d.hasSummary && s.hasSummary, "each fit took its own path")
      assert(md.nonEmpty && md == ms)
      train.unpersist(); feats.unpersist()
    }
  }
}
