package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.block.{Blocking, BoundScheme, ConjStats, DriverBlocks, Labels,
  Learner, Schemes}
import graft.cluster.ConnectedComponents
import graft.io.TableIO
import graft.ml.MatchClassifier
import graft.normalize.Normalize
import graft.plans.Checkpoints
import graft.sim.{Distances, DriverFeatures, TfIdf}
import graft.synth.Transcripts

/** End-to-end dedupe pipeline — the Spark rebuild of the reference's
  * three entry points (oagdedupe api.py: initialize → fit_blocks →
  * predict, SURVEY.md §3) collapsed into one driver program:
  *
  *   transcripts → normalize → learn conjunctions on a train sample →
  *   blocked candidate pairs under a pair budget → similarity features →
  *   logistic match classifier → score > threshold edges →
  *   large-star/small-star connected components → clusters (+
  *   singletons) joined back to records.
  *
  * Every stage can be checkpointed through [[graft.io.TableIO]]
  * (resume-from-checkpoint per the north rule) when `workDir` is given;
  * with `workDir = None` the pipeline runs fully in-memory (tests).
  */
object Dedupe {

  final case class Config(
      k: Int = 3,
      seedRrCut: Double = 0.99,
      maxBlockSize: Int = Blocking.DefaultMaxBlockSize,
      nCovered: Long = 500000L, // reference settings.py:47-48
      maxCompare: Long = 1000000L, // reference settings.py:44-45
      threshold: Double = 0.8,  // reference cluster/cluster.py:24
      // cap on labeled pairs fed to the learner + classifier (0 = all):
      // stratified seeded sample per class. The reference trains from a
      // SMALL annotated set (pos/neg samples + active-learning rounds,
      // initialize.py:100-115) — handing every planted truth pair to
      // the DP learner made the learner stage scale with corpus size
      // (345 s of a 545 s sf0.1 run) for no estimate quality gain:
      // rr/coverage statistics converge with hundreds of labels.
      maxTrainLabels: Int = 2000,
      seed: Long = 42L,
      useMlClassifier: Boolean = true,
      // which spark.ml algorithm backs the match classifier: logistic
      // (north-star default) or random_forest (the reference's actual
      // sklearn model, fapi.py:161-184)
      classifier: String = MatchClassifier.Logistic,
      // runtime-configurable attributes (reference settings.py:77 +
      // dynamic table generation tables.py:74-103): which attributes
      // the blocking learner may use, and which (attr, metric)
      // similarity columns the classifier sees
      blockingAttrs: Seq[String] = Normalize.blockingAttributes,
      features: Seq[Distances.AttrSim] = Distances.defaultPlan)

  /** min_rr / max_compare stop condition (reference
    * db/postgres/blocking.py:74-86): with n records the full-data
    * comparison space is C(n,2); a conjunction whose reduction ratio
    * falls below 1 − maxCompare / C(n,2) would admit more than
    * maxCompare pairs on its own, so it — and everything after it in
    * the best-first list — is refused. (rr here is the learner's
    * EXACT full-corpus statistic — Σ C(block,2) over cap-surviving
    * blocks, [[graft.block.Learner]] — the same quantity the reference
    * thresholds, computed on the whole data instead of a train sample.
    * For n-gram schemes the learner's n_pairs counts a pair once per
    * shared key — the induced join work, a documented upper bound — so
    * an n-gram conjunction's rr here is ≤ the reference's distinct-pair
    * rr and this stop refuses n-gram tails slightly EARLIER than
    * upstream; tune maxCompare, not the counting, if that margin ever
    * matters.)
    */
  def applicableConjunctions(conjunctions: Seq[ConjStats], nRecords: Long,
                             maxCompare: Long): Seq[ConjStats] = {
    val nComparisons = nRecords.toDouble * (nRecords - 1) / 2.0
    if (nComparisons <= 0) conjunctions
    else {
      val minRr = 1.0 - maxCompare / nComparisons
      conjunctions.takeWhile(_.rr >= minRr)
    }
  }

  /** The learned conjunctions best first: descending by the reference
    * key (rr, positives, −negatives), ties broken by the sorted scheme
    * names and then the names in conjunction order, so that equal-key
    * conjunctions are applied in one order whatever order the learner
    * returned them in. */
  private[graft] def bestFirst(conjunctions: Seq[ConjStats]): Seq[ConjStats] = {
    import scala.math.Ordering.Implicits.seqOrdering
    conjunctions.sortBy(c => (c.key, c.conjunction.sorted, c.conjunction))(
      Ordering.Tuple3(Ordering[(Double, Long, Long)].reverse,
        Ordering[Seq[String]], Ordering[Seq[String]]))
  }

  /** Conjunctions applied per budget step of [[budgetPairs]]. */
  private val BudgetChunk = 8

  /** The most pairs, summed over the admitted conjunctions' `nPairs`,
    * that [[budgetPairs]] emits on the driver. A conjunction's `nPairs`
    * counts a pair once per shared key, so the sum bounds every pair the
    * driver path holds at once. */
  private[graft] val DriverPairBound = 200000L

  /** Candidate pairs of the best-first `admitted` conjunctions under the
    * covered-pair budget (n_covered, blocking.py:43-98): the reference
    * counts after EVERY conjunction (one SQL round-trip each); here
    * conjunctions are applied in chunks of [[BudgetChunk]], with one
    * conflict-skip append and one count per chunk, so the budget can
    * overshoot by at most one chunk, and no chunk starts once `nCovered`
    * pairs are covered.
    *
    * Two paths, one loop. Given admitted conjunctions that bound the
    * pairs (`bound`, their summed `nPairs`, at most [[DriverPairBound]];
    * only then is `blocks` read) and a driver-side block engine
    * ([[graft.block.DriverBlocks]], over every scheme of `admitted`),
    * every chunk runs in driver memory with exact signature-tuple keys
    * and no Spark job; the result is a local frame and nothing is
    * checkpointed. Otherwise each chunk is one [[Blocking.chunkPairs]]
    * pass (a single grouped-pairs pipeline for the whole chunk); each
    * step's accumulated pairs are checkpointed to cut the lineage, and
    * the step it replaces is released once the new one is
    * materialized: only the returned (final) checkpoint stays
    * registered.
    */
  private[graft] def budgetPairs(records: DataFrame,
                                 admitted: Seq[Seq[BoundScheme]],
                                 bound: Long,
                                 nCovered: Long,
                                 maxBlockSize: Int,
                                 blocks: => Option[DriverBlocks]): DataFrame = {
    val driver =
      if (bound <= DriverPairBound) blocks.map(_.pairs(maxBlockSize)) else None
    var acc: DataFrame = null
    var covered = 0L
    var chunks = 0
    val it = admitted.grouped(BudgetChunk)
    while (it.hasNext && covered < nCovered) {
      val chunk = it.next()
      covered = driver match {
        case Some(d) => d.add(chunk)
        case None =>
          val p = Blocking.chunkPairs(records, chunk, "conv_id", maxBlockSize)
          val next = (if (acc == null) p
            else acc.unionByName(p.join(acc, Seq("id_l", "id_r"), "left_anti")))
            .localCheckpoint()
          val n = next.count()
          if (acc != null) Checkpoints.release(acc)
          acc = next
          n
      }
      chunks += 1
    }
    graft.Verbose.log("blocking")(
      s"path=${driver.fold("spark")(_ => "driver")} bound=$bound " +
      s"chunks=$chunks pairs=$covered")
    driver.fold(acc)(_.frame)
  }

  /** `ccSupersteps` is the connected-components convergence trail; it
    * is EMPTY when the `clusters` stage was resumed from a committed
    * checkpoint (the whole CC iteration is skipped on resume). */
  final case class Result(
      records: DataFrame,
      pairs: DataFrame,
      scored: DataFrame,
      clusters: DataFrame,
      conjunctions: Seq[ConjStats],
      ccSupersteps: Seq[ConnectedComponents.Superstep])

  /** U1: train union — records of every labeled pair ∪ an exact-n
    * uniform sample (reference pos ∪ neg ∪ unlabelled,
    * initialize.py:100-115). The sample orders by a seeded md5 instead
    * of an engine RNG: same uniform-without-replacement semantics, but
    * deterministic across engines AND runs (resume re-derives the
    * identical sample; TakeOrdered plan — per-partition heap + driver
    * merge of n rows, no full sort).
    */
  def trainSample(records: DataFrame, labels: DataFrame, trainN: Int,
                  seed: Long): DataFrame = {
    val labeledIds = labels.select(col("id_l").as("conv_id"))
      .unionByName(labels.select(col("id_r").as("conv_id"))).distinct()
    records.join(labeledIds, Seq("conv_id"), "left_semi")
      .unionByName(records
        .orderBy(md5(concat(lit(s"$seed:"), col("conv_id"))),
          col("conv_id"))
        .limit(trainN))
      .dropDuplicates("conv_id")
  }

  /** Stratified label cap (cfg.maxTrainLabels, half per class) via a
    * seeded-md5 order: deterministic across runs/engines, balanced
    * regardless of the corpus class ratio, TakeOrdered plan (no full
    * sort). `maxTrainLabels <= 0` keeps every planted label.
    */
  private def sampledLabels(labelsAll: DataFrame, cfg: Config): DataFrame =
    if (cfg.maxTrainLabels > 0) {
      val perClass = math.max(cfg.maxTrainLabels / 2, 1)
      def strat(v: Int) = labelsAll.filter(col("label") === v)
        .orderBy(md5(concat(lit(s"${cfg.seed}:"), col("id_l"),
          lit("|"), col("id_r"))), col("id_l"), col("id_r"))
        .limit(perClass)
      strat(1).unionByName(strat(0))
    } else labelsAll

  /** Daemon pool for [[run]]'s cache-prewarm overlap — daemon threads
    * so a crashed driver never hangs on pool shutdown. */
  private val prewarmEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "learner-prewarm")
        t.setDaemon(true)
        t
      }))

  /** `turns` overrides the default parquet ingest with a user-supplied
    * transcript-turn DataFrame of [[graft.synth.Transcripts.turnSchema]]
    * shape — the reference's documented CSV entry path
    * (docs/source/usage/dedupe.rst: `pd.read_csv(...)` →
    * `api.Dedupe(df=df)`) is `Transcripts.readTurns(spark, path)` fed
    * here; everything downstream is source-agnostic. */
  def run(spark: SparkSession, sfDir: String, cfg: Config = Config(),
          workDir: Option[String] = None,
          turns: Option[DataFrame] = None): Result =
    runWith(spark, sfDir, cfg, workDir, turns, driverPaths = true)

  /** [[run]], where `driverPaths = false` forces every Spark path: the
    * learner and the budget loop get no driver-side block engine, and
    * both pair sets are featurized by the Spark plans. */
  private[graft] def runWith(spark: SparkSession, sfDir: String, cfg: Config,
                             workDir: Option[String],
                             turns: Option[DataFrame],
                             driverPaths: Boolean): Result = {
    val io = workDir.map(new TableIO(spark, _))
    def staged(name: String, inputs: Seq[String],
               identity: Option[String] = None)(f: => DataFrame): DataFrame =
      io match {
        case Some(t) => t.stage(name, inputs, identity)(f)
        case None => f
      }

    // INPUT fingerprint: the most basic determinant of every stage is
    // the corpus itself — a reused workDir pointed at a different
    // sfDir, or fed a different user-supplied `turns` frame, must
    // recompute rather than silently resume the old corpus's outputs.
    // `semanticHash` fingerprints the turns PLAN (source paths +
    // transforms, canonicalized), which is the right granularity here:
    // same source re-read hashes equal, a different file or transform
    // chain does not.
    val idCorpus = s"sf=$sfDir" +
      turns.map(t => s";turns=${t.semanticHash()}").getOrElse("")

    // 1. ingest + normalize (stable turn ordering invariant)
    val records = staged("records", Seq(sfDir), Some(idCorpus)) {
      Normalize.normalize(
        turns.getOrElse(Transcripts.transcripts(spark, sfDir)))
    }.cache()

    // 2. labeled pairs (planted-duplicate truth, reference
    //    initialize.py:117-135 analog), capped per cfg.maxTrainLabels —
    //    md5-seeded per-class sample: deterministic across runs/engines
    //    and balanced (both classes survive whatever the corpus ratio)
    val labels = sampledLabels(Labels.plantedLabels(spark, sfDir), cfg)
      .cache()

    // 3. learn blocking conjunctions (greedy DP, optimizers.py:73-99)
    //    — stats evaluated on the FULL corpus with the real frequency
    //    cap (see Learner scaladoc; labeled coverage joins touch only
    //    the labeled slice). The learned list is itself a checkpointed
    //    stage: on resume the (dominant-cost) DP search is skipped
    //    entirely.
    import spark.implicits._
    // one job sums the corpus rows, the blocking-attribute chars and the
    // feature-attribute chars: the rows are n for rr and TF-IDF. Rows and
    // blocking chars decide whether the learner and the budget loop share
    // a driver-side block engine, built at its first use (one signature
    // collect) and dropped after the pairs stage; rows and feature chars
    // decide whether both pair sets are featurized on the driver (step 6)
    val (nRecords, Seq(blockChars, featureChars)) = DriverBlocks.volume(
      records, cfg.blockingAttrs, DriverFeatures.attributes(cfg.features))
    var built: Option[DriverBlocks] = null
    def blocks: Option[DriverBlocks] = {
      if (built == null) built =
        if (!driverPaths) None
        else DriverBlocks(records, Schemes.forAttributes(cfg.blockingAttrs),
          (nRecords, blockChars))
      built
    }
    // stage IDENTITY: every stage output depends on config knobs the
    // _SUCCESS marker alone can't see, so each stage records a
    // CUMULATIVE fingerprint (the input fingerprint + its own knobs +
    // everything upstream) and a resumed run whose fingerprint differs
    // recomputes from that stage DOWN — changing the learner seed on a
    // reused workDir must not resume conjunctions learned under the
    // old seed, and must not leave a recomputed conjunction list
    // feeding stale committed pairs either.
    val idConj = idCorpus + ";" + Seq(
      s"k=${cfg.k}", s"seedRrCut=${cfg.seedRrCut}",
      s"maxBlockSize=${cfg.maxBlockSize}",
      s"maxTrainLabels=${cfg.maxTrainLabels}",
      s"maxCompare=${cfg.maxCompare}", s"seed=${cfg.seed}",
      s"attrs=${cfg.blockingAttrs.mkString("+")}").mkString(";")
    val idPairs = idConj + s";nCovered=${cfg.nCovered}"
    val idFeatures = idPairs + ";features=" +
      cfg.features.map(f => s"${f.attr}:${f.metric}:${f.colName}")
        .mkString("+")
    val idScores = idFeatures +
      s";ml=${cfg.useMlClassifier}:${cfg.classifier}"
    val idClusters = idScores + s";threshold=${cfg.threshold}"
    // A corpus too large to featurize on the driver gets its TF-IDF
    // weight/norm relations (corpus-scale token aggregations shared by
    // BOTH featurize call sites below) created AND prewarmed here,
    // concurrently with the learner stage (guide §2.6: overlap
    // independent jobs): the token aggregation depends only on
    // `records`, and the conjunction search is collect-barrier-heavy, so
    // the token jobs backfill its idle cores instead of serializing
    // after it. Cache materialization is lock-safe under concurrency; a
    // failure here is swallowed and resurfaces on the first real
    // featurize action. A small corpus computes its weights on the
    // driver instead, at the first featurize call: no cache, no prewarm.
    val featureVolume = (nRecords, featureChars)
    val sparkTfIdf =
      if (driverPaths && DriverBlocks.small(records, featureVolume)) None
      else {
        val (w, n) = TfIdf.weights(records, "conv_id", "full_text",
          TfIdf.DefaultMaxDf, Some(nRecords))
        val (tfW, tfN) = (w.cache(), n.cache())
        scala.concurrent.Future {
          tfN.count(); tfW.count()
        }(prewarmEc)
        Some((tfW, tfN))
      }
    val conjunctions = bestFirst(staged("conjunctions", Seq("records"),
      Some(idConj)) {
      val learner = new Learner(records, labels, cfg.blockingAttrs,
        cfg.k, cfg.seedRrCut, cfg.maxBlockSize,
        maxCompare = cfg.maxCompare, blocks = blocks)
      val learned = learner.learn()
      learner.unpersist()
      learned.toDF()
    }.as[ConjStats].collect().toSeq)
    require(conjunctions.nonEmpty, "learner found no viable conjunction")
    val schemeByName = Schemes.byName(cfg.blockingAttrs)

    // 5. candidate pairs on FULL data, best conjunctions first, under
    //    TWO budgets (blocking.py:43-98): the min_rr/max_compare
    //    refusal — a low-rr conjunction late in the list is never
    //    applied — and the covered-pair budget, see [[budgetPairs]].
    val admitted = applicableConjunctions(conjunctions, nRecords,
      cfg.maxCompare)
    require(admitted.nonEmpty,
      "min_rr stop refused every learned conjunction")
    val pairs = staged("pairs", Seq("records"), Some(idPairs)) {
      budgetPairs(records,
        admitted.map(_.conjunction.map(schemeByName)),
        admitted.map(_.nPairs).sum, cfg.nCovered, cfg.maxBlockSize, blocks)
    }
    built = None

    // 6. similarity feature vectors (M1; JW/Levenshtein/Jaccard +
    //    TF-IDF cosine — the north star's batched similarity vector) of
    //    the candidate pairs and, with `label` carried through, of the
    //    labeled pairs. A small corpus is featurized by one
    //    DriverFeatures, built at the first call with one collect of the
    //    feature attributes: a pair set within its bound is hydrated on
    //    the driver, a larger one takes the Spark plans, which compute
    //    their own weights. Otherwise both calls take the Spark plans over the
    //    TF-IDF caches created (and prewarmed) before the learner stage.
    lazy val driverFeatures =
      DriverFeatures(records, cfg.features, featureVolume)
    def featurize(p: DataFrame): DataFrame = sparkTfIdf match {
      case None => driverFeatures.featurize(p)
      case Some((tfW, tfN)) =>
        DriverFeatures.log("spark", featureVolume, "unread")
        DriverFeatures.sparkFeatures(p, records, cfg.features, tfW, tfN)
    }
    val allFeatureCols = cfg.features.map(_.colName) :+ "tfidf_cos"
    val feats = staged("features", Seq("pairs", "records"),
      Some(idFeatures)) {
      featurize(pairs)
    }

    // 7. score: logistic classifier trained on the labeled pairs
    //    (M2/M3) or the deterministic rule score
    val scored0 = staged("scores", Seq("features"), Some(idScores)) {
      if (cfg.useMlClassifier) {
        // model persistence (reference joblib dump/reload,
        // fapi.py:161-176): with a workDir the fitted model is saved
        // under <workDir>/model_<fingerprint> and a resumed run LOADS
        // it instead of retraining. The fingerprint keys the model dir
        // by the same cumulative config identity as the scores stage,
        // so a config change retrains instead of loading a model
        // fitted under old settings.
        val modelDir = workDir.map(_ + "/model_" +
          java.security.MessageDigest.getInstance("MD5")
            .digest(idScores.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(12))
        val model = MatchClassifier.trainOrLoad(
          modelDir, allFeatureCols, cfg.classifier)(featurize(labels))
        MatchClassifier.score(model, feats, allFeatureCols)
      } else {
        Distances.ruleScore(feats).select("id_l", "id_r", "score")
      }
    }
    // with a workDir the stage boundary already cut the lineage (scores
    // re-read from parquet); in-memory, materialize scored (bounded by
    // the pair budget) so the corpus-scale TF-IDF caches below can be
    // RELEASED without later actions on `Result.scored` re-tokenizing
    // the corpus — repeated Dedupe.run calls on one long-lived session
    // must not accumulate pinned corpus-scale relations
    val scored = if (io.isEmpty) scored0.localCheckpoint() else scored0
    sparkTfIdf.foreach { case (tfW, tfN) => tfW.unpersist(); tfN.unpersist() }
    labels.unpersist()

    // 8. threshold → edges → connected components (C1) + singletons
    //    (U3) — ALL inside the staged block: CC's convergence loop
    //    issues its own actions, so it must only run when the stage
    //    actually computes; a RESUMED run with a committed `clusters`
    //    output skips the whole O(log n)-shuffle iteration (at 10⁹
    //    edges CC is the pipeline's most expensive resumable stage).
    var steps: Seq[ConnectedComponents.Superstep] = Seq.empty
    val clusters = staged("clusters", Seq("scores", "records"),
      Some(idClusters)) {
      val edges = scored.filter(col("score") > cfg.threshold)
      val (components, ccSteps) = ConnectedComponents.run(edges)
      steps = ccSteps
      val singles = records.select(col("conv_id"))
        .join(components.select(col("id").as("conv_id")),
          Seq("conv_id"), "left_anti")
        .select(col("conv_id").as("id"), col("conv_id").as("component"))
      components.unionByName(singles)
    }

    Result(records, pairs, scored, clusters, conjunctions, steps)
  }

  /** J6: final result assembly — clusters joined back to records. */
  def assemble(result: Result): DataFrame =
    result.records.join(
      result.clusters.withColumnRenamed("id", "conv_id"),
      Seq("conv_id"), "left")
      .orderBy(col("component"), col("conv_id"))

  /** Pairwise F1 of predicted match pairs vs planted truth — the
    * BASELINE.json gate (≥ 0.99).
    */
  def pairwiseF1(spark: SparkSession, sfDir: String, scored: DataFrame,
                 threshold: Double = 0.8): (Double, Long, Long, Long) = {
    val predicted = scored.filter(col("score") > threshold)
      .select("id_l", "id_r").distinct().cache()
    val truth = Labels.truthPairs(spark, sfDir).cache()
    val tp = predicted.join(truth, Seq("id_l", "id_r"), "left_semi").count()
    val fp = predicted.count() - tp
    val fn = truth.count() - tp
    // release: callers (e.g. the active-learning loop) evaluate this
    // repeatedly — leaving the cache pinned would accumulate per round
    predicted.unpersist()
    truth.unpersist()
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    val f1 = if (precision + recall == 0) 0.0
      else 2 * precision * recall / (precision + recall)
    (f1, tp, fp, fn)
  }
}
