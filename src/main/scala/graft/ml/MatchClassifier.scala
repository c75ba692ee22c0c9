package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{GraftModelBridge, LogisticRegression, LogisticRegressionModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import graft.plans.Evaluated

/** Match classifier (reference M2/M3: sklearn RandomForest behind a
  * FastAPI HTTP hop, oagdedupe fastapi/fapi.py:161-184 + orm.py:251-288
  * 50k-row chunked HTTP scoring). Models are spark.ml models; scoring
  * is ONE distributed `model.transform` pass with no chunking and no
  * HTTP hops.
  *
  * Two algorithms behind the same seam: [[Logistic]] (the north star
  * names logistic regression) and [[RandomForest]] (the reference's
  * actual sklearn model). Both are ProbabilisticClassificationModels,
  * so [[score]] reads P(match) identically from either.
  *
  * Training, like the reference's in-process sklearn fit, is sized for
  * a small labeled set. A logistic training set of at most
  * [[DriverFitRows]] rows is fitted on the driver ([[DriverLogistic]]:
  * the same objective, no Spark job per iteration) into a real
  * `LogisticRegressionModel`; a larger one, and every random forest,
  * is fitted by spark.ml over a pinned copy of the input (one job per
  * L-BFGS iteration or tree level, plus the summary passes).
  */
object MatchClassifier {

  val Logistic = "logistic"
  val RandomForest = "random_forest"

  /** Logistic training sets of at most this many rows are fitted on
    * the driver: 100k rows × a handful of features is a few MB, and a
    * Newton step over them takes milliseconds. */
  private val DriverFitRows = 100000

  /** Train on labeled pairs carrying feature columns + `label`.
    *
    * The input is featurized ONCE. For [[Logistic]], `featureCols :+
    * "label"` is evaluated once (`Evaluated.once`; a local frame, such
    * as a driver-featurized training set, is read as it is, with no
    * job) and one bounded read
    * of at most [[DriverFitRows]] + 1 rows picks the path: a read that
    * stops short is the whole training set and is fitted on the
    * driver; otherwise spark.ml fits a pin of the same evaluated frame.
    *
    * The spark.ml paths pin their input with one eager
    * `localCheckpoint()`, because spark.ml's fit makes several passes
    * over it (class counts, feature summary, the instance RDD, the
    * training summary), and on an unpinned plan each pass re-runs the
    * whole upstream featurization. The pin is released when `train`
    * returns, so the model's lazily computed training `summary`
    * metrics (which re-read the training frame) fail afterwards; a
    * driver-fitted model has no summary. Score with [[score]] instead.
    *
    * With `GRAFT_VERBOSE=1` each call logs its path, rows and
    * iterations as one `[ml]` line.
    */
  def train(labeledFeatures: DataFrame, featureCols: Seq[String],
            algo: String = Logistic): Transformer =
    trainWith(labeledFeatures, featureCols, algo, DriverFitRows)

  /** [[train]] with the driver/spark.ml choice exposed: a logistic
    * training set of at most `driverRows` rows is fitted on the driver,
    * a larger one by spark.ml (`-1` forces spark.ml). */
  private[graft] def trainWith(labeledFeatures: DataFrame,
                               featureCols: Seq[String], algo: String,
                               driverRows: Int): Transformer = {
    val input = labeledFeatures.select((featureCols :+ "label").map(col): _*)
    algo match {
      case Logistic =>
        val lr = new LogisticRegression()
          .setMaxIter(100)
          .setRegParam(0.0)
          .setLabelCol("label")
          .setFeaturesCol("features")
        // one bounded read: at most driverRows + 1 rows reach the
        // driver. A local input (a driver-featurized training set) is
        // there already: its own optimized plan is collected, with no job
        // (a new plan over it, such as a limit, would evaluate it again).
        val local = driverRows >= 0 &&
          input.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
        val evaluated =
          if (driverRows < 0 || local) input else Evaluated.once(input)
        val small =
          if (driverRows < 0) None
          else Some(if (local) input.collect()
            else evaluated.limit(driverRows + 1).collect())
            .filter(_.length <= driverRows)
        small match {
          case Some(rows) =>
            val fit = DriverLogistic.fit(rows, featureCols, lr.getMaxIter,
              lr.getTol)
            graft.Verbose.log("ml")(
              s"path=driver rows=${rows.length} iters=${fit.iterations}")
            GraftModelBridge.logisticModel(lr, fit.coefficients,
              fit.intercept, fit.numClasses)
          case None =>
            pinned(evaluated, featureCols)(lr.fit)(
              m => s"iters=${m.summary.totalIterations}")
        }
      case RandomForest =>
        // reference defaults (sklearn RandomForestClassifier wrapped in
        // fapi.py:161-184); seeded for deterministic resume
        val rf = new RandomForestClassifier()
          .setNumTrees(100)
          .setSeed(42L)
          .setLabelCol("label")
          .setFeaturesCol("features")
        pinned(input, featureCols)(rf.fit)(_ => s"trees=${rf.getNumTrees}")
      case a => throw new IllegalArgumentException(s"unknown classifier $a")
    }
  }

  /** spark.ml's `fit` over one eager pin of `input`, released on
    * return; `detail` ends the model's `[ml]` log line. */
  private def pinned[M <: Transformer](input: DataFrame,
                                       featureCols: Seq[String])
                                      (fit: DataFrame => M)
                                      (detail: M => String): M = {
    val pin = input.localCheckpoint()
    try {
      val model = fit(assemble(pin, featureCols))
      graft.Verbose.log("ml")(
        s"path=spark rows=${pin.count()} ${detail(model)}")
      model
    } finally pin.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Model persistence (reference fapi.py:161-176 joblib dump +
    * cached-model reload): load the committed model at `path` if one
    * exists, otherwise train on `labeledFeatures` (lazily built — a
    * resumed run never constructs the training set) and save.
    */
  def trainOrLoad(path: Option[String], featureCols: Seq[String],
                  algo: String = Logistic)
                 (labeledFeatures: => DataFrame): Transformer =
    path match {
      case Some(p) if committed(p) => algo match {
        case Logistic => LogisticRegressionModel.load(p)
        case RandomForest => RandomForestClassificationModel.load(p)
        case a => throw new IllegalArgumentException(s"unknown classifier $a")
      }
      case Some(p) =>
        val m = train(labeledFeatures, featureCols, algo)
        m.asInstanceOf[org.apache.spark.ml.util.MLWritable]
          .write.overwrite().save(p)
        m
      case None => train(labeledFeatures, featureCols, algo)
    }

  /** spark.ml's model writer commits metadata/ FIRST and the
    * coefficients parquet under data/ LAST — a crash between the two
    * leaves metadata/_SUCCESS behind with no model data. Load-safe =
    * BOTH markers exist (data/_SUCCESS is the real last artifact). */
  private def committed(path: String): Boolean =
    Files.exists(Paths.get(path, "metadata", "_SUCCESS")) &&
      Files.exists(Paths.get(path, "data", "_SUCCESS"))

  /** Score candidate pairs → (id_l, id_r, score) with score =
    * P(match). Replaces reference scores table (tables.py:302-314).
    * Probability extraction via the vector_to_array builtin — no
    * bespoke UDF in the full-corpus scoring projection.
    */
  def score(model: Transformer, pairFeatures: DataFrame,
            featureCols: Seq[String]): DataFrame =
    model.transform(assemble(pairFeatures, featureCols))
      .select(col("id_l"), col("id_r"),
        vector_to_array(col("probability")).getItem(1).as("score"))

  private def assemble(df: DataFrame, featureCols: Seq[String]): DataFrame =
    new VectorAssembler()
      .setInputCols(featureCols.toArray)
      .setOutputCol("features")
      .transform(df)

  /** O4: uncertainty sampling — the reference's active-learning query
    * step (modAL uncertainty_sampling, fapi.py:98-113): the k pairs
    * whose score is closest to 0.5.
    */
  def uncertaintyTopK(scored: DataFrame, kInstances: Int = 10): DataFrame =
    scored.orderBy(abs(col("score") - 0.5), col("id_l"), col("id_r"))
      .limit(kInstances)
}
