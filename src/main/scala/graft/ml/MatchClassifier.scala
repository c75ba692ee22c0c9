package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel, RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Match classifier (reference M2/M3: sklearn RandomForest behind a
  * FastAPI HTTP hop, oagdedupe fastapi/fapi.py:161-184 + orm.py:251-288
  * 50k-row chunked HTTP scoring). Rebuilt on spark.ml — training runs
  * over a PINNED copy of the tiny labeled set (one job per L-BFGS
  * iteration or tree level, plus the summary passes), scoring is ONE
  * distributed `model.transform` pass with no chunking and no HTTP
  * hops.
  *
  * Two algorithms behind the same seam: [[Logistic]] (the north star
  * names logistic regression) and [[RandomForest]] (the reference's
  * actual sklearn model). Both are ProbabilisticClassificationModels,
  * so [[score]] reads P(match) identically from either.
  */
object MatchClassifier {

  val Logistic = "logistic"
  val RandomForest = "random_forest"

  /** Train on labeled pairs carrying feature columns + `label`.
    *
    * The input is featurized ONCE: `featureCols :+ "label"` is pinned
    * with one eager `localCheckpoint()` and the fit reads the pin.
    * spark.ml's fit makes several passes over its input (class counts,
    * feature summary, the instance RDD, the training summary), and on
    * an unpinned plan each pass re-runs the whole upstream
    * featurization. The pin is released when `train` returns, so the
    * model's lazily computed training `summary` metrics (which re-read
    * the training frame) fail afterwards — score with [[score]]
    * instead.
    */
  def train(labeledFeatures: DataFrame, featureCols: Seq[String],
            algo: String = Logistic): Transformer = {
    val pinned = labeledFeatures
      .select((featureCols :+ "label").map(col): _*)
      .localCheckpoint()
    val assembled = assemble(pinned, featureCols)
    try algo match {
      case Logistic =>
        new LogisticRegression()
          .setMaxIter(100)
          .setRegParam(0.0)
          .setLabelCol("label")
          .setFeaturesCol("features")
          .fit(assembled)
      case RandomForest =>
        // reference defaults (sklearn RandomForestClassifier wrapped in
        // fapi.py:161-184); seeded for deterministic resume
        new RandomForestClassifier()
          .setNumTrees(100)
          .setSeed(42L)
          .setLabelCol("label")
          .setFeaturesCol("features")
          .fit(assembled)
      case a => throw new IllegalArgumentException(s"unknown classifier $a")
    }
    finally pinned.queryExecution.logical match {
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
