package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite

class MatchClassifierSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private val cols = Seq("f1", "f2")
  private def labeled = Seq(
    ("a", "b", 0.95, 0.9, 1), ("c", "d", 0.9, 0.85, 1),
    ("e", "f", 0.8, 0.9, 1), ("g", "h", 0.1, 0.2, 0),
    ("i", "j", 0.2, 0.1, 0), ("k", "l", 0.15, 0.25, 0))
    .toDF("id_l", "id_r", "f1", "f2", "label")

  test("trainOrLoad persists the model and resumes WITHOUT retraining") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-model").toString + "/model"
    import org.apache.spark.ml.classification.LogisticRegressionModel
    val m1 = MatchClassifier.trainOrLoad(Some(dir), cols)(labeled)
      .asInstanceOf[LogisticRegressionModel]
    // resume: the training-set thunk must never be evaluated — it
    // throws if touched, so this call proves the model is LOADED
    val m2 = MatchClassifier.trainOrLoad(Some(dir), cols)(
      sys.error("resume must not rebuild the training set"))
      .asInstanceOf[LogisticRegressionModel]
    assert(m2.coefficients == m1.coefficients)
    assert(m2.intercept == m1.intercept)
    val s1 = MatchClassifier.score(m1, labeled, cols)
      .orderBy("id_l").collect().map(_.getDouble(2)).toSeq
    val s2 = MatchClassifier.score(m2, labeled, cols)
      .orderBy("id_l").collect().map(_.getDouble(2)).toSeq
    assert(s1 == s2)
  }

  test("score extracts P(match) via vector_to_array, monotone in features") {
    val m = MatchClassifier.train(labeled, cols)
    val scored = MatchClassifier.score(m, labeled, cols)
    assert(scored.columns.toSeq == Seq("id_l", "id_r", "score"))
    val hi = scored.filter(col("id_l") === "a").head().getDouble(2)
    val lo = scored.filter(col("id_l") === "g").head().getDouble(2)
    assert(hi > 0.5 && lo < 0.5 && hi > lo)
  }

  test("train reads each input row exactly once and releases its pin") {
    val sc = spark.sparkContext
    Seq(MatchClassifier.Logistic, MatchClassifier.RandomForest).foreach { algo =>
      val reads = sc.longAccumulator(s"reads-$algo")
      val tap = udf { (x: Double) => reads.add(1L); x }.asNondeterministic()
      val input = labeled.withColumn("f1", tap(col("f1")))
      val before = sc.getPersistentRDDs.keySet
      MatchClassifier.train(input, cols, algo)
      assert(reads.value == 6L, s"$algo read the 6 input rows ${reads.value} times")
      assert(sc.getPersistentRDDs.keySet == before, s"$algo left a pinned RDD")
    }
  }

  test("random_forest trains, persists and reloads behind the same seam") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-model-rf").toString + "/model"
    val m = MatchClassifier.trainOrLoad(Some(dir), cols,
      MatchClassifier.RandomForest)(labeled)
    val loaded = MatchClassifier.trainOrLoad(Some(dir), cols,
      MatchClassifier.RandomForest)(
      sys.error("resume must not rebuild the training set"))
    val s1 = MatchClassifier.score(m, labeled, cols)
      .orderBy("id_l").collect().map(_.getDouble(2)).toSeq
    val s2 = MatchClassifier.score(loaded, labeled, cols)
      .orderBy("id_l").collect().map(_.getDouble(2)).toSeq
    assert(s1 == s2)
    val hi = MatchClassifier.score(m, labeled, cols)
      .filter(col("id_l") === "a").head().getDouble(2)
    val lo = MatchClassifier.score(m, labeled, cols)
      .filter(col("id_l") === "g").head().getDouble(2)
    assert(hi > 0.5 && lo < 0.5)
  }

  test("half-written model (metadata committed, data missing) retrains " +
    "instead of loading") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-model-half").toString + "/model"
    // simulate a crash between the writer's metadata and data commits
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "metadata"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(dir, "metadata", "_SUCCESS"))
    // must NOT attempt load() (which would fail on the missing data/);
    // it should fall through to training and overwrite the debris
    val m = MatchClassifier.trainOrLoad(Some(dir), cols)(labeled)
    val s = MatchClassifier.score(m, labeled, cols).count()
    assert(s == 6)
    // and now the directory IS committed: resume loads without the thunk
    MatchClassifier.trainOrLoad(Some(dir), cols)(
      sys.error("fully-written model must load"))
  }
}
