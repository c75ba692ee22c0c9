package graft.ml

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ml.Transformer
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.sql.DataFrame
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

  private def sparkLR(df: DataFrame, c: Seq[String]) =
    MatchClassifier.trainWith(df, c, MatchClassifier.Logistic, driverRows = -1)
      .asInstanceOf[LogisticRegressionModel]
  private def driverLR(df: DataFrame, c: Seq[String]) =
    MatchClassifier.train(df, c).asInstanceOf[LogisticRegressionModel]

  /** Driver-path, forced spark.ml and random-forest training: every
    * path `train` can take. */
  private val paths: Seq[(String, (DataFrame, Seq[String]) => Transformer)] =
    Seq("driver LR" -> driverLR, "spark.ml LR" -> sparkLR,
      "RF" -> ((df, c) => MatchClassifier.train(df, c, MatchClassifier.RandomForest)))

  private def scores(m: Transformer, df: DataFrame, c: Seq[String]): Seq[Double] =
    MatchClassifier.score(m, df, c).orderBy("id_l", "id_r")
      .collect().map(_.getDouble(2)).toSeq

  private def matches(m: Transformer, df: DataFrame,
                      c: Seq[String]): Set[(String, String)] =
    MatchClassifier.score(m, df, c).filter(col("score") > 0.8)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def drift(a: LogisticRegressionModel, b: LogisticRegressionModel) =
    (a.coefficients.toArray :+ a.intercept)
      .zip(b.coefficients.toArray :+ b.intercept)
      .map { case (x, y) => math.abs(x - y) }.max

  test("train reads each input row exactly once and releases its pin") {
    val sc = spark.sparkContext
    paths.foreach { case (path, fit) =>
      val reads = sc.longAccumulator(s"reads-$path")
      val tap = udf { (x: Double) => reads.add(1L); x }.asNondeterministic()
      val input = labeled.withColumn("f1", tap(col("f1")))
      val before = sc.getPersistentRDDs.keySet
      fit(input, cols)
      assert(reads.value == 6L, s"$path read the 6 input rows ${reads.value} times")
      assert(sc.getPersistentRDDs.keySet == before, s"$path left a pinned RDD")
    }
  }

  test("a driver-path fit runs only the bounded read's jobs and " +
    "registers nothing") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // jobs started inside train(), told apart by a local property; a
    // sentinel job proves the listener bus delivered every earlier one
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec")).foreach {
          case "ml" => jobs.incrementAndGet()
          case "sentinel" => drained.countDown()
          case _ =>
        }
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    // a distributed copy: a local frame is collected with no job
    val input = spark.createDataFrame(labeled.rdd, labeled.schema)
    val m = try {
      sc.setLocalProperty("graft.spec", "ml")
      val m = driverLR(input, cols)
      sc.setLocalProperty("graft.spec", "sentinel")
      spark.range(1).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      m
    } finally {
      sc.setLocalProperty("graft.spec", null)
      sc.removeSparkListener(listener)
    }
    assert(!m.hasSummary, "the fit took the spark.ml path")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // the 6 rows sit in 4 partitions: the limit's first job reads one,
    // its second the other three; the spark.ml path adds the pin, the
    // summary and one job per L-BFGS iteration
    assert(jobs.get <= 2, s"${jobs.get} jobs on the driver path")
  }

  test("a local training set is fitted with no job, and the driver fit " +
    "does not depend on the order of its rows") {
    // 300 overlapping rows, so that the sums' order shows in their bits
    val set = (0 until 300).map { i =>
      val (f1, f2) = ((i * 37 % 101) / 101.0, (i * 53 % 97) / 97.0)
      (s"l$i", s"r$i", f1, f2, if (f1 + f2 + (i % 7) / 10.0 > 1.1) 1 else 0)
    }
    val local = set.toDF("id_l", "id_r", "f1", "f2", "label")
    val (m, jobs, _) = counting(driverLR(local, cols))
    assert(jobs == 0, s"$jobs jobs")
    // the same rows, reversed and in 3 partitions
    val reversed = spark.createDataFrame(spark.sparkContext.parallelize(
      local.collect().reverse.toSeq, 3), local.schema)
    val r = driverLR(reversed, cols)
    assert(!m.hasSummary && m.intercept.abs < 100)
    assert(r.coefficients == m.coefficients && r.intercept == m.intercept)
  }

  test("driver and spark.ml fits reach the same optimum on a " +
    "non-separable set") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val (a, b, c) = (rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble())
      val p = 1 / (1 + math.exp(-(-1 + 3 * a - 2 * b)))
      (s"l$i", s"r$i", a, b, c, if (rnd.nextDouble() < p) 1 else 0)
    }
    val cols3 = Seq("f1", "f2", "f3")
    val df = rows.toDF("id_l", "id_r", "f1", "f2", "f3", "label")
    val d = driverLR(df, cols3)
    val s = sparkLR(df, cols3)
    val gap = scores(d, df, cols3).zip(scores(s, df, cols3))
      .map { case (x, y) => math.abs(x - y) }.max
    info(f"driver ${d.coefficients} ${d.intercept}%.6f, spark.ml " +
      f"${s.coefficients} ${s.intercept}%.6f: coefficient drift " +
      f"${drift(d, s)}%.2e, probability gap $gap%.2e")
    assert(gap < 1e-6, s"probabilities differ by $gap")
  }

  test("driver and spark.ml fits match the same pairs on a separable set") {
    val (d, s) = (driverLR(labeled, cols), sparkLR(labeled, cols))
    info(f"6-row set: driver ${d.coefficients} ${d.intercept}%.3f, " +
      f"spark.ml ${s.coefficients} ${s.intercept}%.3f, drift ${drift(d, s)}%.3f")
    assert(matches(d, labeled, cols) == Set(("a", "b"), ("c", "d"), ("e", "f")))
    assert(matches(s, labeled, cols) == matches(d, labeled, cols))

    // the planted sf0.001 labels: DedupeE2ESpec, "logistic fits on the
    // driver and in spark.ml match the same pairs (fixed blocking)"
  }

  test("driver and spark.ml fits build the same model for a constant " +
    "label and a zero-variance column") {
    val ones = labeled.withColumn("label", lit(1))
    val zeros = labeled.withColumn("label", lit(0))
    val flat = labeled.withColumn("f3", lit(0.5))
    Seq(("all 1", ones, cols), ("all 0", zeros, cols),
      ("constant f3", flat, cols :+ "f3")).foreach { case (name, df, c) =>
      val (d, s) = (driverLR(df, c), sparkLR(df, c))
      info(f"$name: driver ${d.coefficients} ${d.intercept}%.3f, " +
        f"spark.ml ${s.coefficients} ${s.intercept}%.3f")
      assert(d.numClasses == s.numClasses, name)
      if (name == "constant f3") {
        assert(d.coefficients(2) == 0.0 && s.coefficients(2) == 0.0, name)
        assert(matches(d, df, c) == matches(s, df, c), name)
      } else {
        assert(d.coefficients.toArray.toSeq == s.coefficients.toArray.toSeq, name)
        assert(d.intercept == s.intercept && d.intercept.isInfinite, name)
        assert(scores(d, df, c) == scores(s, df, c), name)
      }
    }
    val withNull = labeled.withColumn("f2",
      when(col("id_l") === "c", lit(null).cast("double")).otherwise(col("f2")))
    intercept[Exception](driverLR(withNull, cols))
    intercept[Exception](sparkLR(withNull, cols))
  }

  test("a model saved by either path loads through trainOrLoad with " +
    "the same coefficients and params") {
    val root = java.nio.file.Files.createTempDirectory("graft-model-paths")
    val driverDir = s"$root/driver"
    val sparkDir = s"$root/spark"
    val d = MatchClassifier.trainOrLoad(Some(driverDir), cols)(labeled)
      .asInstanceOf[LogisticRegressionModel]
    val s = sparkLR(labeled, cols)
    s.write.overwrite().save(sparkDir)
    Seq(driverDir -> d, sparkDir -> s).foreach { case (dir, m) =>
      val loaded = MatchClassifier.trainOrLoad(Some(dir), cols)(
        sys.error("resume must not rebuild the training set"))
        .asInstanceOf[LogisticRegressionModel]
      assert(loaded.coefficients == m.coefficients, dir)
      assert(loaded.intercept == m.intercept, dir)
      assert(loaded.uid == m.uid, dir)
    }
    def params(dir: String) = spark.read.json(s"$dir/metadata")
      .select("class", "paramMap", "defaultParamMap").head()
    assert(params(driverDir) == params(sparkDir))
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
