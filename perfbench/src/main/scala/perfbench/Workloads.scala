package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.block.{Blocking, BoundScheme, FindNgrams, FirstNChars}
import graft.cluster.ConnectedComponents
import graft.normalize.Normalize
import graft.pipeline.{Dedupe, Incremental}
import graft.sim.Distances
import graft.synth.Transcripts

/** Spans recorded around the benchmark's calls into the library; off
  * in untraced iterations. */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  def span[T](layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.currentTimeMillis()
      try f finally spans += Span(layer, t0, System.currentTimeMillis())
    }
}

/** The costs of one timed section. */
final case class Reading(wallS: Double, cpuS: Double, shuffleMb: Double,
                         cachePeakMb: Double, stealBefore: (Double, Double),
                         stealAfter: (Double, Double))

/** What a workload needs from the benchmark process. */
final class Ctx(val spark: SparkSession, val probe: Probe,
                val tracer: Tracer, val work: String, val seed: Long) {
  def cores: Int = spark.sparkContext.defaultParallelism

  /** Run `f` as the timed section of an iteration. */
  def timed[T](f: => T): (T, Reading) = {
    probe.resetPeak()
    val shuffle0 = probe.shuffleWriteBytes
    val steal0 = Env.cpuJiffies()
    val cpu0 = Env.processCpuSeconds()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Env.processCpuSeconds() - cpu0
    val steal1 = Env.cpuJiffies()
    (r, Reading(wall, cpu, (probe.shuffleWriteBytes - shuffle0) / 1e6,
      probe.peakCachedBytes / 1e6, steal0, steal1))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Release the blocks behind a localCheckpoint'ed DataFrame. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false))

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** (broadcast exchanges, all exchanges) in the plan that ran for the
    * next action `f` triggers — read from the final adaptive plan. */
  def exchangesOf(f: => Unit): (Int, Int) = {
    var plan: Option[SparkPlan] = None
    val l = new QueryExecutionListener {
      def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = plan = Some(qe.executedPlan)
      def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { f; probe.drain() } finally spark.listenerManager.unregister(l)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => r +: nodes(r.child)
      case other => other +: other.children.flatMap(nodes)
    }
    val all = plan.toSeq.flatMap(nodes)
    val bcast = all.count(_.isInstanceOf[BroadcastExchangeLike])
    (bcast, bcast + all.count(_.isInstanceOf[ShuffleExchangeLike]))
  }
}

/** One timed iteration's results. `checks` are (name, passed);
  * `traceOnlyS` is time inside the timed section spent on work only a
  * traced iteration does. */
final case class Outcome(reading: Reading, checks: Seq[(String, Boolean)],
                         pairF1: Double, summary: String,
                         extraSpans: Seq[Span] = Nil,
                         layerExtras: Map[String, Double] = Map.empty,
                         traceOnlyS: Double = 0.0)

/** A benchmark workload: a fixed corpus, a set-up that can be repeated,
  * and a timed job that checks its own outputs. */
abstract class Workload(val name: String) {
  /** conversations the timed job takes as input */
  def conversations: Long
  def setup(c: Ctx): Unit
  def release(c: Ctx): Unit
  /** untimed preparation of reference values, once after set-up */
  def prepareChecks(c: Ctx): Unit = ()
  def iteration(c: Ctx, i: Int): Outcome
  def bySite: Seq[Layers.BySite] = Nil
  def contains: Map[String, String] = Map.empty
  /** set-ups per run; `setup_s` is their median */
  def setupReps: Int = 3
  /** Time the job once, as the first run of it in a fresh JVM, the way
    * a batch job runs: no warm-up and no second iteration. Otherwise
    * an untimed warm-up iteration comes first, as for a job a
    * long-lived process repeats. */
  def coldJvm: Boolean = false
  /** layer counts the last traced set-up produced */
  def setupExtras: Map[String, Double] = Map.empty
}

object Workloads {
  val Cap: Int = Blocking.DefaultMaxBlockSize
  val prefix8: Seq[BoundScheme] = Seq(BoundScheme(FirstNChars(8), "head_text"))
  val ngram6: Seq[BoundScheme] = Seq(BoundScheme(FindNgrams(6), "head_text"))

  def records(spark: SparkSession, dir: String): DataFrame =
    Normalize.normalize(Transcripts.transcripts(spark, dir))

  /** Pair F1 from (tp, fp, fn). */
  def f1(tp: Long, fp: Long, fn: Long): Double =
    if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)

  /** Prefix-8 ∪ ngram-6 candidate pairs on head_text counted on the
    * driver, straight from the blocking definition (blocks of 2..Cap
    * distinct records per signature, i<j, distinct across signatures):
    * the reference for the distributed count. */
  def expectedPairs(heads: Seq[(String, String)]): Long = {
    val ids = heads.map(_._1).distinct.sorted.toArray
    val index = ids.zipWithIndex.toMap
    val blocks = mutable.HashMap.empty[String, mutable.Set[Int]]
    heads.foreach { case (id, h) =>
      if (h != null) {
        val sigs = (if (h.isEmpty) Nil else Seq("p" + h.take(8))) ++
          (if (h.length < 6) Nil
           else (0 to h.length - 6).map(i => "n" + h.substring(i, i + 6)))
        sigs.foreach(blocks.getOrElseUpdate(_, mutable.HashSet.empty) += index(id))
      }
    }
    val keys = mutable.ArrayBuilder.make[Long]
    blocks.values.filter(b => b.size > 1 && b.size <= Cap).foreach { b =>
      val m = b.toArray.sorted
      for (i <- m.indices; j <- i + 1 until m.length)
        keys += (m(i).toLong << 32) | m(j)
    }
    val sorted = keys.result().sorted
    sorted.indices.count(i => i == 0 || sorted(i) != sorted(i - 1)).toLong
  }

  /** Planted truth on a scored pair: (c<k>, d<k>). */
  val isTruth: org.apache.spark.sql.Column =
    col("id_l").startsWith("c") && col("id_r").startsWith("d") &&
      substring(col("id_l"), 2, 20) === substring(col("id_r"), 2, 20)
}

/** `Dedupe.run` from scratch (fresh workDir, fresh JVM) through
  * committed clusters, plus the pair-F1 check against planted truth. */
final class DedupeCold(t: Inputs.Tables) extends Workload("dedupe_cold") {
  private var nConversations = 0L
  def conversations: Long = nConversations
  override def coldJvm: Boolean = true

  /** Set-up reads and normalizes the inputs once and counts the
    * conversations the job will see. */
  def setup(c: Ctx): Unit =
    nConversations = Workloads.records(c.spark, t.dir).count()
  def release(c: Ctx): Unit = ()

  private val stageLayer = Map("records" -> "normalize",
    "conjunctions" -> "learner", "pairs" -> "blocking",
    "features" -> "features", "scores" -> "ml", "clusters" -> "cc")

  // the TF-IDF prewarm is a Future inside Dedupe.run: its jobs come
  // from a Dedupe frame on a Future thread, not from the learner
  private def prewarm(j: JobRec): Boolean = {
    val frames = j.callSite.split("\n").map(_.trim)
    val first = frames.find(_.startsWith("graft."))
    first.exists(_.contains("(Dedupe.scala")) &&
      frames.exists(_.startsWith("scala.concurrent.Future"))
  }
  private def commit(j: JobRec): Boolean =
    j.callSite.split("\n").map(_.trim).find(_.startsWith("graft."))
      .exists(_.contains("(TableIO.scala"))

  override def bySite: Seq[Layers.BySite] = Seq(
    Layers.BySite("tfidf", prewarm, exclusive = true),
    Layers.BySite("io", commit, exclusive = false))

  def iteration(c: Ctx, i: Int): Outcome = {
    import c.spark.implicits._
    val wd = s"${c.work}/dedupe_iter$i"
    c.deleteTree(wd)
    val cfg = Dedupe.Config(seed = c.seed)
    val ((res, (f1, tp, fp, fn), nPairs, nClusters), reading) = c.timed {
      val res = c.tracer.span("run")(Dedupe.run(c.spark, t.dir, cfg, Some(wd)))
      val f = Dedupe.pairwiseF1(c.spark, t.dir, res.scored, cfg.threshold)
      (res, f, res.pairs.count(),
        res.clusters.select("component").distinct().count())
    }
    val lineage = c.spark.read.parquet(s"$wd/_lineage")
      .select($"stage", $"rows", $"wall_ms", $"committed_at")
      .as[(String, Long, Long, Long)].collect().toSeq
    val spans = lineage.flatMap { case (stage, _, ms, at) =>
      stageLayer.get(stage).map(l => Span(l, at - ms, at))
    }
    val extras = if (!c.tracer.enabled) Map.empty[String, Double] else {
      val files = stageLayer.keys.toSeq.flatMap { s =>
        val d = new java.io.File(s"$wd/$s")
        Option(d.listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("part-"))
      }
      val rounds = math.max(res.ccSupersteps.size - 1, 0)
      Map("blocking.pairs" -> nPairs.toDouble,
        "cc.supersteps" -> rounds.toDouble,
        "io.write_mb" -> files.map(_.length).sum / 1e6,
        "io.files" -> files.size.toDouble)
    }
    c.deleteTree(wd)
    Outcome(reading,
      Seq("pair_f1>=0.99" -> (f1 >= 0.99), "pairs>0" -> (nPairs > 0),
        "clusters>0" -> (nClusters > 0)),
      f1, f"pairs=$nPairs clusters=$nClusters " +
        f"conjunctions=${res.conjunctions.size} f1=$f1%.4f tp=$tp fp=$fp fn=$fn",
      extraSpans = spans, layerExtras = extras)
  }
}

/** Fixed prefix-8 ∪ ngram-6 blocking on head_text, then hydration and
  * the rule score over every candidate pair, ending in one count/sum
  * action. Records are normalized and cached in set-up. */
final class ScoreFixed(t: Inputs.Tables) extends Workload("score_fixed") {
  private var recs: DataFrame = _
  private var nRecords = 0L
  private var expected = -1L
  private var truthN = 0L
  private var byId = Map.empty[String, Reference.Rec]
  def conversations: Long = nRecords

  def setup(c: Ctx): Unit = c.tracer.span("normalize") {
    recs = Workloads.records(c.spark, t.dir).cache()
    nRecords = recs.count()
  }
  def release(c: Ctx): Unit = recs.unpersist(blocking = true)

  private def blockedPairs(): DataFrame =
    Blocking.unionPairs(Seq(
      Blocking.candidatePairs(recs, Workloads.prefix8, "conv_id", Workloads.Cap),
      Blocking.candidatePairs(recs, Workloads.ngram6, "conv_id", Workloads.Cap)))

  /** every 32nd pair by hash: the sample the score sum is checked on */
  private val sampled = pmod(xxhash64(col("id_l"), col("id_r")), lit(32L)) === 0

  private def scoreAgg(h: DataFrame): DataFrame = {
    val pred = col("score") > 0.8
    Distances.ruleScore(Distances.featuresFromHydrated(h)).agg(
      count(lit(1)), coalesce(sum(col("score")), lit(0.0)),
      coalesce(sum(when(sampled, col("score"))), lit(0.0)),
      count(when(pred && Workloads.isTruth, 1)),
      count(when(pred && !Workloads.isTruth, 1)),
      count(when(col("score") < 0 || col("score") > 1, 1)))
  }

  /** The pair count the blocking definition gives, counted on the
    * driver, the planted duplicates among the records, and the records'
    * feature attributes for the driver-side reference score. */
  override def prepareChecks(c: Ctx): Unit = {
    import c.spark.implicits._
    val rows = recs.select("conv_id", "head_text", "full_text", "role_seq")
      .as[(String, String, String, String)].collect().toSeq
    expected = Workloads.expectedPairs(rows.map(r => (r._1, r._2)))
    byId = rows.collect { case (id, h, f, r) if h != null && f != null &&
        r != null => id -> Reference.Rec(h, f, r) }.toMap
    truthN = recs.filter(col("conv_id").startsWith("d")).count()
  }

  def iteration(c: Ctx, i: Int): Outcome = {
    import c.spark.implicits._
    val tr = c.tracer
    var exch = (0, 0)
    var traceOnly = 0.0
    val ((pairs, n, row), reading) = c.timed {
      tr.span("run") {
        val (pairs, n) = tr.span("blocking") {
          val p = blockedPairs().localCheckpoint()
          (p, p.count())
        }
        if (tr.enabled) {
          val t0 = System.nanoTime()
          tr.span("hydrate") {
            exch = c.exchangesOf(c.noop(
              Distances.hydrate(pairs, recs, Distances.featureAttrs)))
          }
          traceOnly = (System.nanoTime() - t0) / 1e9
        }
        val row = tr.span("score") {
          scoreAgg(Distances.hydrate(pairs, recs, Distances.featureAttrs)).head()
        }
        (pairs, n, row)
      }
    }
    // reference for the sampled sum: the same pairs scored on the
    // driver by [[Reference]], without the library's hydration or kernels
    val sample = pairs.filter(sampled).select("id_l", "id_r")
      .as[(String, String)].collect()
    val refSample = sample.iterator.flatMap { case (l, r) =>
      for (a <- byId.get(l); b <- byId.get(r)) yield Reference.score(a, b)
    }.sum
    c.releaseCheckpoint(pairs)
    val (scored, total, libSample, tp, fp, outOfRange) = (row.getLong(0),
      row.getDouble(1), row.getDouble(2), row.getLong(3), row.getLong(4),
      row.getLong(5))
    val relErr = math.abs(libSample - refSample) /
      math.max(math.abs(refSample), 1e-12)
    val f = Workloads.f1(tp, fp, truthN - tp)
    Outcome(reading,
      Seq("pairs==expected" -> (n == expected && scored == expected),
        "sampled score_sum ~ driver reference (rel 1e-9)" -> (relErr <= 1e-9),
        "scores in [0,1]" -> (outOfRange == 0)),
      f, f"pairs=$n expected=$expected score_sum=$total%.4f " +
        f"sample=${sample.length} pairs, sum $libSample%.4f vs ref $refSample%.4f " +
        f"rel_err=$relErr%.2e f1=$f%.4f",
      layerExtras = if (!tr.enabled) Map.empty else Map(
        "blocking.pairs" -> n.toDouble,
        "hydrate.broadcast_exchanges" -> exch._1.toDouble,
        "hydrate.exchanges" -> exch._2.toDouble),
      traceOnlyS = traceOnly)
  }

  override def contains: Map[String, String] = Map("score" -> "hydrate")
}

/** `Incremental.attach` of a batch onto the existing `c*` corpus,
  * whose rule-score clusters are built in set-up the way the library's
  * incremental query does. The batch is every `d*` record, a seeded 2%
  * of `c*` (which re-attach to their own cluster), and a seeded fifth
  * of the planted pairs held out of the corpus: both `c<k>` and `d<k>`
  * of a held-out pair arrive in the batch, attach to nothing, and must
  * merge with each other in the leftover self-dedupe and its CC. */
final class AttachBatch(t: Inputs.Tables) extends Workload("attach_batch") {
  private var recs: DataFrame = _
  private var existing: DataFrame = _
  private var clusters: DataFrame = _
  private var incoming: DataFrame = _
  private var nIncoming = 0L
  private var held = Set.empty[String]
  private var extras = Map.empty[String, Double]
  override def setupExtras: Map[String, Double] = extras
  /** id → (component, attached) the batch must produce */
  private var expected = Map.empty[String, (String, Boolean)]
  def conversations: Long = nIncoming

  private val key = substring(col("conv_id"), 2, 20)

  def setup(c: Ctx): Unit = {
    import c.spark.implicits._
    val tr = c.tracer
    tr.span("normalize") {
      recs = Workloads.records(c.spark, t.dir).cache()
      recs.count()
    }
    held = recs.filter(col("conv_id").startsWith("d") &&
        pmod(xxhash64(lit(c.seed), key), lit(5L)) === 1)
      .select(key).as[String].collect().toSet
    val isHeld = key.isin(held.toSeq: _*)
    existing = recs.filter(col("conv_id").startsWith("c") && !isHeld)
    val pairs = tr.span("blocking") {
      val p = Blocking.candidatePairs(existing, Workloads.prefix8, "conv_id",
        Workloads.Cap).localCheckpoint()
      extras = Map("blocking.pairs" -> p.count().toDouble)
      p
    }
    if (tr.enabled) tr.span("hydrate") {
      val (b, e) = c.exchangesOf(c.noop(
        Distances.hydrate(pairs, existing, Distances.featureAttrs)))
      extras ++= Map("hydrate.broadcast_exchanges" -> b.toDouble,
        "hydrate.exchanges" -> e.toDouble)
    }
    val edges = tr.span("score") {
      val e = Distances.ruleScore(Distances.features(pairs, existing))
        .filter(col("score") > 0.8).select("id_l", "id_r").localCheckpoint()
      e.count()
      e
    }
    clusters = tr.span("cc") {
      val (comp, steps) = ConnectedComponents.run(edges)
      val cl = existing.select(col("conv_id").as("id"))
        .join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
        .localCheckpoint()
      extras += "cc.supersteps" -> math.max(steps.size - 1, 0).toDouble
      cl
    }
    c.releaseCheckpoint(pairs)
    c.releaseCheckpoint(edges)
    incoming = recs.filter(col("conv_id").startsWith("d") || isHeld ||
        pmod(xxhash64(lit(c.seed), col("conv_id")), lit(50L)) === 0)
      .cache()
    nIncoming = incoming.count()
  }

  def release(c: Ctx): Unit = {
    incoming.unpersist(blocking = true)
    c.releaseCheckpoint(clusters)
    recs.unpersist(blocking = true)
  }

  /** Expected result per incoming id: a held-out `c<k>`/`d<k>` forms a
    * new cluster keyed by `c<k>` (the smaller id); any other `d<k>` or
    * re-ingested `c<k>` attaches to `c<k>`'s existing cluster. */
  override def prepareChecks(c: Ctx): Unit = {
    import c.spark.implicits._
    val ids = incoming.select(col("conv_id")).as[String].collect()
    val wanted = ids.map(id => "c" + id.drop(1)).toSet
    val comp = clusters.filter(col("id").isin(wanted.toSeq: _*))
      .select("id", "component").as[(String, String)].collect().toMap
    expected = ids.flatMap { id =>
      val k = id.drop(1)
      if (held(k)) Some(id -> ("c" + k, false))
      else comp.get("c" + k).map(cl => id -> (cl, true))
    }.toMap
  }

  def iteration(c: Ctx, i: Int): Outcome = {
    import c.spark.implicits._
    val (rows, reading) = c.timed {
      c.tracer.span("run") {
        c.tracer.span("attach") {
          Incremental.attach(existing, clusters, incoming, Workloads.prefix8)
            .select("id", "component", "attached")
            .as[(String, String, Boolean)].collect()
        }
      }
    }
    val got = rows.map(r => r._1 -> (r._2, r._3)).toMap
    def hit(id: String) = expected.get(id).exists(got.get(id).contains)
    val dIds = got.keys.filter(_.startsWith("d")).toSeq
    val tp = dIds.count(hit).toLong
    val fn = dIds.size - tp
    // an attach to any cluster but the expected one is a false match
    val fp = rows.count(r => r._3 && !hit(r._1)).toLong
    val heldHits = held.count(k => hit("c" + k) && hit("d" + k))
    val f = Workloads.f1(tp, fp, fn)
    Outcome(reading,
      Seq("every incoming id once" -> (rows.length == nIncoming &&
          got.size == rows.length),
        "d<k> lands in c<k>'s component" -> (fn == 0),
        "held-out c<k>, d<k> merge in the leftover CC" -> (heldHits == held.size),
        "no attach to a wrong cluster" -> (fp == 0)),
      f, s"incoming=${rows.length} attached=${rows.count(_._3)} " +
        s"held_out_pairs=${held.size} merged=$heldHits tp=$tp fp=$fp fn=$fn")
  }
}
