package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import Layers.median

/** Benchmark entry point: one workload per process (or every workload
  * once in smoke mode), one SparkSession at local[nproc].
  *
  *   --workload dedupe_cold|score_fixed|attach_batch  --seed N
  *   --seconds S  --trace 0|1  --work DIR  [--commit ID]
  *   --smoke            every workload once on the smallest inputs,
  *                      checks only
  *
  * The corpus is the same in every run ([[Inputs.CorpusSeed]]); the
  * seed is the learner's `Config.seed` (`dedupe_cold`) and picks the
  * batch (`attach_batch`). After set-up, a job a long-lived process
  * repeats gets one untimed warm-up iteration (its outputs checked like
  * any other), which compiles the code and the generated query classes
  * the timed iterations take; a batch job ([[Workload.coldJvm]]) is
  * timed once, cold, as it runs in production.
  *
  * Prints `# ...` progress lines, then one JSON line
  * {"correct", "attempted", "failed", "metrics"}: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer metrics.
  */
object Main {

  /** Orders per workload: the input size the timed job sees. */
  val orders: Map[String, Int] = Map(
    "dedupe_cold" -> 600, "score_fixed" -> 5000, "attach_batch" -> 6000)
  val smokeOrders = 1500
  /** a run stops starting iterations after this many */
  val maxIterations = 50

  final case class Opts(workload: String = "", seed: Long = 1L,
                        seconds: Double = 10, trace: Boolean = false,
                        smoke: Boolean = false, work: String = "",
                        commit: String = "unknown")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--smoke" :: rest => parse(rest, o.copy(smoke = true))
    case "--work" :: v :: rest => parse(rest, o.copy(work = v))
    case "--commit" :: v :: rest => parse(rest, o.copy(commit = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def make(name: String, t: Inputs.Tables): Workload = name match {
    case "dedupe_cold" => new DedupeCold(t)
    case "score_fixed" => new ScoreFixed(t)
    case "attach_batch" => new AttachBatch(t)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString
  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Everything one workload run measured. */
  final case class Run(attempted: Int, failed: Int,
                       metrics: Seq[(String, Double, String)])

  def runWorkload(spark: SparkSession, probe: Probe, o: Opts,
                  name: String, nOrders: Int, smoke: Boolean,
                  env: mutable.LinkedHashMap[String, String]): Run = {
    val clock0 = System.nanoTime()
    def clock = f"${(System.nanoTime() - clock0) / 1e9}%.1f s"
    val tracer = new Tracer
    val ctx = new Ctx(spark, probe, tracer, o.work, o.seed)
    val tables = Inputs.write(spark, s"${o.work}/input_$name", nOrders)
    val w = make(name, tables)
    val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
    def trace(on: Boolean): Unit = {
      tracer.enabled = on
      probe.recording = on
      probe.clearTrace()
      tracer.spans.clear()
    }
    def layerPhase(extraSpans: Seq[Span], extras: Map[String, Double]): Double = {
      val (jobs, tasks, recordS) = probe.traced
      phases += Layers.report(tracer.spans.toSeq ++ extraSpans, jobs, tasks,
        ctx.cores, w.bySite, w.contains) ++ extras
      recordS
    }

    println(s"# $name inputs written at $clock: ${tables.conversations} " +
      s"conversations; orders by line items 0.. = " +
      tables.itemsPerOrder.mkString(","))

    var attempted = 0
    var failed = 0
    def check(i: String, out: Outcome): Unit = {
      val bad = out.checks.filterNot(_._2).map(_._1)
      if (bad.nonEmpty) failed += 1
      println(f"# $name $i at $clock: " +
        f"wall=${out.reading.wallS}%.3f s ${out.summary}" +
        (if (bad.isEmpty) "" else s" FAILED: ${bad.mkString(", ")}"))
    }
    val setupTimes = (1 to (if (smoke) 1 else w.setupReps)).map { r =>
      if (r > 1) w.release(ctx)
      trace(o.trace)
      val t0 = System.nanoTime()
      w.setup(ctx)
      val s = (System.nanoTime() - t0) / 1e9
      if (o.trace) layerPhase(Nil, w.setupExtras)
      s
    }
    trace(false)
    println(s"# $name set-up done at $clock: " +
      setupTimes.map(t => f"$t%.3f").mkString(", ") + " s")
    w.prepareChecks(ctx)
    println(s"# $name check references ready at $clock")
    if (!smoke && !w.coldJvm) {
      attempted += 1
      try check("warm-up", w.iteration(ctx, 0))
      catch {
        case e: Exception =>
          failed += 1
          println(s"# $name warm-up FAILED: $e")
      }
    }

    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    val overheadPct = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var iterations = 0
    while ((iterations < 1 || (!w.coldJvm && elapsed < o.seconds)) &&
        iterations < maxIterations) {
      trace(o.trace)
      attempted += 1
      iterations += 1
      try {
        val out = w.iteration(ctx, iterations)
        check(s"iteration $iterations", out)
        if (o.trace) {
          // what tracing adds to the timed job: the work only a traced
          // iteration does (score_fixed's noop hydration action, with
          // its plan listener and listener-bus drain) plus the time the
          // listener spent keeping trace records
          val recordS = layerPhase(out.extraSpans, out.layerExtras +
            ("run.total_shuffle_mb" -> out.reading.shuffleMb))
          overheadPct += 100.0 * (out.traceOnlyS + recordS) /
            (out.reading.wallS - out.traceOnlyS)
        }
        outcomes += out
      } catch {
        case e: Exception =>
          failed += 1
          println(s"# $name iteration $iterations FAILED: $e")
      }
    }
    trace(false)
    w.release(ctx)

    val steal = Env.stealPct(
      (outcomes.map(_.reading.stealBefore._1).sum, outcomes.map(_.reading.stealBefore._2).sum),
      (outcomes.map(_.reading.stealAfter._1).sum, outcomes.map(_.reading.stealAfter._2).sum))
    env("iterations") = iterations.toString
    env("steal_pct") = num(steal)

    val metrics = if (!o.trace) {
      def med(f: Outcome => Double) = median(outcomes.map(f).toSeq)
      Seq(
        ("wall_s", med(_.reading.wallS), "s"),
        ("records_per_s", med(w.conversations / _.reading.wallS), "1/s"),
        ("cpu_s", med(_.reading.cpuS), "s"),
        ("shuffle_mb", med(_.reading.shuffleMb), "MB"),
        ("cache_peak_mb", med(_.reading.cachePeakMb), "MB"),
        ("pair_f1", med(_.pairF1), "ratio"),
        ("setup_s", median(setupTimes), "s"))
    } else {
      // a layer's figures come from the phases (set-up repetitions,
      // traced iterations) that called it; a layer this workload never
      // calls reads 0
      def layerValue(metric: String): Double = {
        val layer = metric.takeWhile(_ != '.')
        val seen = phases.filter(p => p.get(s"$layer.wall_s").exists(_ > 0) ||
          p.get(s"$layer.jobs").exists(_ > 0))
        median(seen.flatMap(_.get(metric)).toSeq)
      }
      val base = Layers.allMetrics.map(m => m -> layerValue(m)).toMap
      val rounds = base("cc.supersteps")
      val scoreCpu = base("score.exec_cpu_s")
      val scoreWall = base("score.wall_s")
      val derived = Map(
        "cc.jobs_per_superstep" -> (if (rounds > 0) base("cc.jobs") / rounds else 0.0),
        "score.pairs_per_s" -> (if (scoreWall > 0) base("blocking.pairs") / scoreWall else 0.0),
        "score.pairs_per_cpu_s" -> (if (scoreCpu > 0) base("blocking.pairs") / scoreCpu else 0.0),
        "trace_overhead_pct" -> median(overheadPct.toSeq))
      Layers.allMetrics.map { m =>
        val unit =
          if (m.contains(".pairs_per_")) "1/s"
          else if (m.endsWith("_s")) "s"
          else if (m.endsWith("_mb")) "MB"
          else if (m.endsWith("_pct")) "%"
          else if (m.endsWith("task_skew") || m.endsWith("core_busy")) "ratio"
          else "count"
        (m, derived.getOrElse(m, base(m)), unit)
      }
    }
    Run(attempted, failed, metrics)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(o.work.nonEmpty, "--work DIR is required")
    require(o.smoke || orders.contains(o.workload),
      s"--workload must be one of ${orders.keys.mkString(", ")}")
    val env = mutable.LinkedHashMap(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_gb" -> num(Runtime.getRuntime.maxMemory / 1073741824.0),
      "commit" -> str(o.commit),
      "loadavg_start" -> num(Env.loadavg1()))
    val spark = session(o.work)
    env("spark_version") = str(spark.version)
    val probe = new Probe(spark.sparkContext)
    val run = try {
      if (o.smoke) {
        val runs = orders.keys.toSeq.sorted.map { name =>
          runWorkload(spark, probe, o.copy(seconds = 0), name, smokeOrders,
            smoke = true, env)
        }
        Run(runs.map(_.attempted).sum, runs.map(_.failed).sum, Nil)
      } else runWorkload(spark, probe, o, o.workload,
        orders(o.workload), smoke = false, env)
    } finally spark.stop()
    env("loadavg_end") = num(Env.loadavg1())
    println("# env " + env.map { case (k, v) => s"${str(k)}:$v" }
      .mkString("{", ",", "}"))
    val metrics = run.metrics.map { case (k, v, u) =>
      s"${str(k)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}"
    }.mkString("{", ",", "}")
    println(s"""{"correct":${run.failed == 0},"attempted":${run.attempted},""" +
      s""""failed":${run.failed},"metrics":$metrics}""")
    if (o.smoke && run.failed > 0) sys.exit(1)
  }
}
