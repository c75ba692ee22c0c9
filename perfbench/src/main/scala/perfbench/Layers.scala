package perfbench

/** Per-layer figures from one traced window: the spans the benchmark
  * recorded around its calls into each layer, and the jobs and tasks
  * the listener saw meanwhile.
  *
  * A job is charged to the innermost span its start time falls in,
  * unless a [[BySite]] rule picks it by call site. An exclusive rule
  * takes the job away from its span (the TF-IDF prewarm jobs that start
  * inside the learner window); a non-exclusive one charges it twice
  * (the TableIO commit jobs, which also evaluate the rest of a stage).
  * A rule's layer has one span per matching job, from its start to its
  * end.
  */
object Layers {

  final case class BySite(layer: String, matches: JobRec => Boolean,
                          exclusive: Boolean)

  /** Every layer, in pipeline order; `run` is the timed job itself. */
  val names: Seq[String] = Seq("run", "normalize", "learner", "blocking",
    "hydrate", "score", "features", "tfidf", "ml", "cc", "io", "attach")

  val baseMetrics: Seq[String] = Seq("wall_s", "self_s", "jobs",
    "exec_cpu_s", "shuffle_mb", "spill_mb", "task_skew", "core_busy")

  /** Layer-specific counts on top of the base set. */
  val extraMetrics: Seq[String] = Seq("run.child_cover_pct",
    "run.total_shuffle_mb",
    "blocking.pairs", "hydrate.broadcast_exchanges", "hydrate.exchanges",
    "score.pairs_per_s", "score.pairs_per_cpu_s", "cc.supersteps", "cc.jobs_per_superstep",
    "io.write_mb", "io.files", "trace_overhead_pct")

  val allMetrics: Seq[String] =
    (for (l <- names; m <- baseMetrics) yield s"$l.$m") ++ extraMetrics

  /** Length of the union of `spans` clipped to `within`, in seconds. */
  def coveredSeconds(spans: Seq[Span], within: Span): Double = {
    val clipped = spans
      .map(s => (math.max(s.startMs, within.startMs),
        math.min(s.endMs, within.endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    (total + curB - curA) / 1000.0
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** @param spans    layer spans (the `run` span, if any, contains the
    *                 others)
    * @param bySite   layers whose jobs are picked by call site
    * @param contains layer whose span repeats another layer's work
    *                 (score's action re-does hydration), so its self time
    *                 is its wall minus the other's wall
    * @param cores    executor cores, for `core_busy`
    */
  def report(spans: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec],
             cores: Int, bySite: Seq[BySite] = Nil,
             contains: Map[String, String] = Map.empty): Map[String, Double] = {
    val firstJobOfStage: Map[Int, Int] = jobs.sortBy(_.id)
      .flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap
    val tasksByJob: Map[Int, Seq[TaskRec]] =
      tasks.groupBy(t => firstJobOfStage.getOrElse(t.stage, -1))
    val siteJobs: Map[String, Seq[JobRec]] =
      bySite.map(r => r.layer -> jobs.filter(r.matches)).toMap
    val siteSpans = siteJobs.toSeq.flatMap { case (l, js) =>
      js.map(j => Span(l, j.startMs, j.endMs))
    }
    val taken = bySite.filter(_.exclusive)
      .flatMap(r => siteJobs(r.layer)).map(_.id).toSet
    def innermost(t: Long): Option[String] =
      spans.filter(_.contains(t)).sortBy(s => s.endMs - s.startMs)
        .headOption.map(_.layer)
    val bySpan: Map[String, Seq[JobRec]] = jobs
      .filterNot(j => taken(j.id))
      .flatMap(j => innermost(j.startMs).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val runSpans = spans.filter(_.layer == "run")

    val out = Layers.names.flatMap { layer =>
      val fromSite = siteJobs.contains(layer)
      val ls = (if (fromSite) siteSpans else spans).filter(_.layer == layer)
      val wall = if (fromSite) runSpans.map(r => coveredSeconds(ls, r)).sum
        else ls.map(_.seconds).sum
      val self = layer match {
        case "run" => runSpans.map(r => r.seconds -
          coveredSeconds(spans.filterNot(_.layer == "run"), r)).sum
        case l if contains.contains(l) => math.max(0.0,
          wall - spans.filter(_.layer == contains(l)).map(_.seconds).sum)
        case _ => wall
      }
      val js = siteJobs.getOrElse(layer, Nil) ++ bySpan.getOrElse(layer, Nil)
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val durations = ts.map(_.durationMs.toDouble)
      val med = median(durations)
      val runS = ts.map(_.runMs).sum / 1000.0
      Seq(
        "wall_s" -> wall,
        "self_s" -> self,
        "jobs" -> js.size.toDouble,
        "exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / 1e6,
        "spill_mb" -> ts.map(_.spillBytes).sum / 1e6,
        "task_skew" -> (if (med > 0) durations.max / med else 0.0),
        "core_busy" -> (if (wall > 0) runS / (wall * cores) else 0.0)
      ).map { case (m, v) => s"$layer.$m" -> v }
    }.toMap
    val runWall = runSpans.map(_.seconds).sum
    out + ("run.child_cover_pct" -> (if (runWall > 0)
      100.0 * (runWall - out("run.self_s")) / runWall else 0.0))
  }
}
