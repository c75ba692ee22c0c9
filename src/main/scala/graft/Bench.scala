package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.block.{Blocking, BoundScheme, FindNgrams, FirstNChars}
import graft.normalize.Normalize
import graft.sim.Distances
import graft.synth.Transcripts

/** Benchmark main (driver contract): runs on SPARK_GRAFT_SF_DIR at
  * local[N], N = [[GraftSession.cores]], prints ONE JSON line.
  *
  * Headline metric (BASELINE.json): candidate-pairs scored per second.
  * The scored workload is the full similarity vector (3×Jaro-Winkler +
  * Levenshtein + token Jaccard + rule score) over the union of
  * prefix-blocked and n-gram-blocked candidate pairs — the pipeline's
  * compute-bound stage, which is what scales with cores. Blocking
  * (shuffle-bound) and the other operator queries are timed separately.
  *
  * A warmup pass on a pair subset triggers codegen compilation and JIT
  * before timing (steady-state measurement; fixed single-JVM startup
  * costs are not the quantity that scales with executors).
  */
object Bench {
  /** Quiescent PER-THREAD [[CpuControl.measure]] rate on the bench box
    * (xorshift steps/sec/thread), pinned from
    * `sbt "runMain graft.CpuControl"` at loadavg ≤ 0.5 — the ratio
    * denominator is `this × cpus`, so the control scales with
    * whatever core count the bench runs at (a 8-core scaling-sweep run
    * must not be graded against a 32-thread reference). Calibration
    * 2026-08-17 at 32 threads: quiescent max-of-3 windows ranged
    * 1.08e10–1.36e10 aggregate (3.4e8–4.3e8/thread) across five
    * back-to-back measurements (burstable/steal-prone host even when
    * idle); the constant is the mid-band, and the degraded threshold
    * (0.85) sits below the quiescent floor so only genuine co-tenant
    * epochs trip the retry. Low thread counts boost ~10-15% ABOVE this
    * per-thread reference (less cache/port contention) — the ratio cap
    * in value_cpu_normalized absorbs that. Re-pin after any hardware
    * change.
    */
  final val QuiescentCtrlOpsPerThread: Double = 1.25e10 / 32

  /** The fixed blocking the scoring measurements read: prefix-8 and
    * ngram-6 on `head_text`, each under the default block-size cap. */
  private[graft] val FixedConjunctions: Seq[(String, Seq[BoundScheme])] = Seq(
    "prefix8" -> Seq(BoundScheme(FirstNChars(8), "head_text")),
    "ngram6" -> Seq(BoundScheme(FindNgrams(6), "head_text")))

  /** prefix-8 ∪ ngram-6 candidate pairs over normalized `records`. */
  def fixedPairs(records: DataFrame): DataFrame =
    Blocking.unionPairs(FixedConjunctions.map { case (_, conj) =>
      Blocking.candidatePairs(records, conj, "conv_id",
        Blocking.DefaultMaxBlockSize)
    })

  /** The table the scoring kernel reads: `pairs` hydrated with
    * [[Distances.featureAttrs]], repartitioned to `parts` and persisted
    * DISK_ONLY (lazy — the caller's first action fills it).
    *
    * The explicit width keeps AQE's size-based coalescing of the join
    * output from deciding the scoring parallelism: a coarse result makes
    * the variable-cost similarity pass straggler-bound. DISK_ONLY
    * columnar cache, not localCheckpoint: the full hydrated pair set is
    * ~2 GB of strings per million pairs — at 15M pairs an in-memory
    * checkpoint blows the 8 GB bench heap, while the columnar cache
    * streams compressed batches whose decode is distributed work that
    * scales with the cores under test. */
  def hydrateForScoring(pairs: DataFrame, records: DataFrame,
                        parts: Int): DataFrame =
    Distances.hydrate(pairs, records, Distances.featureAttrs)
      .repartition(parts)
      .persist(StorageLevel.DISK_ONLY)

  /** Rule-scores hydrated pairs; returns (pairs scored, score sum). The
    * aggregate forces every similarity column — a bare count() lets
    * Catalyst prune the feature expressions away. */
  def evalScored(h: DataFrame): (Long, Double) = {
    val r = Distances.ruleScore(Distances.featuresFromHydrated(h))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("score")), lit(0.0)).as("s"))
      .head()
    (r.getLong(0), r.getDouble(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cores
    val spark = GraftSession.local()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    def readLoadavg(): Double = try {
      java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val loadavgStart = readLoadavg()

    // ---- Spark-free CPU control (see CpuControl scaladoc): the box
    //      drifts by epoch invisibly to loadavg, so the artifact
    //      carries its own machine-attribution. Measured before the
    //      first timed phase and again right after the last scoring
    //      pass; if either is >15% below the quiescent reference the
    //      scoring pass is RETRIED once (best-of-three) and the
    //      artifact self-reports epoch_degraded=true. ----
    val ctrlBefore = CpuControl.measure(cpus)

    // ---- phase 1: ingest + normalize (cached once, like a real
    //      pipeline run) ----
    // Shuffle width is PER-PHASE: normalize/blocking are uniform
    // shuffle-bound stages that run at the session's 1×cores width (4×
    // width costs them pure task + spill-file overhead — same-epoch A/B
    // on this box measured blocking 16–31 s at 1× vs 116 s at 4× under
    // I/O-throttled co-tenancy, and ~30 vs ~40 s quiescent); hydration
    // and scoring run at 4 tasks per core (see below).
    val (records, tNormalize) = time {
      val r = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
        .cache()
      r.count()
      r
    }

    // ---- phase 2: blocking (shuffle-bound) ----
    val (allPairs, tBlocking) = time {
      val p = fixedPairs(records)
        .localCheckpoint() // materialize: scoring timed in isolation
      p.count()
      p
    }
    val nPairs = allPairs.count()
    // scoring width: 4 tasks per core — similarity cost varies with
    // text length, so 1-task-per-core waves are straggler-bound; finer
    // tasks let the scheduler balance (AQE coalesces the small ones back)
    spark.conf.set("spark.sql.shuffle.partitions", (cpus * 4).toString)
    // deterministic 1-in-k sample (SPARK_GRAFT_SCORE_DIVISOR, default
    // 1 = score ALL pairs): with the bit-parallel Levenshtein the full
    // 15M-pair pass is ~40 s at 32 cores, and measuring the whole set
    // keeps the timed region long enough that per-wave stragglers and
    // the per-pass fixed cost stay amortized at high core counts (the
    // old 1-in-6 sample was sized for the 3× slower round-4 kernel;
    // at 9.9 s measured it cost the 8→32 pair 0.88 → 0.61 apparent
    // efficiency from the un-amortized tail alone)
    val scoreDiv = sys.env.getOrElse("SPARK_GRAFT_SCORE_DIVISOR", "1").toInt
    val pairs = if (scoreDiv <= 1) allPairs
      else allPairs.filter(
        pmod(xxhash64(col("id_l"), col("id_r")), lit(scoreDiv)) === 0)
        .localCheckpoint()

    // ---- hydration: attach attr values to pairs (shuffle-bound,
    //      reported separately — at cluster scale this is the
    //      co-partitioned pair⋈record join) ----
    val (hydrated, tHydration) = time {
      val h = hydrateForScoring(pairs, records, cpus * 4)
      h.count()
      h
    }

    // ---- warmup: codegen + JIT on a small slice of the same plan ----
    evalScored(hydrated.limit(10000))

    // hypervisor STEAL around each timed pass: this guest measures
    // 2.6% steal-of-busy at 8-wide load but 12.6% at 32-wide (the
    // host throttles full-width guests) — invisible to loadavg AND to
    // the short max-of-3 CpuControl windows, yet it directly inflates
    // a sustained 32-core pass. Recording Δsteal/(Δbusy+Δsteal) from
    // /proc/stat over exactly the measured region makes the scaling
    // numbers machine-attributable from the artifact alone.
    def procCpu(): (Double, Double) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val l = try src.getLines().next() finally src.close()
        val v = l.trim.split("\\s+").drop(1).take(8).map(_.toDouble)
        // user nice system idle iowait irq softirq steal
        (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
      } catch { case _: Throwable => (-1.0, -1.0) }
    val passSteal = scala.collection.mutable.Map.empty[Int, Double]
    def stealAround[T](pass: Int)(f: => T): T = {
      val (bb, sb) = procCpu()
      val r = f
      val (ba, sa) = procCpu()
      passSteal(pass) =
        if (bb < 0 || ba < 0) -1.0
        else {
          val db = ba - bb; val ds = sa - sb
          if (db + ds <= 0) 0.0 else 100.0 * ds / (db + ds)
        }
      r
    }

    // ---- phase 3: HEADLINE — the similarity kernel over all pairs
    //      (map-only WholeStageCodegen pass; the stage that must scale
    //      with cores). Two identical passes, one before and one after
    //      the operator-query sweep; headline = the faster pass.
    //      Round-1 driver data showed transient co-tenant CPU load can
    //      inflate a single pass ~5×; best-of-two over a spread-out
    //      window is the standard steady-state estimator (a dipped
    //      CPU control buys a third pass — see retryNeeded below). ----
    val ((nScored, scoreSum), tScoring1) =
      stealAround(1) { time { evalScored(hydrated) } }

    // ---- other operator queries (single pass each) ----
    val names = Seq("q01_transcripts", "q02_normalize", "q05_inverted_index",
      "q13_clusters", "q16_tfidf_cosine", "q26_doc_minhash_pairs",
      "q31_ann_topk")
    val results0 = names.map { name =>
      val (_, secs) = time {
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case _: Throwable => -1L }
      }
      name -> secs
    }

    // second headline pass (see above)
    val (_, tScoring2) = stealAround(2) { time { evalScored(hydrated) } }
    val ctrlAfter = CpuControl.measure(cpus)
    // quiescent reference: this box, local[32]-epoch with loadavg ≤ 2,
    // re-pinnable via `sbt "runMain graft.CpuControl"` (keep the
    // constant in sync after any hardware change)
    // a dip in EITHER control buys one more scoring pass + control
    // (cheap insurance); the final degraded verdict asks whether a
    // healthy CPU rate was available at ANY point in the window — if
    // yes, the best-of-N scoring pass had its chance at that healthy
    // moment and the headline stands un-degraded (transient dips right
    // after a Spark action — GC, executor-pool wind-down — must not
    // stamp a quiescent artifact as a degraded epoch)
    val quiescentRef = QuiescentCtrlOpsPerThread * cpus
    val retryNeeded =
      math.min(ctrlBefore, ctrlAfter) / quiescentRef < 0.85
    val (tScoring3, ctrlRetry) = if (retryNeeded) {
      val (_, t3) = stealAround(3) { time { evalScored(hydrated) } }
      (t3, CpuControl.measure(cpus))
    } else (-1.0, -1.0)
    val ctrlBest = Seq(ctrlBefore, ctrlAfter, ctrlRetry).max
    val ctrlRatio = ctrlBest / quiescentRef
    val degraded = ctrlRatio < 0.85
    val passes = Seq(1 -> tScoring1, 2 -> tScoring2) ++
      (if (retryNeeded) Seq(3 -> tScoring3) else Nil)
    val (bestPass, tScoring) = passes.minBy(_._2)
    val pps = nScored / tScoring
    // steal measured over the BEST pass's exact window; the adjusted
    // value estimates the rate this guest would sustain at zero steal
    // (the honest cross-core-count comparator — steal grows with the
    // width of the run, see the scaling table in BENCH.md)
    val stealPct = passSteal.getOrElse(bestPass, -1.0)
    val ppsStealAdjusted =
      if (stealPct >= 0 && stealPct < 100) pps / (1.0 - stealPct / 100.0)
      else pps

    // ---- e2e LEARNED pipeline at the bench SF: the greedy-DP
    //      conjunction learner + budgeted blocking + ML classifier +
    //      connected components (graft.pipeline.Dedupe.run) — the
    //      distinguishing stage of this engine, previously only
    //      driver-timed at sf0.001. Reported as its own top-level
    //      field and EXCLUDED from total_sec (total stays comparable
    //      across rounds; this re-runs the whole pipeline). ----
    // release the phase-1..3 caches and localCheckpoint blocks first:
    // the e2e run builds its own state and should neither OOM against
    // nor be flattered by leftover blocks (nothing below reads them).
    // SPARK_GRAFT_E2E=0 skips the phase (scaling sweeps at low core
    // counts time the scoring kernel only); the field reports -1.
    records.unpersist()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    // the 4-tasks-per-core width above suits the straggler-prone
    // scoring kernel; the learner's many small aggregation stages pay
    // it as pure task/spill-file overhead (measured +80% e2e wall at
    // 128 vs 32) — run the pipeline at RunDedupe's 1×cores width
    val runE2e = !sys.env.get("SPARK_GRAFT_E2E").contains("0")
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    val (_, tE2eLearned) =
      if (runE2e) time { graft.pipeline.Dedupe.run(spark, sfDir).clusters.count() }
      else ((), -1.0)

    // "scoring" carries the SAME best-pass value as scoring_sec (best
    // of two passes, or three when the control-triggered retry fires) so
    // cross-round consumers of queries.scoring compare like with like;
    // the raw passes stay as diagnostics
    val results = results0 ++ Seq("normalize" -> tNormalize,
      "blocking" -> tBlocking, "hydration" -> tHydration,
      "scoring" -> tScoring, "scoring_pass1" -> tScoring1,
      "scoring_pass2" -> tScoring2) ++
      (if (retryNeeded) Seq("scoring_pass3" -> tScoring3) else Nil)

    val qs = results.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
    // total = one representative run: each phase/query once, scoring
    // counted once at its best-pass value (the raw passes are
    // diagnostics, not additional work a pipeline run would do)
    val total = results
      .filterNot(r => r._1.startsWith("scoring_pass"))
      .map(_._2).sum
    // environment diagnostics: expose co-tenant load at measurement time
    // (round-1 reproducibility gap) — 1-minute loadavg at start AND end
    val loadavg = readLoadavg()
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // value stays the RAW measured rate; value_cpu_normalized divides
    // by the control ratio (capped at 1 — a better-than-reference epoch
    // must not deflate the number) so a degraded-epoch artifact also
    // carries the machine-attributed estimate of the quiescent rate
    val ppsNorm = pps / math.min(1.0, ctrlRatio)
    val json = s"""{"metric":"pairs_scored_per_sec","value":$pps,""" +
      s""""unit":"pairs/sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,""" +
      s""""pairs_scored":$nScored,"n_pairs":$nPairs,"score_sum":$scoreSum,""" +
      s""""scoring_sec":$tScoring,"e2e_learned_sec":$tE2eLearned,""" +
      s""""total_sec":$total,""" +
      s""""cpu_control_before":$ctrlBefore,"cpu_control_after":$ctrlAfter,""" +
      s""""cpu_control_retry":$ctrlRetry,""" +
      s""""cpu_control_ops_per_sec":$ctrlBest,""" +
      s""""cpu_control_quiescent_ref":$quiescentRef,""" +
      s""""cpu_control_ratio":$ctrlRatio,"epoch_degraded":$degraded,""" +
      s""""value_cpu_normalized":$ppsNorm,""" +
      s""""cpu_steal_pct":$stealPct,""" +
      s""""value_steal_adjusted":$ppsStealAdjusted,""" +
      s""""loadavg_start":$loadavgStart,"loadavg_end":$loadavg,""" +
      s""""heap_gb":${math.round(heapGb * 10) / 10.0}}"""
    // stdout for the driver's line parser (build.sbt forwards forked
    // stdout unprefixed) AND a file so no consumer has to scrape logs
    println(json)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench.json"), json + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
