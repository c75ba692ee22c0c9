package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Stats for one conjunction, reference StatsDict (_typing.py:81-90). */
final case class ConjStats(
    conjunction: Seq[String],
    nPairs: Long,
    positives: Long,
    negatives: Long,
    rr: Double) {
  /** reference ordering key (db/base.py:94-106): desc by
    * (rr, positives, -negatives). */
  def key: (Double, Long, Long) = (rr, positives, -negatives)
}

/** Greedy dynamic-program conjunction learner — faithful to
  * oagdedupe block/optimizers.py:73-99 + block/learner.py:51-67:
  *
  *   - seeds: every single bound scheme; pruned unless positives > 0 and
  *     rr ≥ seedRrCut (optimizers.py:87, hardcoded 0.99)
  *   - depth 1..k-1: extend the previous best with every other scheme,
  *     keep candidates passing `_keep_if` (optimizers.py:52-61:
  *     positives>0, rr<1, n_pairs>1, ≤1 n-gram scheme), take the best by
  *     (rr, positives, −negatives)
  *   - final list = flatten all DP cells, dedupe, sort desc by the same
  *     key (learner.py:64-66)
  *
  * Execution: where the reference issues ONE POSTGRES QUERY PER
  * CANDIDATE CONJUNCTION (blocking.py:196-254) from a process pool,
  * here the DP runs BREADTH-FIRST and every depth is ONE stats batch:
  * the `base ∧ x` candidates of every live seed chain are gathered,
  * deduped by sorted scheme list, and scored together — their
  * block-key incidence rows carry an int `_x` candidate tag and are
  * aggregated grouped by tag (J3+A1 batched). A `learn()` with k = 3
  * and no escalation is three batches (singles, depth 1, depth 2)
  * however many seeds are refined. The candidates reach Spark as DATA
  * — one literal list of scheme-index lists folded by
  * [[Blocking.conjunctionKeys]] — so every batch plans to the same
  * small plan whether it scores 3 candidates or 300: analysis,
  * optimization and plan rendering stop growing with the batch. See
  * [[sparkBatch]] for the block-size/coverage split that keeps each
  * batch free of pair-scale work. Scores are memoized across seeds
  * (reference @lru_cache, optimizers.py:37-50).
  *
  * Given a driver-side block engine ([[DriverBlocks]], built by the
  * caller for a small corpus; None means the Spark batches), a learner
  * whose labels fit one bounded read of at most 20,000 rows scores every
  * batch on the driver instead, with no Spark job: exact signature-tuple
  * keys, the same `ConjStats` as the Spark batches (see [[DriverBlocks]]
  * for the one case where they may differ, a 64-bit hash collision).
  */
/** Conjunction statistics are evaluated on the FULL `records` corpus,
  * not a train sample — a deliberate divergence from the reference's
  * sample-table estimator (db/postgres/initialize.py train table) and
  * the Spark-first answer to a bias a sample CANNOT fix: blocking is
  * frequency-capped, and pair structure shrinks quadratically under
  * record sampling, so a scheme whose keys are hot at corpus scale but
  * cool in an m-of-n sample (a short prefix over a growing key domain)
  * looks high-coverage in-sample and then loses all its blocks to the
  * cap at full scale (measured here: blocking recall 1.0 → 0.2 at
  * sf0.1 from a 4.8k-of-162k sample; re-scaling the cap to m/n just
  * trades the bias for noise — surviving sample blocks of size ≤ 3
  * score rr ≈ 1 on luck).
  *
  * Evaluating full-corpus stats WITHOUT the quadratic self-join:
  *   - `n_pairs` = Σ_blocks C(size, 2) over cap-surviving blocks —
  *     computed from BLOCK SIZES (one groupBy per batch, map-side
  *     partial agg), never materializing a pair. For multi-key (n-gram)
  *     schemes this counts a pair once per shared key — an upper bound
  *     that is exactly the JOIN WORK the conjunction induces, which is
  *     what the reduction ratio guards.
  *   - `positives`/`negatives` = labeled pairs whose two ends share a
  *     cap-surviving key: each labeled pair's SHARED keys (the
  *     intersection of its two ends' compound keys, computed on the
  *     labeled pairs only) are looked up in the surviving blocks
  *     through a broadcast join — the corpus-scale block table is
  *     never shuffled for coverage.
  */
final class Learner(
    records: DataFrame,
    labels: DataFrame,
    attrs: Seq[String],
    k: Int = 3,
    seedRrCut: Double = 0.99,
    maxBlockSize: Int = Blocking.DefaultMaxBlockSize,
    idCol: String = "conv_id",
    maxCompare: Long = 1000000L,
    blocks: Option[DriverBlocks] = None) {

  val schemes: Seq[BoundScheme] = Schemes.forAttributes(attrs)
  // memoized conjunction stats, keyed by the SORTED scheme list
  private val cache = mutable.HashMap.empty[Seq[String], ConjStats]

  // frames this learner cached (and so must release): created on first
  // use, so a driver-path learner caches nothing
  private val ownCaches = mutable.ArrayBuffer.empty[DataFrame]
  private def cached(df: DataFrame): DataFrame = { ownCaches += df; df.cache() }

  // a caller's cached labels are read, not re-registered: unpersist
  // must drop only what this learner cached itself
  private lazy val labelsCached =
    if (labels.storageLevel == StorageLevel.NONE) cached(labels) else labels

  private def sigColName(scheme: String): String = s"_s_$scheme"

  /** Forward SIGNATURE table: idCol + one validated signature column
    * per scheme ([[BoundScheme.sigArray]] — every column an
    * array<string>, exactly the signatures [[Blocking.invertedIndex]]
    * keeps). On the Spark path it is computed and cached ONCE — the
    * expensive part of every DP batch (regex tokenization, n-gram
    * generation over text attributes) runs one time per record instead
    * of once per batch per record. (A driver-side engine collects its
    * own.)
    */
  private def sigTable(df: DataFrame): DataFrame =
    df.select((col(idCol) +:
      schemes.map(b => b.sigArray.as(sigColName(b.name)))): _*)

  private lazy val corpusSigs = cached(sigTable(records))
  // labeled-record slice of the corpus — both ends of every labeled
  // pair; tiny next to the corpus, cached for the coverage joins.
  // Semi-joined off the CACHED signature table so the tokenization /
  // n-gram expressions never run a second time over records.
  private lazy val labRecSigs = {
    val ids = labels.select(col("id_l").as(idCol))
      .unionByName(labels.select(col("id_r").as(idCol))).distinct()
    cached(corpusSigs.join(ids, Seq(idCol), "left_semi"))
  }

  private lazy val nComparisons: Double = {
    val n = blocks.fold(records.count())(_.rows).toDouble
    n * (n - 1) / 2.0
  }

  /** The driver path's statistics, or None for the Spark path: an
    * engine given and labels of its id type that fit one bounded read
    * of at most `DriverLabels` rows. Chosen at the first stats batch;
    * nothing is cached. */
  private lazy val local: Option[DriverBlocks#Stats] = blocks.flatMap { b =>
    if (Seq("id_l", "id_r").exists(labels.schema(_).dataType != b.idType)) None
    else {
      val label = col("label")
      val labeled = DriverBlocks.collect(labels.select(col("id_l"),
        col("id_r"), label, coalesce(label === 1, lit(false)),
        coalesce(label === 0, lit(false))).limit(Learner.DriverLabels + 1))
      if (labeled.length > Learner.DriverLabels) None
      else Some(b.stats(labeled, labels.schema("label").dataType, maxBlockSize))
    }
  }

  /** "driver" or "spark": the stats path, choosing it if needed. */
  private[graft] def path: String = if (local.isDefined) "driver" else "spark"

  // candidates scored and stats batches run, for the [learner] line
  private var nScored = 0
  private var nBatches = 0

  /** Every conjunction scored so far, by sorted scheme list. */
  private[block] def memo: Map[Seq[String], ConjStats] = cache.toMap

  private val schemeIndex: Map[String, Int] =
    schemes.map(_.name).zipWithIndex.toMap
  private val byName: Map[String, BoundScheme] =
    schemes.map(b => b.name -> b).toMap

  /** The signature table's per-scheme columns as one array, in
    * `schemes` order — the `sigs` operand of [[hashKeys]]. Built at use
    * time from the cached per-scheme columns. */
  private def sigsArray: Column =
    array(schemes.map(b => col(sigColName(b.name))): _*)

  /** Per conjunction in `conjs`, the row's array of 64-bit hashes of
    * its signature tuples — the cartesian product of the conjunction's
    * schemes' signature sets, hash-chained left to right from seed 0
    * (block statistics need key IDENTITY, not key text; a 64-bit
    * collision merges two blocks in the estimate with probability
    * ~#blocks²/2⁶⁴ — statistical zero). Empty array ⇔ some scheme has
    * no valid signature ⇔ the record is in no block of that
    * conjunction. The conjunctions are passed as a literal list of
    * scheme indices ([[Blocking.conjunctionKeys]]), so the expression
    * does not grow with the candidate count.
    */
  private def hashKeys(conjs: Seq[Seq[String]], sigs: Column): Column =
    Blocking.conjunctionKeys(conjs.map(_.map(schemeIndex)), sigs, lit(0L),
      (h, s) => xxhash64(h, s))

  /** The surviving-block-size relation for one stats batch — exposed
    * package-private so PlanAuditSpec can pin its shape (no Join, no
    * Window anywhere: [[Blocking.keyedRows]] is a pure projection and
    * this adds one grouped count).
    *
    * `_n > 1`: singleton blocks are dropped before the persist — they
    * contribute C(1,2) = 0 pairs, and a labeled pair BOTH of whose
    * ends emit a key makes that key's global size ≥ 2, so no coverage
    * can hide in a singleton. With n-gram schemes most compound keys
    * are singletons; this shrinks the spilled block table by roughly
    * that fraction.
    */
  private[graft] def statsPlan(conjs: Seq[Seq[String]]): DataFrame =
    Blocking.keyedRows(corpusSigs.select(sigsArray.as("_sigs")), Nil,
      hashKeys(conjs, col("_sigs")))
      .groupBy(col("_x"), col("_k"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= maxBlockSize)

  /** (_x, id_l, id_r, label) for every pair in `pairs` (a slice of
    * the labels) whose two ends share a key of `surviving` under
    * `conjs(_x)` — one row per shared surviving key, so callers dedupe
    * pairs. Each pair's SHARED keys come from the labeled
    * records alone — both ends' signature rows broadcast onto the
    * pairs, then per conjunction the intersection of the two ends'
    * compound keys — so the only corpus-scale input, `surviving`, is
    * the stream side of one broadcast join on (_x, _k): no exchange
    * of the block table. The broadcast is bounded by labels ×
    * conjunctions × shared keys.
    */
  private def coverage(conjs: Seq[Seq[String]], surviving: DataFrame,
                       pairs: DataFrame): DataFrame = {
    def end(side: String) = broadcast(labRecSigs.select(
      col(idCol).as(s"id_$side"), sigsArray.as(s"_$side")))
    val pairKeys = Blocking.keyedRows(
      pairs.join(end("l"), "id_l").join(end("r"), "id_r"),
      Seq("id_l", "id_r", "label"),
      zip_with(hashKeys(conjs, col("_l")), hashKeys(conjs, col("_r")),
        array_intersect))
    surviving.select("_x", "_k")
      .join(broadcast(pairKeys), Seq("_x", "_k"))
      .select("_x", "id_l", "id_r", "label")
  }

  /** Optional progress logging ([[graft.Verbose]]). */
  private def log(msg: => String): Unit = graft.Verbose.log("learner")(msg)

  /** Score every not-yet-memoized conjunction in `conjs` — ONE stats
    * batch: on the driver path no Spark job, on the Spark path
    * [[sparkBatch]]. */
  private[block] def scoreAll(conjs: Seq[Seq[String]]): Unit = {
    val missing = conjs.distinctBy(_.sorted).filterNot(c => cache.contains(c.sorted))
    if (missing.isEmpty) return
    val t0 = System.nanoTime()
    val counts = local match {
      case Some(d) => missing.map(c => d(c.map(byName)))
      case None => sparkBatch(missing)
    }
    missing.zip(counts).foreach { case (c, s) =>
      cache(c.sorted) = s match {
        case Some((np, pos, neg)) =>
          ConjStats(c, np, pos, neg, 1.0 - np / math.max(nComparisons, 1.0))
        case None => ConjStats(c, 0L, 0L, 0L, 1.0)
      }
    }
    nScored += missing.size
    nBatches += 1
    log(s"scored ${missing.size} conjunctions in one batch in " +
      s"${math.round((System.nanoTime() - t0) / 1e8) / 10.0} s")
  }

  /** One Spark stats batch, ONE Spark action: per conjunction in
    * `conjs`, its `(n_pairs, positives, negatives)`, or None when it
    * has no surviving block.
    *
    * Shape: ONE map-only pass over the cached signature table emits
    * (tag, block-key-hash) incidence rows for every conjunction at
    * once ([[Blocking.keyedRows]] over [[hashKeys]] — no corpus-scale
    * join anywhere, and one constant-size expression for the whole
    * batch, the candidates being a literal), then (1) a
    * grouped count turns them into BLOCK SIZES — n_pairs is
    * Σ C(size,2) over cap-surviving blocks, no pair ever materialized —
    * and (2) the labeled pairs' shared keys are looked up in the
    * surviving blocks to count covered labeled pairs ([[coverage]]).
    * Both per-tag aggregates are unioned and collected once; AQE runs
    * the two branches' stages concurrently. One corpus-scale shuffle
    * per batch regardless of candidate count, with map-side partial
    * aggregation; nothing scales with the pair count.
    */
  private def sparkBatch(conjs: Seq[Seq[String]]): Seq[Option[(Long, Long, Long)]] = {
    // block SIZES on the full corpus — a plain groupBy with map-side
    // partial aggregation over map-only incidence rows; the cap is
    // applied to the real sizes, exactly as candidatePairs will apply
    // it at blocking time.
    // read twice (n_pairs agg + coverage join) → persisted.
    // MEMORY_AND_DISK (columnar, evictable, lineage kept): the
    // surviving-block table can be tens of millions of rows per
    // batch — an un-evictable localCheckpoint OOMed the 8 GB test
    // JVM, and the round-5 DISK_ONLY answer paid a full disk
    // write+read per DP batch even when the table fit in memory;
    // a plain cache spills under pressure instead of pinning.
    val surviving = statsPlan(conjs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val none = lit(null).cast("long")
    val nPairs = surviving.groupBy(col("_x"))
      .agg(sum(col("_n") * (col("_n") - 1) / 2).cast("long").as("n"))
      .select(col("_x"), col("n"), none.as("pos"), none.as("neg"))
    // a pair sharing several surviving keys under one tag is counted
    // once: the per-tag SET of covered pairs dedupes it in the same
    // shuffle that groups by tag (partial sets merge map-side)
    def labeled(c: Column, v: Int) =
      size(filter(c, p => p.getField("label") === v)).cast("long")
    val covered = coverage(conjs, surviving, labelsCached)
      .groupBy(col("_x"))
      .agg(collect_set(struct("id_l", "id_r", "label")).as("_c"))
      .select(col("_x"), none.as("n"), labeled(col("_c"), 1).as("pos"),
        labeled(col("_c"), 0).as("neg"))
    val (nRows, covRows) =
      try nPairs.unionByName(covered).collect().partition(r => !r.isNullAt(1))
      finally surviving.unpersist()
    val n = nRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cov = covRows.map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    conjs.indices.map(i => n.get(i).map { np =>
      val (pos, neg) = cov.getOrElse(i, (0L, 0L))
      (np, pos, neg)
    })
  }

  /** Score `base ∧ x` for every x in `exts` (one batch for the ones
    * not memoized yet). Returns each conjunction in the CALLER's path
    * order `base :+ x`: stats live under the sorted key, but the
    * conjunction a chain sees must be its own path.
    */
  def scoreBatch(base: Seq[String], exts: Seq[String]): Map[String, ConjStats] = {
    scoreAll(exts.map(base :+ _))
    exts.map(x => x -> cache((base :+ x).sorted).copy(conjunction = base :+ x)).toMap
  }

  /** Single-conjunction scoring (tests / spot checks). */
  def score(conjunction: Seq[String]): ConjStats =
    scoreBatch(conjunction.init, Seq(conjunction.last))(conjunction.last)

  private def nGramCount(conj: Seq[String]): Int =
    conj.count(_.startsWith("find_ngrams"))

  /** The seed cut (optimizers.py:87): a depth-1 conjunction seeds the
    * DP only if it covers a positive and its rr clears `seedRrCut`. */
  private def passesSeedCut(s: ConjStats): Boolean =
    s.positives > 0 && s.rr >= seedRrCut

  /** optimizers.py:52-61 `_keep_if`. */
  private def keepIf(s: ConjStats): Boolean =
    s.positives > 0 && s.rr < 1.0 && s.nPairs > 1 &&
      nGramCount(s.conjunction) <= 1

  /** The schemes `base` may be extended with — pruned pre-score to
    * conjunctions with ≤ 1 n-gram scheme (same kept set as `_keep_if`). */
  private def extensions(base: Seq[String]): Seq[String] =
    schemes.map(_.name)
      .filterNot(base.contains)
      .filter(x => nGramCount(base :+ x) <= 1)

  /** optimizers.py:73-99 `get_best` for every seed in `seeds`, run
    * BREADTH-FIRST: each depth first scores the candidates of every
    * live chain in one [[scoreAll]] batch, then each chain takes its
    * best `_keep_if` extension from the memo (the same `maxBy` over the
    * same per-base map as a per-seed DP, so ties resolve identically).
    * A chain with no surviving candidate stops; seeds failing the seed
    * cut yield no chain. Chains come back in seed order.
    */
  private def dpChains(seeds: Seq[String],
                       singles: Map[String, ConjStats]): Seq[Seq[ConjStats]] = {
    val chains = seeds.map(singles)
      .filter(passesSeedCut)
      .map(s0 => mutable.ArrayBuffer(s0))
    var live = chains
    var depth = 1
    while (depth < k && live.nonEmpty) {
      scoreAll(live.flatMap { c =>
        val base = c.last.conjunction
        extensions(base).map(base :+ _)
      })
      live = live.filter { c =>
        val base = c.last.conjunction
        val candidates = scoreBatch(base, extensions(base)).values.filter(keepIf)
        if (candidates.nonEmpty) c += candidates.maxBy(_.key)
        candidates.nonEmpty
      }
      depth += 1
    }
    chains.map(_.toSeq)
  }

  def getBest(seed: String): Seq[ConjStats] =
    dpChains(Seq(seed), scoreBatch(Nil, schemes.map(_.name))).flatten

  /** The min_rr refusal threshold the budget loop will apply —
    * `1 − maxCompare / C(n,2)` over the SAME corpus the stats are
    * computed on ([[graft.pipeline.Dedupe.applicableConjunctions]],
    * reference db/postgres/blocking.py:74-86).
    */
  def budgetMinRr: Double = 1.0 - maxCompare / math.max(nComparisons, 1.0)

  /** Which passing seeds the DP refines EAGERLY — derived from the
    * BUDGET MATH, not a rank count: the seeds whose own depth-1 rr
    * already clears the min_rr/max_compare refusal. Their refinements
    * sort above them (higher rr) and cover positives at a lower
    * pair-per-positive cost, which is exactly where the best-first
    * nCovered budget bites — while coverage itself is safe regardless,
    * because the admitted seed (applied later in the same prefix)
    * blocks a SUPERSET of every refinement's pairs. Skipped seeds
    * widen no DP batch; they keep their depth-1 stats in the learned
    * list, so the budget loop still sees (and refuses) them.
    *
    * What the skip assumes — and what guards it: rr is MONOTONE under
    * refinement (`seed ∧ x` blocks a subset of the seed's pairs, so
    * rr(seed ∧ x) ≥ rr(seed)), which means a below-cutoff seed's
    * refinement CAN clear the cutoff and enter the applied prefix —
    * the reference, which extends every seed (optimizers.py:73-99),
    * would learn it. Such a refinement only MATTERS when it covers a
    * duplicate pair nothing admitted covers, and that is checkable
    * exactly against the labels: [[learn]] verifies the admitted
    * prefix's label coverage after the primary pass and escalates to
    * refining EVERY passing seed (full reference semantics,
    * cache-incremental) if a labeled positive would otherwise be
    * lost. The guard is exactly as strong as the labels — the same
    * evidence the reference's own conjunction search runs on.
    */
  private[graft] def refinableSeeds(singles: Map[String, ConjStats]): Seq[String] = {
    val minRr = budgetMinRr
    schemes.map(_.name)
      .filter(s => passesSeedCut(singles(s)) && singles(s).rr >= minRr)
      .sortBy(s => singles(s).key)(Ordering[(Double, Long, Long)].reverse)
  }

  /** Distinct labeled POSITIVE pairs covered by ANY of `conjs` (both
    * ends share a cap-surviving compound key of some conjunction) —
    * the union counterpart of [[sparkBatch]]'s per-conjunction coverage,
    * same helpers and scale shape: one map-only incidence pass over
    * the cached signature table, one grouped count for the
    * cap-surviving blocks, and [[coverage]] on the labeled positives.
    * Feeds [[learn]]'s escalation guard; oracle-checked as
    * q60_coverage_guard.
    */
  def coveredPairs(conjs: Seq[Seq[String]]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    if (conjs.isEmpty)
      return Seq.empty[(String, String)].toDF("id_l", "id_r")
    coverage(conjs, statsPlan(conjs), labelsCached.filter(col("label") === 1))
      .select("id_l", "id_r").distinct()
  }

  /** The count of [[coveredPairs]] — from the collected data on the
    * driver path. */
  private[graft] def coveredPositives(conjs: Seq[Seq[String]]): Long =
    local match {
      case Some(d) => d.coveredPositives(conjs.map(_.map(byName)))
      case None => coveredPairs(conjs).count()
    }

  /** learner.py:51-67 `conjunctions_list`: DP from every seed, flatten,
    * dedupe, sort desc by (rr, positives, −negatives).
    */
  def learn(): Seq[ConjStats] = {
    val singles = scoreBatch(Nil, schemes.map(_.name))
    // refine only the seeds the budget math says can matter (see
    // [[refinableSeeds]]); the rest stay as their depth-1 selves.
    // (The reference extends EVERY seed — one postgres query per
    // candidate from a process pool, optimizers.py:73-99; at Spark
    // batch costs a below-cutoff seed's refinements are corpus-scale
    // work for conjunctions the budget loop usually refuses.)
    val passing = schemes.map(_.name).filter(s => passesSeedCut(singles(s)))
    val primary = refinableSeeds(singles)
    val learned = learnFrom(primary, singles)
    // COVERAGE GUARD for the skipped (below-cutoff) seeds: if the
    // would-be admitted prefix (the same takeWhile
    // [[graft.pipeline.Dedupe.applicableConjunctions]] applies)
    // already covers every labeled positive, skipped refinements
    // cannot add coverage — the skip is proven safe against the
    // labels. Otherwise fall back to the reference's full semantics.
    // Common-case cost on the Spark path: one tiny labels count — a
    // single admitted conjunction covering all positives
    // short-circuits the union batch.
    def gapFree: Boolean = {
      val admitted = learned.takeWhile(_.rr >= budgetMinRr)
      val totalPos = local.map(_.totalPositives).getOrElse(
        labelsCached.filter(col("label") === 1)
          .select("id_l", "id_r").distinct().count())
      totalPos == 0L || admitted.exists(_.positives == totalPos) ||
        coveredPositives(admitted.map(_.conjunction)) == totalPos
    }
    val result =
      if (passing.size == primary.size || gapFree) learned
      else {
        log(s"labeled positives uncovered behind the admitted prefix — " +
          s"escalating to full DP over all ${passing.size} passing seeds")
        learnFrom(passing, singles)
      }
    log(s"path=$path candidates=$nScored batches=$nBatches")
    result
  }

  /** DP from an explicit seed set (package-private so the seed-budget
    * A/B tool and specs can compare selection policies on one shared
    * stats cache): the breadth-first [[dpChains]] over `extendSeeds` —
    * one stats batch per depth for all of them together — plus the
    * other passing seeds at depth 1. Chains are flattened in seed
    * order and both `distinctBy` (keeps first) and `sortBy` (stable)
    * preserve it, so the list equals the per-seed DP's. */
  private[graft] def learnFrom(extendSeeds: Seq[String],
                               singles: Map[String, ConjStats]): Seq[ConjStats] = {
    val passing = schemes.map(_.name).filter(s => passesSeedCut(singles(s)))
    val rest = passing.filterNot(extendSeeds.contains)
    (dpChains(extendSeeds, singles).flatten ++ rest.map(singles))
      .distinctBy(_.conjunction.sorted)
      .sortBy(_.key)(Ordering[(Double, Long, Long)].reverse)
  }

  /** Release every frame this learner cached. */
  def unpersist(): Unit = {
    ownCaches.foreach(_.unpersist())
    ownCaches.clear()
  }
}

object Learner {
  // the driver path's label-row bound (see `local`)
  private val DriverLabels = 20000
}
