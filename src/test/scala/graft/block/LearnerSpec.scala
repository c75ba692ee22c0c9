package graft.block

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Learner semantics ported from the reference's unit tests
  * (tests/block/test_learner.py:56-81, test_optimizers.py:59-87):
  * conjunction list is deduped and sorted desc by (rr, positives,
  * −negatives); seeds failing the rr/positives cut yield nothing;
  * stats match hand-computed values on a tiny fixture.
  */
class LearnerSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // 6 records: r1/r2 near-identical (labeled match), r5/r6 distinct
  // (labeled non-match)
  private lazy val train = Seq(
    ("r1", "alpha beta", "u a"),
    ("r2", "alpha beta", "u a"),
    ("r3", "gamma delta", "u t"),
    ("r4", "epsilon zeta", "a t"),
    ("r5", "eta theta", "u a"),
    ("r6", "iota kappa", "t t")).toDF("conv_id", "head_text", "role_seq")

  private lazy val labels = Seq(
    ("r1", "r2", 1),
    ("r5", "r6", 0)).toDF("id_l", "id_r", "label")

  /** The driver-side block engine over `attrs`' schemes of `recs`. */
  private def engine(recs: DataFrame, attrs: Seq[String]) =
    DriverBlocks(recs, Schemes.forAttributes(attrs))

  private def learner(seedCut: Double = 0.0) =
    new Learner(train, labels, Seq("head_text"), k = 2,
      seedRrCut = seedCut, maxBlockSize = 100,
      blocks = engine(train, Seq("head_text")))

  test("score: stats match hand computation (J3+A1+A2)") {
    val s = learner().score(Seq("exactmatch_head_text"))
    // only r1/r2 share identical head_text → 1 pair, the labeled match
    assert(s.nPairs == 1 && s.positives == 1 && s.negatives == 0)
    // rr = 1 − 1/C(6,2)
    assert(math.abs(s.rr - (1.0 - 1.0 / 15.0)) < 1e-12)
  }

  test("learn: list deduped and sorted desc by (rr, positives, -negatives)") {
    val conjs = learner().learn()
    assert(conjs.nonEmpty)
    val keys = conjs.map(_.key)
    assert(keys == keys.sortBy(identity)(
      Ordering[(Double, Long, Long)].reverse))
    assert(conjs.map(_.conjunction.sorted).distinct.size == conjs.size)
    // every kept conjunction passes _keep_if (optimizers.py:52-61)
    conjs.foreach { c =>
      assert(c.positives > 0 && c.rr < 1.0 && c.nPairs > 1 ||
        c.conjunction.size == 1) // seeds are kept via the seed cut only
    }
  }

  test("seed cut prunes low-rr seeds (optimizers.py:87)") {
    // with the hardcoded 0.99 cut, nothing on 6 records can pass
    // (1 pair ⇒ rr = 14/15 < 0.99) → no conjunctions at all
    assert(learner(seedCut = 0.99).learn().isEmpty)
  }

  test("budget-derived DP seed skip: a below-min_rr seed keeps its " +
    "depth-1 stats but is never refined") {
    // maxCompare = 1 over C(6,2) = 15 comparisons ⇒ min_rr = 14/15: the
    // budget loop will refuse any conjunction admitting > 1 pair, so
    // the DP must not spend corpus-scale batches refining seeds the
    // budget already refuses at depth 1
    val l = new Learner(train, labels, Seq("head_text"), k = 2,
      seedRrCut = 0.0, maxBlockSize = 100, maxCompare = 1L,
      blocks = engine(train, Seq("head_text")))
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    assert(math.abs(l.budgetMinRr - 14.0 / 15.0) < 1e-12)
    // find_ngrams_4 over head_text: r1/r2 share 7 four-gram keys ⇒
    // n_pairs = 7 (join-work counting) ⇒ rr = 8/15 < min_rr: covered
    // (positives = 1) but refused by the budget at depth 1
    val refused = "find_ngrams_4_head_text"
    assert(singles(refused).positives > 0 &&
      singles(refused).rr < l.budgetMinRr)
    val refinable = l.refinableSeeds(singles)
    assert(!refinable.contains(refused),
      "below-min_rr seed must be skipped for the BUDGET reason")
    // exactmatch admits exactly 1 pair ⇒ rr = 14/15 = min_rr: refinable
    assert(refinable.contains("exactmatch_head_text"))
    val conjs = l.learn()
    // the refused seed survives at depth 1 (the learned list still
    // carries its stats)...
    assert(conjs.exists(_.conjunction == Seq(refused)))
    // ...but no DP chain was seeded from it
    assert(conjs.filter(_.conjunction.size > 1)
      .forall(_.conjunction.head != refused))
  }

  private lazy val twoAttrEngine = engine(train, Seq("head_text", "role_seq"))

  private def twoAttrLearner(driver: Boolean = true) =
    new Learner(train, labels, Seq("head_text", "role_seq"),
      k = 3, seedRrCut = 0.0, maxBlockSize = 100,
      blocks = if (driver) twoAttrEngine else None)

  test("breadth-first learn() equals the per-seed DP") {
    val l = twoAttrLearner()
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    val seeds = l.refinableSeeds(singles)
    val rest = l.schemes.map(_.name)
      .filter(s => singles(s).positives > 0 && !seeds.contains(s))
    // every seed's chain on its OWN learner: one batch per depth per
    // seed, no memo shared across seeds — the per-seed reference DP
    val chains = seeds.map { s =>
      val fresh = twoAttrLearner()
      try fresh.getBest(s) finally fresh.unpersist()
    }
    val perSeed = (chains.flatten ++ rest.map(singles))
      .distinctBy(_.conjunction.sorted)
      .sortBy(_.key)(Ordering[(Double, Long, Long)].reverse)
    val learned = l.learn()
    l.unpersist()
    assert(seeds.size >= 3 && chains.exists(_.size > 1))
    // exact element-wise equality INCLUDING order and each
    // conjunction's scheme order
    assert(learned == perSeed)
  }

  test("one stats batch per DP depth") {
    val l = twoAttrLearner(driver = false)
    val (_, _, execs) = counting(l.learn())
    // premise: several refined seeds and no coverage escalation (every
    // passing seed is refinable) — all read from the memo, no new jobs
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    val seeds = l.refinableSeeds(singles)
    assert(seeds.size >= 3)
    assert(seeds.size == l.schemes.count(s => singles(s.name).positives > 0))
    assert(l.path == "spark")
    l.unpersist()
    // k = 3 depths (singles, depth 1, depth 2), one action each, plus
    // at most one for the corpus count behind rr; a per-seed DP runs
    // 1 + 2·seeds batches
    assert(execs <= 3 + 1, s"$execs SQL executions in learn()")
  }

  test("a driver-path learn() runs only the bounded reads' jobs and " +
    "registers nothing") {
    val sc = spark.sparkContext
    val l = twoAttrLearner()
    val before = sc.getPersistentRDDs.keySet
    val (learned, jobs, _) = counting(l.learn())
    assert(l.path == "driver" && learned.nonEmpty)
    l.unpersist()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // the engine is built beforehand, and the labels are a local
    // relation here, read with no job; the Spark path runs a corpus
    // count and 3 stats batches
    assert(jobs == 0, s"$jobs jobs in a driver-path learn()")
  }

  /** Every conjunction with at most one n-gram scheme of up to three
    * of `l`'s schemes. */
  private def candidates(l: Learner): Seq[Seq[String]] = {
    val names = l.schemes.map(_.name)
    (1 to 3).flatMap(names.combinations)
      .filter(_.count(_.startsWith("find_ngrams")) <= 1)
  }

  /** learn() and every scored conjunction on the driver path (`make`
    * given an engine) equal the Spark path's (given None); `all` adds
    * candidates to score on both. Returns the scored memo. */
  private def assertPathsAgree(make: Option[DriverBlocks] => Learner,
                               blocks: Option[DriverBlocks],
                               all: Learner => Seq[Seq[String]])
      : Map[Seq[String], ConjStats] = {
    val (driver, sparkPath) = (make(blocks), make(None))
    try {
      assert(driver.learn() == sparkPath.learn())
      driver.scoreAll(all(driver))
      sparkPath.scoreAll(all(sparkPath))
      assert(driver.path == "driver" && sparkPath.path == "spark")
      assert(driver.memo.nonEmpty)
      assert(driver.memo == sparkPath.memo)
      driver.memo
    } finally { driver.unpersist(); sparkPath.unpersist() }
  }

  test("driver and Spark stats paths agree on every candidate: " +
    "edge-case fixture") {
    // the 6 records plus: a null and an "" attribute (null / "" and
    // empty-array signatures), repeated n-grams, role "t t" exactly at
    // the cap of 3 and role "u a" over it (4 rows), and two rows whose
    // (head, role) tuples concatenate to the same "abc"
    val recs = train.union(Seq[(String, String, String)](
      ("r7", null, "u a"), ("r8", "", ""),
      ("r9", "aaaaaaaaaaaa", "t t"), ("r10", "aaaaaaaaab", "t t"),
      ("r11", "gamma delta", "a t"),
      ("r12", "ab", "c"), ("r13", "a", "bc"))
      .toDF("conv_id", "head_text", "role_seq"))
    // a duplicate label row, a pair with an end missing from the
    // corpus, a reversed pair, pairs sharing only an at-cap or an
    // over-cap role key, and the concatenation-equal pair
    val labs = Seq(("r1", "r2", 1), ("r1", "r2", 1), ("r2", "r1", 1),
      ("r5", "r6", 0), ("r3", "zz", 1), ("r9", "r10", 1),
      ("r3", "r11", 0), ("r6", "r9", 1), ("r5", "r7", 1), ("r12", "r13", 1))
      .toDF("id_l", "id_r", "label")
    val attrs = Seq("head_text", "role_seq")
    val memo = assertPathsAgree(b => new Learner(recs, labs, attrs,
      k = 3, seedRrCut = 0.0, maxBlockSize = 3, blocks = b),
      engine(recs, attrs), candidates)
    // exact keys are tuples: ("ab", "c") and ("a", "bc") share no block,
    // so only r1/r2 pair, covering (r1, r2) and (r2, r1)
    val exact = memo(Seq("exactmatch_head_text", "exactmatch_role_seq"))
    assert(exact.nPairs == 1 && exact.positives == 2)
  }

  test("driver and Spark stats paths agree on every candidate: " +
    "planted sf0.001, all 33 schemes") {
    val sfDir = "/root/testdata/sf0.001"
    val recs = graft.normalize.Normalize.normalize(
      graft.synth.Transcripts.transcripts(spark, sfDir)).cache()
    val labs = Labels.plantedLabels(spark, sfDir).cache()
    try {
      // the scored memo of learn() (every depth's candidates) and all
      // 33 single-scheme conjunctions
      val attrs = graft.normalize.Normalize.blockingAttributes
      assertPathsAgree(b => new Learner(recs, labs, attrs, blocks = b),
        engine(recs, attrs), l => l.schemes.map(b => Seq(b.name)))
    } finally { recs.unpersist(); labs.unpersist() }
  }

  test("coverage-gap escalation: refinements of budget-refused seeds " +
    "are learned when the admitted prefix would miss a labeled positive") {
    // Two labeled positives, NO depth-1 seed admissible: the b-block
    // (5 identical heads) puts ≥ 10 pairs under every head scheme, the
    // 7-strong "u a" role block ≥ 21 under every role scheme — so with
    // maxCompare = 2 over C(16,2) = 120 (min_rr = 118/120) every seed
    // is refused at depth 1 and refinableSeeds is EMPTY. Only
    // refinements (e.g. head-prefix ∧ role-exact: blocks {a1,a2} and
    // {b1,b2}, 2 pairs) clear the cutoff — exactly the case the
    // primary skip would lose and the label-coverage guard must catch.
    val recs = Seq(
      ("a1", "zeta one", "u a"), ("a2", "zeta two", "u a"),
      ("b1", "alpha beta", "q q"), ("b2", "alpha beta", "q q"),
      ("b3", "alpha beta", "r r"), ("b4", "alpha beta", "s s"),
      ("b5", "alpha beta", "t v"),
      ("n1", "zeta n1", "t t"), ("n2", "zeta n2", "t u"),
      ("n3", "zeta n3", "u t"), ("n4", "zeta n4", "a a"),
      ("m1", "golf gg", "u a"), ("m2", "hotel hh", "u a"),
      ("m3", "india ii", "u a"), ("m4", "juliet jj", "u a"),
      ("m5", "kilo kk", "u a")).toDF("conv_id", "head_text", "role_seq")
    val labs = Seq(("a1", "a2", 1), ("b1", "b2", 1), ("n1", "m1", 0))
      .toDF("id_l", "id_r", "label")
    val l = new Learner(recs, labs, Seq("head_text", "role_seq"), k = 3,
      seedRrCut = 0.0, maxBlockSize = 100, maxCompare = 2L)
    val singles = l.scoreBatch(Nil, l.schemes.map(_.name))
    // premise: covering seeds exist but every one is budget-refused at
    // depth 1, so the eager criterion refines nothing
    assert(l.schemes.map(_.name).exists { s =>
      singles(s).positives > 0 && singles(s).rr < l.budgetMinRr })
    assert(l.refinableSeeds(singles).isEmpty)
    val learned = l.learn()
    val admitted = learned.takeWhile(_.rr >= l.budgetMinRr)
    // escalation refined the refused seeds: the admitted prefix now
    // holds multi-scheme refinements and covers BOTH labeled positives
    assert(admitted.nonEmpty && admitted.forall(_.conjunction.size > 1))
    assert(l.coveredPositives(admitted.map(_.conjunction)) == 2L)
    // the driver path's guard escalates to the same list
    val d = new Learner(recs, labs, Seq("head_text", "role_seq"), k = 3,
      seedRrCut = 0.0, maxBlockSize = 100, maxCompare = 2L,
      blocks = engine(recs, Seq("head_text", "role_seq")))
    assert(d.learn() == learned && d.path == "driver")
    assert(d.coveredPositives(admitted.map(_.conjunction)) == 2L)
    l.unpersist()
  }

  test("unpersist leaves a caller-cached labels frame cached") {
    // the pipeline caches its labels and reads them again after the
    // learner (classifier training): the learner must not drop them
    val own = labels.filter($"label" >= 0).cache()
    try {
      own.count()
      val l = new Learner(train, own, Seq("head_text"), k = 2,
        seedRrCut = 0.0, maxBlockSize = 100)
      l.score(Seq("exactmatch_head_text"))
      l.unpersist()
      assert(own.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "learner.unpersist() dropped the caller's labels cache")
    } finally own.unpersist()
  }

  test("ngram constraint: conjunctions never contain 2 ngram schemes") {
    val conjs = learner().learn()
    conjs.foreach { c =>
      assert(c.conjunction.count(_.startsWith("find_ngrams")) <= 1)
    }
  }
}
