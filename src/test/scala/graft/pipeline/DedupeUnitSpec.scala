package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.block.{Acronym, Blocking, BoundScheme, ConjStats, DriverBlocks,
  ExactMatch, FindNgrams, FirstNChars, LastNChars, Scheme}

class DedupeUnitSpec extends AnyFunSuite with SparkSuite {

  private def pairs(df: DataFrame): Set[(String, String)] =
    df.collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("min_rr/max_compare stop refuses low-rr conjunctions") {
    val conjs = Seq(
      ConjStats(Seq("a"), 10, 5, 5, 0.9999),
      ConjStats(Seq("b"), 10, 5, 5, 0.99),
      ConjStats(Seq("c"), 10, 5, 5, 0.5),
      // even a high-rr conjunction AFTER a refused one stays refused
      // (best-first list, reference blocking.py:74-86 break semantics)
      ConjStats(Seq("d"), 10, 5, 5, 0.9999))
    // n = 10000 → C(n,2) = 49,995,000; maxCompare 1e6 → minRr ≈ 0.98
    val kept = Dedupe.applicableConjunctions(conjs, 10000L, 1000000L)
    assert(kept.map(_.conjunction) == Seq(Seq("a"), Seq("b")))
    // unbounded budget admits everything
    assert(Dedupe.applicableConjunctions(conjs, 10000L,
      Long.MaxValue).size == 4)
    // degenerate corpus (n < 2) admits everything
    assert(Dedupe.applicableConjunctions(conjs, 1L, 10L).size == 4)
  }

  test("budget pairs: one chunk per budget step, only the final " +
    "checkpoint left registered") {
    import spark.implicits._
    val recs = Seq(("a1", "alpha one"), ("a2", "alpha two"),
      ("b1", "beta one"), ("b2", "beta two"), ("c1", "gamma"),
      ("c2", "delta")).toDF("conv_id", "name")
    // 9 conjunctions = 2 chunks; the 9th alone pairs c1/c2 ("a" suffix)
    val conjs = (1 to 8).map(n => Seq(BoundScheme(FirstNChars(n), "name"))) :+
      Seq(BoundScheme(LastNChars(1), "name"))
    def union(cs: Seq[Seq[BoundScheme]]) = cs.flatMap(c =>
      pairs(Blocking.candidatePairs(recs, c, maxBlockSize = 100))).toSet
    val sc = spark.sparkContext
    // the Spark loop, forced: these conjunctions would run on the driver
    def budget(nCovered: Long) =
      Dedupe.budgetPairs(recs, conjs, 0L, nCovered, 100, None)
    val before = sc.getPersistentRDDs.keySet
    val all = budget(Long.MaxValue)
    val registered = sc.getPersistentRDDs.keySet -- before
    assert(pairs(all) == union(conjs) && pairs(all).contains(("c1", "c2")))
    assert(registered.size == 1,
      s"superseded budget checkpoints left registered: $registered")
    // a covered budget stops before the second chunk
    val first = budget(1L)
    assert(pairs(first) == union(conjs.take(8)))
    Seq(all, first).foreach(graft.plans.Checkpoints.release)
  }

  // long ids (9 < 10, unlike "10" < "9"); names and roles with a null
  // and an "" value, a repeated conv_id row (3), role "t t" exactly at
  // the cap of 3 and role prefix "u" one over it (4 incidences), and
  // rows 30 and 31, whose (name, role) tuples concatenate to the same
  // "q xzt" but share no block
  private lazy val edgeRecs = {
    import spark.implicits._
    Seq[(Long, String, String)](
      (1L, "alpha beta", "u a"), (2L, "alpha beta", "u a"),
      (3L, "alpha gamma", "u t"), (3L, "alpha gamma", "u t"),
      (4L, null, "t t"), (5L, "", "t t"), (6L, "alphabet", null),
      (9L, "gamma delta", "t t"), (10L, "gamma delta", "a a"),
      (20L, "delta", ""), (30L, "q x", "zt"), (31L, "q", " xzt"))
      .toDF("conv_id", "name", "role")
  }

  // 10 conjunctions = 2 chunks, among them three multi-scheme ones (one
  // with an n-gram scheme); the 9th alone pairs 10 with 1 and 2
  private val edgeConjs: Seq[Seq[BoundScheme]] = {
    def name(s: Scheme) = BoundScheme(s, "name")
    def role(s: Scheme) = BoundScheme(s, "role")
    Seq(Seq(name(ExactMatch)), Seq(name(FirstNChars(2))),
      Seq(role(ExactMatch)), Seq(role(FirstNChars(1))),
      Seq(name(FindNgrams(4)), role(FirstNChars(1))),
      Seq(name(FirstNChars(2)), role(ExactMatch)),
      Seq(name(LastNChars(2))), Seq(name(Acronym)),
      Seq(role(LastNChars(1))), Seq(name(ExactMatch), role(ExactMatch)))
  }

  private lazy val edgeEngine =
    DriverBlocks(edgeRecs, edgeConjs.flatten.distinct)

  private def longPairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("driver and Spark budget paths emit the same pairs: edge-case " +
    "fixture") {
    val sc = spark.sparkContext
    Seq(Long.MaxValue, 1L).foreach { nCovered =>
      val before = sc.getPersistentRDDs.keySet
      val driver = Dedupe.budgetPairs(edgeRecs, edgeConjs, 0L, nCovered, 3,
        edgeEngine)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
      val sparkPath = Dedupe.budgetPairs(edgeRecs, edgeConjs, 0L, nCovered, 3,
        None)
      assert(driver.schema == sparkPath.schema)
      assert(longPairs(driver) == longPairs(sparkPath), s"nCovered=$nCovered")
      graft.plans.Checkpoints.release(sparkPath)
    }
    val all = longPairs(Dedupe.budgetPairs(edgeRecs, edgeConjs, 0L,
      Long.MaxValue, 3, edgeEngine))
    // premises: the at-cap role block pairs, the over-cap prefix block,
    // the repeated row and the concatenation-equal tuples do not, ids
    // compare as numbers, and the 2nd chunk adds pairs that
    // nCovered = 1 leaves out
    assert(Set((4L, 5L), (4L, 9L), (5L, 9L), (9L, 10L), (1L, 10L))
      .subsetOf(all))
    assert(!all.contains((1L, 3L)) && !all.contains((3L, 3L)) &&
      !all.contains((30L, 31L)))
    val first = longPairs(Dedupe.budgetPairs(edgeRecs, edgeConjs, 0L, 1L, 3,
      edgeEngine))
    assert(first.nonEmpty && !first.contains((1L, 10L)))
    // a list whose summed nPairs is over the bound takes the Spark path,
    // which leaves its final checkpoint registered
    val before = sc.getPersistentRDDs.keySet
    val over = Dedupe.budgetPairs(edgeRecs, edgeConjs,
      Dedupe.DriverPairBound + 1, Long.MaxValue, 3, edgeEngine)
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(longPairs(over) == all)
    graft.plans.Checkpoints.release(over)
  }

  test("bestFirst orders equal-key conjunctions by scheme names: two " +
    "permutations admit the same list and budget pairs") {
    // every conjunction has the same key; the list sorts only by names
    val stats = edgeConjs.map(c => ConjStats(c.map(_.name), 4, 1, 1, 0.9))
    val byName = edgeConjs.flatten.map(b => b.name -> b).toMap
    def budget(cs: Seq[ConjStats]) = longPairs(Dedupe.budgetPairs(edgeRecs,
      cs.map(_.conjunction.map(byName)), 0L, 1L, 3, edgeEngine))
    // premise: applied in list order, the two permutations cover different
    // pairs once nCovered = 1 stops the loop after its first chunk of 8
    assert(budget(stats) != budget(stats.reverse))
    val (a, b) = (Dedupe.bestFirst(stats), Dedupe.bestFirst(stats.reverse))
    val admitted = Dedupe.applicableConjunctions(a, 12L, 1000000L)
    assert(a == b && admitted.size == stats.size &&
      admitted == Dedupe.applicableConjunctions(b, 12L, 1000000L))
    assert(budget(admitted) == budget(b))
    // the key still leads
    val best = stats.last.copy(rr = 0.95)
    assert(Dedupe.bestFirst(stats :+ best).head == best)
  }

  test("a budgetPairs call given an engine runs 0 jobs and registers " +
    "nothing") {
    val sc = spark.sparkContext
    val blocks = edgeEngine
    val before = sc.getPersistentRDDs.keySet
    val (pairs, jobs, _) = counting(Dedupe.budgetPairs(edgeRecs, edgeConjs,
      0L, Long.MaxValue, 3, blocks))
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // the Spark loop runs several jobs per chunk
    assert(jobs == 0, s"$jobs jobs in a driver-path budget call")
    assert(pairs.count() > 0)
  }
}
