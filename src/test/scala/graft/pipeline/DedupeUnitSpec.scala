package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import graft.block.{Blocking, BoundScheme, ConjStats, FirstNChars, LastNChars}

class DedupeUnitSpec extends AnyFunSuite with SparkSuite {

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
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    def union(cs: Seq[Seq[BoundScheme]]) = cs.flatMap(c =>
      pairs(Blocking.candidatePairs(recs, c, maxBlockSize = 100))).toSet
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val all = Dedupe.budgetPairs(recs, conjs, Long.MaxValue, 100)
    val registered = sc.getPersistentRDDs.keySet -- before
    assert(pairs(all) == union(conjs) && pairs(all).contains(("c1", "c2")))
    assert(registered.size == 1,
      s"superseded budget checkpoints left registered: $registered")
    // a covered budget stops before the second chunk
    val first = Dedupe.budgetPairs(recs, conjs, 1L, 100)
    assert(pairs(first) == union(conjs.take(8)))
    Seq(all, first).foreach(graft.plans.Checkpoints.release)
  }
}
