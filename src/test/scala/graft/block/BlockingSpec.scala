package graft.block

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Pair generation must equal the brute-force nested-loop spec of
  * oagdedupe simple/subroutines.py:19-33: a pair (l, r) is a candidate
  * iff every scheme in the conjunction "matches" — string equality for
  * scalar signatures, NON-EMPTY INTERSECTION for array signatures
  * (SetSignature.__eq__, simple/signatures.py:9-15).
  */
class BlockingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val names = Seq(
    ("r1", "john smith"),
    ("r2", "john smyth"),
    ("r3", "jane smith"),
    ("r4", "bob jones"),
    ("r5", "john smith"))

  private lazy val df = names.toDF("conv_id", "name")

  /** brute-force spec (simple/subroutines.py:19-33). */
  private def bruteForce(conj: Seq[BoundScheme]): Set[(String, String)] = {
    def sigs(b: BoundScheme, v: String): Set[String] = b.scheme match {
      case FindNgrams(n) =>
        if (v.length < n) Set.empty
        else (0 to v.length - n).map(i => v.substring(i, i + n)).toSet
      case FirstNChars(n) => Set(v.take(n))
      case LastNChars(n) => Set(v.takeRight(n))
      case Acronym => Set(v.split(" ").filter(_.nonEmpty).map(_.head).mkString)
      case ExactMatch => Set(v)
      case FirstLetterFirstWord => Set(v.split(" ").head.take(1))
    }
    (for {
      (idL, vL) <- names; (idR, vR) <- names
      if idL < idR
      if conj.forall(b => (sigs(b, vL) intersect sigs(b, vR)).nonEmpty)
    } yield (idL, idR)).toSet
  }

  private def sparkPairs(conj: Seq[BoundScheme]): Set[(String, String)] =
    Blocking.candidatePairs(df, conj, maxBlockSize = 1000)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  test("scalar conjunction equals brute force") {
    val conj = Seq(BoundScheme(FirstNChars(4), "name"))
    assert(sparkPairs(conj) == bruteForce(conj))
  }

  test("ngram (set-overlap) conjunction equals brute force") {
    val conj = Seq(BoundScheme(FindNgrams(4), "name"))
    assert(sparkPairs(conj) == bruteForce(conj))
  }

  test("two-scheme conjunction equals brute force") {
    val conj = Seq(BoundScheme(Acronym, "name"),
      BoundScheme(FindNgrams(6), "name"))
    assert(sparkPairs(conj) == bruteForce(conj))
  }

  test("canonical ordering, no self pairs, no duplicates") {
    val conj = Seq(BoundScheme(FindNgrams(4), "name"))
    val pairs = Blocking.candidatePairs(df, conj, maxBlockSize = 1000)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.forall { case (l, r) => l < r })
    assert(pairs.distinct.length == pairs.length)
  }

  test("hot-signature cap drops oversized blocks deterministically") {
    val many = (1 to 30).map(i => (s"r$i", "same prefix here")) ++
      Seq(("x1", "uniq value a"), ("x2", "uniq value b"))
    val d = many.toDF("conv_id", "name")
    val conj = Seq(BoundScheme(FirstNChars(4), "name"))
    // cap 10 < 30 ⇒ the hot 'same' block is dropped; 'uniq' block stays
    val pairs = Blocking.candidatePairs(d, conj, maxBlockSize = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("x1", "x2")))
  }

  test("salted self-join produces exactly the uncapped pair set") {
    val many = (1 to 40).map(i => (f"r$i%02d", "hot prefix value")) ++
      Seq(("x1", "uniq value a"), ("x2", "uniq value b"))
    val d = many.toDF("conv_id", "name")
    val conj = Seq(BoundScheme(FirstNChars(4), "name"))
    val uncapped = Blocking.candidatePairs(d, conj, maxBlockSize = 10000)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val salted = Blocking.candidatePairsSalted(d, conj, salts = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(salted == uncapped)
    assert(salted.size == 40 * 39 / 2 + 1)
  }

  test("salting replicates ONLY hot blocks — cold rows stay 1×") {
    // 40 rows share a hot prefix, 10 rows are unique (cold)
    val many = (1 to 40).map(i => (f"r$i%02d", "hot prefix value")) ++
      (1 to 10).map(i => (f"x$i%02d", f"uniq$i%02d value"))
    val d = many.toDF("conv_id", "name")
    val conj = Seq(BoundScheme(FirstNChars(4), "name"))
    val (_, r, _) = Blocking.saltedSides(d, conj, "conv_id",
      salts = 4, hotMinBlockSize = 10)
    // right side = hot rows × salts + cold rows × 1, NOT N × salts
    assert(r.count() == 40 * 4 + 10)
    // and the pair set is still exactly the uncapped one
    val uncapped = Blocking.candidatePairs(d, conj, maxBlockSize = 10000)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val salted = Blocking.candidatePairsSalted(d, conj,
      salts = 4, hotMinBlockSize = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(salted == uncapped)
  }

  test("chunk emitter equals the deduped union of per-conjunction " +
    "candidatePairs") {
    // `jo` opens 5 names (over cap 3) but only 3 cities (under it): the
    // cap must apply per conjunction, not per key text; null and ""
    // signatures block nothing
    val d = Seq(
      ("r1", "john smith", "boston"),
      ("r2", "john smyth", "bost"),
      ("r3", "jane smith", "jolt"),
      ("r4", "joe jones", "jo"),
      ("r5", "john smith", null),
      ("r6", null, "jones"),
      ("r7", "", ""),
      ("r8", "jo", "boss")).toDF("conv_id", "name", "city")
    val conjs = Seq(
      Seq(BoundScheme(FirstNChars(2), "name")),
      Seq(BoundScheme(FirstNChars(2), "city")),
      Seq(BoundScheme(FindNgrams(4), "name")),
      Seq(BoundScheme(Acronym, "name"), BoundScheme(FindNgrams(3), "city")),
      Seq(BoundScheme(ExactMatch, "name")),
      Seq(BoundScheme(LastNChars(4), "name"), BoundScheme(FirstNChars(2), "city")))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val expected = conjs.flatMap(c =>
      pairs(Blocking.candidatePairs(d, c, maxBlockSize = 3))).toSet
    val chunk = pairs(Blocking.chunkPairs(d, conjs, maxBlockSize = 3))
    assert(chunk.toSet == expected)
    assert(chunk.distinct.size == chunk.size, "chunk pairs not deduped")
    assert(expected.contains(("r3", "r4")) && !expected.contains(("r4", "r8")),
      "fixture lost its per-conjunction cap case")
  }

  test("record-linkage pairs cross tables without ordering constraint") {
    val left = Seq(("l1", "john smith"), ("l2", "zzz")).toDF("conv_id", "name")
    val right = Seq(("r1", "john smyth")).toDF("conv_id", "name")
    val conj = Seq(BoundScheme(FirstNChars(4), "name"))
    val pairs = Blocking.linkagePairs(left, right, conj, maxBlockSize = 100)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs == Set(("l1", "r1")))
  }

  test("unionPairs = conflict-skip append (S4/U2)") {
    val a = Seq(("a", "b"), ("a", "c")).toDF("id_l", "id_r")
    val b = Seq(("a", "b"), ("x", "y")).toDF("id_l", "id_r")
    val u = Blocking.unionPairs(Seq(a, b)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(u == Set(("a", "b"), ("a", "c"), ("x", "y")))
  }
}
