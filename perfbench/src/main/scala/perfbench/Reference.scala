package perfbench

/** The rule score written out plainly on the driver, without the
  * library: the reference `score_fixed` checks the library's scores
  * against. It follows the documented definitions (the DuckDB mirrors
  * the library is oracle-checked against), not the library's kernels:
  *
  *  - Jaro-Winkler: 0 when either side is empty; match window
  *    max(len)/2 − 1; greedy lowest-index matching; transpositions
  *    halved by integer division; Winkler boost (prefix ≤ 4, scale 0.1)
  *    only above 0.7.
  *  - normalized Levenshtein: 1 − distance / max(len), 1 for two empty
  *    strings.
  *  - token Jaccard over distinct non-empty space-separated tokens, 1
  *    when both sides have none.
  *  - each feature floored to 4 digits; the score is the mean of
  *    jw(head), jw(role), jw(full), lev(full), jaccard(full), floored to
  *    4 digits.
  *
  * Strings are compared by code point, as Spark's `length` counts.
  */
object Reference {

  final case class Rec(head: String, full: String, role: String)

  private def cps(s: String): Array[Int] = s.codePoints().toArray

  def jaroWinkler(a: String, b: String): Double = {
    val s1 = cps(a); val s2 = cps(b)
    val (l1, l2) = (s1.length, s2.length)
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    for (i <- 0 until l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      while (j <= hi && !m1(i)) {
        if (!m2(j) && s1(i) == s2(j)) { m1(i) = true; m2(j) = true; m += 1 }
        j += 1
      }
    }
    if (m == 0) return 0.0
    val matched2 = (0 until l2).filter(m2(_)).map(s2(_))
    val matched1 = (0 until l1).filter(m1(_)).map(s1(_))
    val t = matched1.zip(matched2).count { case (x, y) => x != y }
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t / 2).toDouble / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val prefix = (0 until math.min(4, math.min(l1, l2)))
        .takeWhile(i => s1(i) == s2(i)).size
      jaro + prefix * 0.1 * (1.0 - jaro)
    }
  }

  def levenshtein(a: String, b: String): Int = {
    val s1 = cps(a); val s2 = cps(b)
    var prev = Array.tabulate(s2.length + 1)(identity)
    for (i <- 1 to s1.length) {
      val cur = new Array[Int](s2.length + 1)
      cur(0) = i
      for (j <- 1 to s2.length) {
        val sub = prev(j - 1) + (if (s1(i - 1) == s2(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j), cur(j - 1)) + 1)
      }
      prev = cur
    }
    prev(s2.length)
  }

  def levSim(a: String, b: String): Double = {
    val (l1, l2) = (cps(a).length, cps(b).length)
    if (l1 == 0 && l2 == 0) 1.0
    else 1.0 - levenshtein(a, b).toDouble / math.max(l1, l2).toDouble
  }

  def tokenJaccard(a: String, b: String): Double = {
    def tokens(s: String) = s.split(" ", -1).filter(_.nonEmpty).toSet
    val (ta, tb) = (tokens(a), tokens(b))
    val union = (ta ++ tb).size
    if (union == 0) 1.0 else (ta & tb).size.toDouble / union
  }

  def q4(x: Double): Double = math.floor(x * 10000.0) / 10000.0

  def score(l: Rec, r: Rec): Double =
    q4((q4(jaroWinkler(l.head, r.head)) + q4(jaroWinkler(l.role, r.role)) +
      q4(jaroWinkler(l.full, r.full)) + q4(levSim(l.full, r.full)) +
      q4(tokenJaccard(l.full, r.full))) / 5.0)
}
