package graft.cluster

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import ConnectedComponents.{MaxRounds, Superstep}

/** The large-star/small-star rounds of [[ConnectedComponents]] over a
  * collected edge set, in driver memory: same rounds, same edge sets
  * per round, same `Superstep` trail and the same `(id, component)`
  * rows as the distributed loop, with no Spark job at all.
  *
  * Bit-identity rests on three rules. Ids are ordered as Spark orders
  * them (strings as `UTF8String`, i.e. by UTF-8 bytes, not by Java's
  * UTF-16 `compareTo`; longs and ints numerically) — then mapped to
  * dense ranks in that order, so every `least`/`greatest`/`min` of the
  * Spark plan is an int comparison here. Each round's edge set is a
  * set (sorted, deduplicated packed rank pairs), as the distributed
  * round's trailing `distinct()` makes it. And the fingerprint is
  * Spark's own: XOR over edges of `xxhash64(a, b)`, seed 42, hashed
  * with `XxHash64Function` on the Spark-internal id values.
  */
private[cluster] object DriverStars {

  /** Spark's order and hash input for one id type. */
  private final case class IdType(order: Ordering[AnyRef],
                                  internal: AnyRef => AnyRef)

  private def idType(dt: DataType): Option[IdType] = dt match {
    case StringType => Some(IdType( // UTF8_BINARY only: no collation
      (x, y) => x.asInstanceOf[UTF8String]
        .binaryCompare(y.asInstanceOf[UTF8String]),
      v => UTF8String.fromString(v.asInstanceOf[String])))
    case LongType => Some(IdType(
      (x, y) => java.lang.Long.compare(x.asInstanceOf[java.lang.Long],
        y.asInstanceOf[java.lang.Long]), identity))
    case IntegerType => Some(IdType(
      (x, y) => Integer.compare(x.asInstanceOf[Integer],
        y.asInstanceOf[Integer]), identity))
    case _ => None
  }

  /** Whether ids of this type can run on the driver bit-identically. */
  def supports(dt: DataType): Boolean = idType(dt).isDefined

  /** Run the rounds over the rows `(a, b)` of a normalized
    * (undirected, canonical a<b, deduplicated) edge set whose ids are
    * of type `dt`. Round 0's fingerprint is computed here, as every
    * later round's is. The result is a local frame. */
  def run(rows: Array[Row], dt: DataType, spark: SparkSession)
      : (DataFrame, Seq[Superstep]) = {
    val t = idType(dt).get
    // distinct ids in Spark's order: rank r is the r-th smallest id
    val ids: Array[(AnyRef, AnyRef)] =
      (rows.iterator.map(_.get(0)) ++ rows.iterator.map(_.get(1)))
        .map(_.asInstanceOf[AnyRef]).distinct
        .map(v => (t.internal(v), v)).toArray
        .sortBy(_._1)(t.order)
    val rank = new java.util.HashMap[AnyRef, Integer](ids.length * 2)
    ids.iterator.zipWithIndex.foreach { case ((_, v), r) => rank.put(v, r) }
    // xxhash64(a, b) = hash(b, seed = hash(a, seed = 42)): the inner
    // hash depends on `a` alone
    val seedOf = ids.map(p => XxHash64Function.hash(p._1, dt, 42L))
    def fingerprint(e: Array[Long]): (Long, Long) = {
      var h = 0L
      e.foreach { x =>
        h ^= XxHash64Function.hash(ids(lo(x))._1, dt, seedOf(hi(x)))
      }
      (e.length.toLong, h)
    }

    var e = rows.map(r => pack(rank.get(r.get(0)), rank.get(r.get(1))))
    val n = ids.length
    var fp = fingerprint(e)
    val steps =
      scala.collection.mutable.ArrayBuffer(Superstep(0, fp._1, fp._2))
    var round = 0
    var converged = false
    while (!converged && round < MaxRounds) {
      round += 1
      val next = smallStar(largeStar(e, n), n)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      e = next
      steps += Superstep(round, fp._1, fp._2)
    }
    require(converged, s"CC did not converge in $MaxRounds rounds")

    // converged edge set is a star (member, root): the loop's
    // members = {(b, b)} ∪ {(a, b)}, deduplicated
    val members = distinct(e.flatMap(x => Array(pack(lo(x), lo(x)), x)))
      .map(x => Row(ids(hi(x))._2, ids(lo(x))._2))
    val schema = StructType(Seq(StructField("id", dt),
      StructField("component", dt)))
    (spark.createDataFrame(java.util.Arrays.asList(members: _*), schema),
      steps.toSeq)
  }

  /** Large-star: every edge {x, y}, x < y, becomes (y, m(x)), m(x) =
    * min of x and its neighbours — never a self loop, as m(x) ≤ x < y.
    * Not deduplicated, as in the Spark plan ([[smallStar]] starts with
    * a distinct). */
  private def largeStar(e: Array[Long], n: Int): Array[Long] = {
    val m = Array.tabulate(n)(identity)
    e.foreach { x =>
      val a = hi(x); val b = lo(x)
      if (b < m(a)) m(a) = b
      if (a < m(b)) m(b) = a
    }
    e.map(x => pack(math.max(hi(x), lo(x)), m(math.min(hi(x), lo(x)))))
  }

  /** Small-star: orient edges (u, v), u > v, deduplicated; m(u) = min
    * v. Emit (v, m(u)) per edge and (u, m(u)) per u, drop self loops,
    * deduplicate. */
  private def smallStar(e: Array[Long], n: Int): Array[Long] = {
    val oriented = distinct(
      e.map(x => pack(math.max(hi(x), lo(x)), math.min(hi(x), lo(x)))))
    val m = Array.fill(n)(-1)
    oriented.foreach { x =>
      val u = hi(x); val v = lo(x)
      if (m(u) < 0 || v < m(u)) m(u) = v
    }
    val roots = m.indices.iterator.filter(m(_) >= 0).map(u => pack(u, m(u)))
    distinct((oriented.iterator.map(x => pack(lo(x), m(hi(x)))) ++ roots)
      .filter(x => hi(x) != lo(x)).toArray)
  }

  private def pack(a: Int, b: Int): Long =
    (a.toLong << 32) | (b & 0xffffffffL)
  private def hi(x: Long): Int = (x >>> 32).toInt
  private def lo(x: Long): Int = x.toInt

  /** Sorted, deduplicated copy. */
  private def distinct(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var k = 0
    var i = 0
    while (i < s.length) {
      if (k == 0 || s(i) != s(k - 1)) { s(k) = s(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(s, k)
  }
}
