package graft.block

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import scala.collection.mutable

/** [[Learner]]'s conjunction statistics over a collected signature
  * table and collected labels, in driver memory: the same
  * `(n_pairs, positives, negatives)` as a Spark stats batch, with no
  * Spark job at all.
  *
  * Bit-identity rests on three rules. The signatures are Spark's own
  * bytes: the validated signature table is collected as internal rows,
  * so every signature is the `UTF8String` the Spark plan hashes. A
  * conjunction's block keys are built with the same chain the plan's
  * `xxhash64(h, s)` evaluates: from 0, per scheme in conjunction order,
  * `hash(s, seed = hash(h, seed = 42))`, over the cartesian product of
  * the schemes' signature sets. And block sizes count key INCIDENCES,
  * as the plan's grouped count does (a record repeating a key under a
  * 64-bit collision counts twice there too).
  *
  * Per candidate: all keys are sorted once and runs counted; the runs
  * with 1 < n ≤ cap are the surviving blocks, `n_pairs` = Σ n(n−1)/2
  * (summed in double, then truncated, as the plan's `sum(...).cast`
  * does). A distinct labeled `(id_l, id_r, label)` is covered when some
  * corpus row of each end shares a surviving key.
  */
private[block] final class DriverStats private (
    sigs: Array[Array[ArrayData]],
    pairs: Array[DriverStats.Labeled],
    val totalPositives: Long,
    maxBlockSize: Int) {
  import DriverStats._

  // corpus rows
  private val rows = if (sigs.isEmpty) 0 else sigs(0).length

  // corpus rows at an end of some labeled pair: only their key slices
  // are sorted for the coverage intersections
  private val labeledRows: Array[Int] =
    pairs.flatMap(p => p.l ++ p.r).distinct.sorted

  /** `(n_pairs, positives, negatives)` of the conjunction whose schemes
    * are `conj` (indices into the signature table's schemes), or None
    * when it has no surviving block. */
  def stats(conj: Seq[Int]): Option[(Long, Long, Long)] = {
    // a surviving block holds at least one pair
    val s = score(conj)
    val covered = pairs.indices.filter(s.covered.get).map(pairs)
    if (s.nPairs == 0) None
    else Some((s.nPairs, covered.count(_.positive).toLong,
      covered.count(_.negative).toLong))
  }

  /** Distinct labeled positive `(id_l, id_r)` covered by ANY of
    * `conjs` — what [[Learner.coveredPairs]] counts. */
  def coveredPositives(conjs: Seq[Seq[Int]]): Long = {
    val covered = new java.util.BitSet(pairs.length)
    conjs.foreach(c => covered.or(score(c).covered))
    pairs.indices.filter(i => covered.get(i) && pairs(i).positive)
      .map(i => pairs(i).ids).distinct.size.toLong
  }

  private def score(conj: Seq[Int]): Scored = {
    val (keys, off) = blockKeys(conj.toArray)
    val sorted = keys.clone()
    java.util.Arrays.sort(sorted)
    val survivors = new mutable.ArrayBuilder.ofLong
    var nPairs = 0.0
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      val n = j - i
      if (n > 1 && n <= maxBlockSize) {
        survivors += sorted(i)
        nPairs += (n.toLong * (n - 1)).toDouble / 2
      }
      i = j
    }
    val surviving = survivors.result()
    labeledRows.foreach(r => java.util.Arrays.sort(keys, off(r), off(r + 1)))
    def shares(l: Int, r: Int): Boolean = {
      var a = off(l)
      var b = off(r)
      var found = false
      while (!found && a < off(l + 1) && b < off(r + 1)) {
        if (keys(a) < keys(b)) a += 1
        else if (keys(a) > keys(b)) b += 1
        else {
          found = java.util.Arrays.binarySearch(surviving, keys(a)) >= 0
          a += 1
          b += 1
        }
      }
      found
    }
    val covered = new java.util.BitSet(pairs.length)
    if (surviving.nonEmpty) pairs.indices.foreach { i =>
      val p = pairs(i)
      if (p.l.exists(l => p.r.exists(r => shares(l, r)))) covered.set(i)
    }
    Scored(nPairs.toLong, covered)
  }

  /** Every corpus row's block keys under `conj`, concatenated: row r's
    * keys are `keys(off(r) until off(r + 1))`. */
  private def blockKeys(conj: Array[Int]): (Array[Long], Array[Int]) = {
    val off = new Array[Int](rows + 1)
    val keys = new mutable.ArrayBuilder.ofLong
    var acc = new Array[Long](16)
    var next = new Array[Long](16)
    var r = 0
    while (r < rows) {
      acc(0) = 0L
      var accLen = 1
      var c = 0
      while (c < conj.length && accLen > 0) {
        val ss = sigs(conj(c))(r)
        val m = if (ss == null) 0 else ss.numElements()
        if (next.length < accLen * m) next = new Array[Long](accLen * m)
        var nextLen = 0
        var k = 0
        while (k < accLen) {
          val seed = XxHash64Function.hash(acc(k), LongType, 42L)
          var j = 0
          while (j < m) {
            next(nextLen) =
              XxHash64Function.hash(ss.getUTF8String(j), StringType, seed)
            nextLen += 1
            j += 1
          }
          k += 1
        }
        val t = acc; acc = next; next = t
        accLen = nextLen
        c += 1
      }
      var k = 0
      while (k < accLen) { keys += acc(k); k += 1 }
      off(r + 1) = off(r) + accLen
      r += 1
    }
    (keys.result(), off)
  }
}

private[block] object DriverStats {

  /** One distinct labeled `(id_l, id_r, label)` whose two ends are in
    * the corpus: the corpus rows of each end and its class. */
  private final case class Labeled(ids: (Any, Any), l: Array[Int],
                                   r: Array[Int], positive: Boolean,
                                   negative: Boolean)

  private final case class Scored(nPairs: Long, covered: java.util.BitSet)

  /** Id types whose Spark-internal values are equal exactly when
    * Spark's join keys are. */
  def supports(dt: DataType): Boolean =
    dt == StringType || dt == LongType || dt == IntegerType

  /** `df`'s rows as Spark-internal rows, as one SQL execution — strings
    * stay the `UTF8String` bytes the plan produced. */
  def collect(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** @param corpus (id, one validated signature array per scheme) rows
    * @param labels (id_l, id_r, label, label = 1, label = 0) rows, the
    *               two flags non-null
    * @param idType the id type of the corpus and of both label ends
    * @param labelType the label column's type */
  def apply(corpus: Array[InternalRow], labels: Array[InternalRow],
            idType: DataType, labelType: DataType, nSchemes: Int,
            maxBlockSize: Int): DriverStats = {
    val sigs = Array.tabulate(nSchemes)(s =>
      corpus.map(r => if (r.isNullAt(s + 1)) null else r.getArray(s + 1)))
    val ends = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Int]]
    labels.foreach(r => Seq(0, 1).foreach { i =>
      if (!r.isNullAt(i)) ends.getOrElseUpdate(r.get(i, idType),
        mutable.ArrayBuffer.empty[Int])
    })
    corpus.indices.foreach { i =>
      if (!corpus(i).isNullAt(0))
        ends.get(corpus(i).get(0, idType)).foreach(_ += i)
    }
    def rowsOf(id: Any): Array[Int] =
      if (id == null) Array.empty else ends(id).toArray
    // distinct (id_l, id_r, label), as the plan's per-tag set of
    // covered pairs; a pair missing an end can never be covered
    val pairs = labels
      .map(r => ((r.get(0, idType), r.get(1, idType), r.get(2, labelType)),
        (r.getBoolean(3), r.getBoolean(4))))
      .distinctBy(_._1)
      .map { case ((a, b, _), (pos, neg)) =>
        Labeled((a, b), rowsOf(a), rowsOf(b), pos, neg) }
      .filter(p => p.l.nonEmpty && p.r.nonEmpty)
    val totalPositives = labels.filter(_.getBoolean(3))
      .map(r => (r.get(0, idType), r.get(1, idType))).distinct.length
    new DriverStats(sigs, pairs, totalPositives.toLong, maxBlockSize)
  }
}
