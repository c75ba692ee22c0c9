package graft.block

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The budget loop's candidate pairs over a collected signature table,
  * in driver memory: chunk by chunk the same pair set as
  * [[Blocking.chunkPairs]], accumulated as the loop's conflict-skip
  * union, with no Spark job.
  *
  * Equality with the Spark plan rests on four rules. Block keys are the
  * EXACT signature tuples, never hashes: each scheme's signatures are
  * dictionary-coded, and a conjunction's key tuple is coded left to
  * right with one dictionary per position, so two keys get one code
  * exactly when their tuples are equal. A block survives when
  * 1 < n ≤ cap, n counting key INCIDENCES as the plan's count does: a
  * repeated id row counts twice, and a null id counts but is no member
  * (`collect_list` skips it). Ids are ranked in Spark's own order of
  * their type (`TypeUtils.getInterpretedOrdering`: UTF-8 bytes for
  * strings, numeric for longs and ints), and a block's members pair
  * when rank(l) < rank(r), which is the plan's `id_l < id_r` over its
  * sorted member array. Pairs are a set across keys, conjunctions and
  * chunks.
  */
private[graft] final class DriverPairs private (
    spark: SparkSession,
    index: Map[BoundScheme, Int],
    sigs: Array[Array[Array[Int]]],
    rank: Array[Int],
    ids: Array[Any],
    idType: DataType,
    maxBlockSize: Int) {

  // the pairs so far, each `rank_l << 32 | rank_r`, sorted and distinct
  private var acc = Array.emptyLongArray

  /** Add the pairs of one chunk of conjunctions; returns how many
    * distinct pairs are covered now. */
  def add(conjs: Seq[Seq[BoundScheme]]): Long = {
    val out = new mutable.ArrayBuilder.ofLong
    out ++= acc
    conjs.foreach(c => pairs(c.map(index).toArray, out))
    val all = out.result()
    java.util.Arrays.sort(all)
    var n = 0
    all.foreach { p =>
      if (n == 0 || p != all(n - 1)) { all(n) = p; n += 1 }
    }
    acc = java.util.Arrays.copyOf(all, n)
    n.toLong
  }

  /** The covered pairs as a local `(id_l, id_r)` frame, with the schema
    * of the Spark loop's. */
  def frame: DataFrame = {
    val rows = acc.map(p => Row(ids((p >>> 32).toInt), ids(p.toInt)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id_l", idType, nullable = false),
        StructField("id_r", idType, nullable = false))))
  }

  /** Emit into `out` the pairs of every surviving block of the
    * conjunction whose schemes are `conj` (indices into `sigs`). */
  private def pairs(conj: Array[Int], out: mutable.ArrayBuilder.ofLong)
      : Unit = {
    // one (key code << 32 | row) per key incidence
    val incidences = new mutable.ArrayBuilder.ofLong
    val codes = Array.fill(conj.length - 1)(mutable.LongMap.empty[Int])
    rank.indices.foreach { r =>
      var keys = sigs(conj(0))(r)
      var c = 1
      while (c < conj.length && keys.nonEmpty) {
        val ss = sigs(conj(c))(r)
        val code = codes(c - 1)
        keys = keys.flatMap(k => ss.map { s =>
          val fresh = code.size
          code.getOrElseUpdate((k.toLong << 32) | s, fresh)
        })
        c += 1
      }
      keys.foreach(k => incidences += (k.toLong << 32) | r)
    }
    val sorted = incidences.result()
    java.util.Arrays.sort(sorted)
    var i = 0
    while (i < sorted.length) {
      var j = i + 1
      while (j < sorted.length && (sorted(j) >>> 32) == (sorted(i) >>> 32))
        j += 1
      if (j - i > 1 && j - i <= maxBlockSize) {
        val members = (i until j).map(m => rank(sorted(m).toInt))
          .filter(_ >= 0).distinct.sorted
        for (a <- members.indices; b <- a + 1 until members.length)
          out += (members(a).toLong << 32) | members(b)
      }
      i = j
    }
  }
}

private[graft] object DriverPairs {

  /** Collect the validated signatures of `schemes` ([[BoundScheme.sigArray]])
    * with each record's `idCol`, as one SQL execution; None, with no
    * job, when the id type is not one the driver ranks exactly as Spark
    * orders it. */
  def apply(records: DataFrame, schemes: Seq[BoundScheme], idCol: String,
            maxBlockSize: Int): Option[DriverPairs] = {
    val idType = records.schema(idCol).dataType
    if (!DriverStats.supports(idType)) return None
    val table = DriverStats.collect(records.select(
      col(idCol) +: schemes.map(_.sigArray): _*))
    val sigs = schemes.indices.map { s =>
      val dict = mutable.HashMap.empty[UTF8String, Int]
      table.map { row =>
        if (row.isNullAt(s + 1)) Array.emptyIntArray
        else {
          val a = row.getArray(s + 1)
          Array.tabulate(a.numElements())(e =>
            dict.getOrElseUpdate(a.getUTF8String(e), dict.size))
        }
      }
    }.toArray
    // distinct non-null ids in Spark's order: rank r is the r-th smallest
    val order = TypeUtils.getInterpretedOrdering(idType)
    val internal = table.map(r => if (r.isNullAt(0)) null else r.get(0, idType))
    val sortedIds = internal.filter(_ != null).distinct.sorted(order)
    val rankOf = sortedIds.zipWithIndex.toMap
    val ids: Array[Any] = sortedIds.map {
      case s: UTF8String => s.toString
      case v => v
    }
    Some(new DriverPairs(records.sparkSession, schemes.zipWithIndex.toMap,
      sigs, internal.map(v => if (v == null) -1 else rankOf(v)), ids, idType,
      maxBlockSize))
  }
}
