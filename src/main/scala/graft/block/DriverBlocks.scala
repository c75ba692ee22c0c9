package graft.block

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** A small corpus's blocking signature table in driver memory: the one
  * engine behind both driver-side blocking stages, [[Learner]]'s
  * conjunction statistics ([[Stats]]) and the budget loop of
  * [[graft.pipeline.Dedupe.budgetPairs]] ([[Pairs]]). Both read their
  * blocks off one key builder and run no Spark job.
  *
  * Equality with the Spark plans rests on four rules.
  *   - Signatures are Spark's own bytes: the validated table
  *     ([[BoundScheme.sigArray]]) is collected once as internal rows,
  *     and each scheme's signatures are dictionary-coded.
  *   - Block keys are EXACT signature tuples, coded left to right
  *     ([[coded]]), so two keys share a code exactly when their tuples
  *     are equal. The Spark stats batch keys blocks by an xxhash64 chain
  *     instead; the two agree unless two tuples of one conjunction
  *     collide in 64 bits, where the driver keeps the tuple semantics of
  *     the DuckDB oracle.
  *   - A block survives when 1 < n ≤ cap, n counting key INCIDENCES as
  *     the plans' grouped counts do: a repeated id row counts twice, and
  *     a null id counts but is no member.
  *   - Ids rank in Spark's own order of their type
  *     (`TypeUtils.getInterpretedOrdering`: UTF-8 bytes for strings,
  *     numeric for longs and ints); members pair when rank(l) < rank(r),
  *     which is the plan's `id_l < id_r` over its sorted member array.
  */
private[graft] final class DriverBlocks private (
    spark: SparkSession,
    index: Map[BoundScheme, Int],
    sigs: Array[DriverBlocks.Keys],
    internal: Array[Any],
    rank: Array[Int],
    ids: Array[Any],
    val idType: DataType) {
  import DriverBlocks.{Keys, bitsFor}

  /** Corpus rows. */
  def rows: Int = rank.length
  private val rowBits = bitsFor(rows)

  /** The keys of the tuples (a, b) of each row's keys a of `prefix` and
    * b of `next`. A pair whose two codes fit in 31 bits side by side is
    * its own code; otherwise one dictionary numbers the pairs. */
  private def coded(prefix: Keys, next: Keys): Keys = {
    val off = new Array[Int](rows + 1)
    val out = new mutable.ArrayBuilder.ofInt
    val dict = mutable.LongMap.empty[Int]
    val direct = prefix.bits + next.bits <= 31
    for (r <- 0 until rows) {
      for (i <- prefix.off(r) until prefix.off(r + 1);
           j <- next.off(r) until next.off(r + 1)) {
        val a = prefix.codes(i)
        val b = next.codes(j)
        out += (if (direct) a << next.bits | b else {
          val fresh = dict.size
          dict.getOrElseUpdate(a.toLong << 32 | b, fresh)
        })
      }
      off(r + 1) = off(r) + (prefix.off(r + 1) - prefix.off(r)) *
        (next.off(r + 1) - next.off(r))
    }
    Keys(out.result(), off,
      if (direct) prefix.bits + next.bits else bitsFor(dict.size))
  }

  /** Every key incidence of `conj`, `key << rowBits | row`, sorted: a
    * block is a run of one key. */
  private def incidences(conj: Seq[BoundScheme]): Array[Long] = {
    val cols = conj.map(b => sigs(index(b)))
    val keys = cols.tail.foldLeft(cols.head)(coded)
    val inc = new Array[Long](keys.codes.length)
    for (r <- 0 until rows; i <- keys.off(r) until keys.off(r + 1))
      inc(i) = keys.codes(i).toLong << rowBits | r
    java.util.Arrays.sort(inc)
    inc
  }

  /** `block(rows)` for each surviving block of `conj`, with the rows of
    * its key incidences. */
  private def foreachBlock(conj: Seq[BoundScheme], cap: Int)(
      block: Seq[Int] => Unit): Unit = {
    val inc = incidences(conj)
    val mask = (1L << rowBits) - 1
    var i = 0
    while (i < inc.length) {
      var j = i + 1
      while (j < inc.length && (inc(j) >>> rowBits) == (inc(i) >>> rowBits))
        j += 1
      if (j - i > 1 && j - i <= cap)
        block((i until j).map(m => (inc(m) & mask).toInt))
      i = j
    }
  }

  /** [[Learner]]'s conjunction statistics against collected `labels`:
    * (id_l, id_r, label, label = 1, label = 0) rows, the two flags
    * non-null, both ids of type [[idType]]. */
  def stats(labels: Array[InternalRow], labelType: DataType,
            cap: Int): Stats = new Stats(labels, labelType, cap)

  final class Stats private[DriverBlocks] (labels: Array[InternalRow],
                                           labelType: DataType, cap: Int) {
    private def get(r: InternalRow, i: Int, t: DataType): Any =
      if (r.isNullAt(i)) null else r.get(i, t)

    // the labeled ids in the corpus, numbered; each row's number or -1
    private val ends = mutable.HashMap.empty[Any, Int]
    private val endOf: Array[Int] = {
      val wanted = labels.flatMap(r => Seq(get(r, 0, idType),
        get(r, 1, idType))).toSet
      internal.map(id => if (id == null || !wanted(id)) -1
        else ends.getOrElseUpdate(id, ends.size))
    }

    // distinct (id_l, id_r, label), as the plan's per-tag set of covered
    // pairs, with both ends in the corpus (no other pair can be covered)
    private val pairs = labels
      .map(r => ((get(r, 0, idType), get(r, 1, idType),
        get(r, 2, labelType)), (r.getBoolean(3), r.getBoolean(4))))
      .distinctBy(_._1)
      .flatMap { case ((a, b, _), (pos, neg)) =>
        for (l <- ends.get(a); r <- ends.get(b))
          yield DriverBlocks.Labeled((a, b), l, r, pos, neg) }

    val totalPositives: Long = labels.filter(_.getBoolean(3))
      .map(r => (get(r, 0, idType), get(r, 1, idType))).distinct.length.toLong

    /** `(n_pairs, positives, negatives)` of `conj`, or None when it has
      * no surviving block. */
    def apply(conj: Seq[BoundScheme]): Option[(Long, Long, Long)] = {
      val (nPairs, covered) = score(conj)
      def count(of: DriverBlocks.Labeled => Boolean): Long =
        pairs.indices.count(i => covered.get(i) && of(pairs(i))).toLong
      if (nPairs == 0) None
      else Some((nPairs, count(_.positive), count(_.negative)))
    }

    /** Distinct labeled positive `(id_l, id_r)` covered by ANY of `conjs`
      * — what [[Learner.coveredPairs]] counts. */
    def coveredPositives(conjs: Seq[Seq[BoundScheme]]): Long = {
      val covered = new java.util.BitSet(pairs.length)
      conjs.foreach(c => covered.or(score(c)._2))
      pairs.indices.filter(i => covered.get(i) && pairs(i).positive)
        .map(i => pairs(i).ids).distinct.size.toLong
    }

    // the pairs by their two ends' numbers
    private val byEnds = pairs.indices.groupBy(i => (pairs(i).l, pairs(i).r))

    /** `n_pairs` (Σ n(n−1)/2 over surviving blocks, summed in double and
      * truncated as the plan's `sum(...).cast` does) and the labeled
      * pairs whose two ends share a surviving block. */
    private def score(conj: Seq[BoundScheme]): (Long, java.util.BitSet) = {
      var nPairs = 0.0
      val covered = new java.util.BitSet(pairs.length)
      foreachBlock(conj, cap) { rows =>
        nPairs += (rows.size.toLong * (rows.size - 1)).toDouble / 2
        if (rows.exists(endOf(_) >= 0)) {
          val in = rows.map(endOf).filter(_ >= 0).distinct
          for (l <- in; r <- in; i <- byEnds.getOrElse((l, r), Nil)) covered.set(i)
        }
      }
      (nPairs.toLong, covered)
    }
  }

  /** The budget loop's candidate pairs, blocks capped at `cap`: chunk by
    * chunk the same pair set as [[Blocking.chunkPairs]], accumulated as
    * the loop's conflict-skip union. */
  def pairs(cap: Int): Pairs = new Pairs(cap)

  final class Pairs private[DriverBlocks] (cap: Int) {
    // the pairs so far, each `rank_l << 32 | rank_r`, sorted and distinct
    private var acc = Array.emptyLongArray

    /** Add the pairs of one chunk of conjunctions; returns how many
      * distinct pairs are covered now. */
    def add(conjs: Seq[Seq[BoundScheme]]): Long = {
      val out = new mutable.ArrayBuilder.ofLong
      out ++= acc
      conjs.foreach(c => foreachBlock(c, cap) { rows =>
        val members = rows.map(rank).filter(_ >= 0).distinct.sorted
        for (a <- members.indices; b <- a + 1 until members.length)
          out += (members(a).toLong << 32) | members(b)
      })
      acc = out.result().sorted.distinct
      acc.length.toLong
    }

    /** The covered pairs as a local `(id_l, id_r)` frame, with the schema
      * of the Spark loop's. */
    def frame: DataFrame = {
      val rows = acc.map(p => Row(ids((p >>> 32).toInt), ids(p.toInt)))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(Seq(StructField("id_l", idType, nullable = false),
          StructField("id_r", idType, nullable = false))))
    }
  }
}

private[graft] object DriverBlocks {

  /** Per corpus row, codes below `2^bits`: row r's are
    * `codes(off(r) until off(r + 1))`. */
  private final case class Keys(codes: Array[Int], off: Array[Int], bits: Int)

  /** The bits that hold every value below `n`. */
  private def bitsFor(n: Int): Int = 32 - Integer.numberOfLeadingZeros((n - 1) max 0)

  /** One distinct labeled `(id_l, id_r, label)` with both ends in the
    * corpus: the numbers of its two ends and its class. */
  private final case class Labeled(ids: (Any, Any), l: Int, r: Int,
                                   positive: Boolean, negative: Boolean)

  /** What "small" means: at most `MaxRows` rows and `MaxChars` chars
    * summed over the blocking attributes. The char sum bounds the
    * signature table without evaluating any scheme: an attribute of
    * length n has at most 3n + 8 signatures.
    *
    * Measured on 4 vCPUs: a corpus of 2.42M attribute chars learned in
    * 14 s on the driver vs 32–47 s in Spark batches. The collected
    * table, about 53 bytes per char, lives only while it is coded; the
    * engine keeps about 18 bytes per char (17 MB at sf0.01), so the
    * bound leaves room in a 3 GB heap.
    *
    * The same bound over the feature attributes' and `full_text`'s
    * chars decides `sim.DriverFeatures`. Measured on 4 vCPUs at sf0.01
    * (3.07M such chars, over the bound), its label call alone is faster
    * on the driver (build 0.8–1.0 s and 0.4–1.0 s for 1,733 pairs, vs
    * Spark weights 3.7–4.0 s and 1.7–3.2 s; 13.5 MB retained), but in
    * whole `RunDedupe` runs (3 alternating pairs) admitting sf0.01 made
    * the features and scores stages no faster (23.0 vs 22.5 s medians):
    * its 926k candidate pairs take the Spark plans either way, then
    * without cached weights. */
  val MaxRows = 200000L
  val MaxChars = 2000000L

  /** Whether a corpus of `volume` (rows, chars) is small: at most
    * [[MaxRows]] rows and [[MaxChars]] chars, and ids of a type the
    * driver compares and ranks as Spark does (string, long or int). The
    * one rule for every driver-side table of a corpus: this engine's
    * (chars of the blocking attributes) and `sim.DriverFeatures`' (chars
    * of the feature attributes and `full_text`). */
  def small(records: DataFrame, volume: (Long, Long)): Boolean =
    volume._1 <= MaxRows && volume._2 <= MaxChars &&
      Seq(StringType, LongType, IntegerType)
        .contains(records.schema("conv_id").dataType)

  /** The rows of `records` and, per list of `attrs`, the Σ of their
    * chars — one job, no exchange: per-partition sums folded on the
    * driver. */
  def volume(records: DataFrame, attrs: Seq[String]*): (Long, Seq[Long]) = {
    val chars = attrs.map(_.map(a =>
      coalesce(length(col(a)).cast("long"), lit(0L))).reduce(_ + _))
    val k = attrs.size
    val sums = records.select(chars: _*).rdd.aggregate(new Array[Long](k + 1))(
      (v, r) => { v(0) += 1; for (i <- 0 until k) v(i + 1) += r.getLong(i); v },
      (a, b) => { for (i <- a.indices) a(i) += b(i); a })
    (sums(0), sums.toSeq.tail)
  }

  /** `df`'s rows as Spark-internal rows, as one SQL execution — strings
    * stay the `UTF8String` bytes the plan produced. */
  def collect(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** The engine over `schemes`, keyed by each record's `conv_id`, after
    * one [[volume]] job over their attributes. */
  def apply(records: DataFrame, schemes: Seq[BoundScheme]): Option[DriverBlocks] = {
    val (rows, chars) = volume(records, schemes.map(_.attr).distinct)
    apply(records, schemes, (rows, chars.head))
  }

  /** The engine over `schemes` for a corpus of the given `volume`, with
    * one collect; None, with no job, when the corpus is not [[small]]. */
  def apply(records: DataFrame, schemes: Seq[BoundScheme],
            volume: (Long, Long)): Option[DriverBlocks] = {
    val idType = records.schema("conv_id").dataType
    val driver = small(records, volume)
    graft.Verbose.log("blocks")(s"path=${if (driver) "driver" else "spark"} " +
      s"rows=${volume._1} chars=${volume._2}")
    if (!driver) return None
    val table = collect(
      records.select(col("conv_id") +: schemes.map(_.sigArray): _*))
    val sigs = schemes.indices.map { s =>
      val dict = mutable.HashMap.empty[UTF8String, Int]
      val off = new Array[Int](table.length + 1)
      val codes = table.indices.flatMap { r =>
        val a = if (table(r).isNullAt(s + 1)) null else table(r).getArray(s + 1)
        val n = if (a == null) 0 else a.numElements()
        off(r + 1) = off(r) + n
        (0 until n).map(e => dict.getOrElseUpdate(a.getUTF8String(e), dict.size))
      }
      Keys(codes.toArray, off, bitsFor(dict.size))
    }.toArray
    // ids as copies (a collected row's string is a view of the whole
    // row), ranked in Spark's order: rank r is the r-th smallest
    val internal = table.map(r =>
      if (r.isNullAt(0)) null else r.get(0, idType) match {
        case s: UTF8String => s.clone()
        case v => v
      })
    val sortedIds = internal.filter(_ != null).distinct
      .sorted(TypeUtils.getInterpretedOrdering(idType))
    val rankOf = sortedIds.zipWithIndex.toMap
    val ids: Array[Any] = sortedIds.map {
      case s: UTF8String => s.toString
      case v => v
    }
    Some(new DriverBlocks(records.sparkSession, schemes.zipWithIndex.toMap,
      sigs, internal, internal.map(v => if (v == null) -1 else rankOf(v)),
      ids, idType))
  }
}
