package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Forward index, inverted index, and candidate-pair generation — the
  * core of the reference's blocking stage:
  *   - forward index  (db/base.py:117-151, blocking.py:115-149)
  *   - inverted index (db/base.py:179-212, blocking.py:187-194)
  *   - pair self-join (blocking.py:256-271, spec simple/subroutines.py:19-33)
  *
  * Scale design (10^12 turns / ~10^10 conversations):
  *   - The reference's self-join becomes [[groupedPairs]]: the
  *     inverted index crosses one exchange on the full signature tuple
  *     and pairs are emitted map-side from each block's members.
  *   - HOT-KEY SKEW is defused *before* pairing with a deterministic
  *     frequency cap: any signature shared by more than `maxBlockSize`
  *     records forms a near-quadratic block (a stopword n-gram can pull
  *     in millions of rows) and is dropped. The reference inherits this
  *     cost silently (Postgres just grinds); the north rule demands
  *     explicit handling. The cap is mirrored in the DuckDB oracle
  *     (HAVING count(*) <= cap) so correctness checks see identical
  *     semantics.
  *   - dropDuplicates before the expensive distance stage mirrors
  *     blocking.py:270 GROUP BY.
  */
object Blocking {

  /** Default block-size cap: blocks bigger than this are dropped.
    * 100 ⇒ ≤ 4950 pairs per block — bounds the worst task. */
  val DefaultMaxBlockSize = 100

  /** P1: forward index — one signature column per bound scheme.
    * Catalyst column pruning makes the reference's lazy ALTER TABLE
    * ADD COLUMN (blocking.py:150-185) unnecessary: select all, prune free.
    */
  def forwardIndex(records: DataFrame, schemes: Seq[BoundScheme],
                   idCol: String = "conv_id"): DataFrame =
    records.select((col(idCol) +: schemes.map(_.expr)): _*)

  /** G1: inverted index for one conjunction — (sig_0..sig_k, id) rows.
    * Array schemes are exploded (chained explodes multiply rows exactly
    * like the reference's chained unnest, blocking.py:88-99) — after a
    * MAP-SIDE array_distinct: a record repeating the same n-gram five
    * times is still ONE member of that block (the reference's
    * set-overlap semantics, simple/signatures.py:9-15), and the dedup
    * happens before the explode output ever reaches the shuffle, so the
    * self-join input shrinks for free. Block size under the frequency
    * cap therefore counts DISTINCT records per signature. Null and
    * empty signatures are dropped: they are non-informative and empty
    * strings would otherwise form one giant block.
    */
  def invertedIndex(records: DataFrame, conjunction: Seq[BoundScheme],
                    idCol: String = "conv_id"): DataFrame = {
    val fwd = forwardIndex(records, conjunction, idCol)
    val exploded = conjunction.zipWithIndex.foldLeft(fwd) {
      case (df, (b, i)) =>
        val c = if (b.isArray) explode(array_distinct(col(b.name)))
          else col(b.name)
        df.withColumn(s"sig_$i", c)
    }
    val sigCols = conjunction.indices.map(i => col(s"sig_$i"))
    exploded
      .select((col(idCol) +: sigCols): _*)
      .filter(sigCols.map(c => c.isNotNull && c =!= "").reduce(_ && _))
  }

  /** Frequency cap: drop signatures whose block exceeds maxBlockSize.
    * One extra aggregation on the (already shuffled) signature key;
    * at scale this is the difference between a bounded job and a
    * quadratic straggler. Deterministic — mirrored in the oracle.
    */
  def capHotSignatures(inv: DataFrame, maxBlockSize: Int): DataFrame = {
    val sigCols = inv.columns.filter(_.startsWith("sig_")).map(col).toSeq
    val counts = inv.groupBy(sigCols: _*)
      .agg(count(lit(1)).as("_block_n"))
      .filter(col("_block_n") <= maxBlockSize)
      .drop("_block_n")
    inv.join(counts, sigCols.map(_.toString), "left_semi")
  }

  /** J1: candidate pairs for one conjunction — grouped-block pair
    * generation with canonical ordering (dedupe mode: idL < idR,
    * blocking.py:258-259) and dedup across multi-signature hits
    * (blocking.py:270). Same pair set as the former inverted-index
    * self-join, one fewer corpus-scale exchange: see [[groupedPairs]].
    */
  def candidatePairs(records: DataFrame, conjunction: Seq[BoundScheme],
                     idCol: String = "conv_id",
                     maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    val inv = invertedIndex(records, conjunction, idCol)
    groupedPairs(inv, inv.columns.filter(_.startsWith("sig_")).toSeq,
      col(idCol), maxBlockSize)
  }

  /** J1 over several conjunctions at once: the deduped union of
    * [[candidatePairs]] for each of `conjunctions`, as ONE
    * [[groupedPairs]] pass keyed by (conjunction tag `_x`, exact
    * signature tuple `_k`) — the cap still applies per conjunction and
    * key. The conjunctions travel as data ([[conjunctionKeys]] over the
    * chunk's [[BoundScheme.sigArray]]s), so one conjunction or eight
    * plan to the same operators and the same exchanges.
    *
    * A single conjunction stays on [[candidatePairs]]: its
    * [[invertedIndex]] explodes compile to whole-stage code, while the
    * fold here is an interpreted higher-order function.
    */
  def chunkPairs(records: DataFrame, conjunctions: Seq[Seq[BoundScheme]],
                 idCol: String = "conv_id",
                 maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    val used = conjunctions.flatten.distinct
    val at = used.zipWithIndex.toMap
    val keyed = keyedRows(
      records.select(col(idCol), array(used.map(_.sigArray): _*).as("_sigs")),
      Seq(idCol), conjunctionKeys(conjunctions.map(_.map(at)), col("_sigs"),
        array().cast("array<string>"), (t, s) => concat(t, array(s))))
    groupedPairs(keyed, Seq("_x", "_k"), col(idCol), maxBlockSize)
  }

  /** (keep…, `_x`, `_k`) block-key incidence rows: one per input row,
    * conjunction and key, where `keys` is the row's array of key
    * arrays, one per conjunction ([[conjunctionKeys]]). The tag `_x` is
    * the conjunction's INT position (callers map back by position), not
    * a scheme-name string: it rides every row through the key shuffle,
    * and a 4-byte int vs a ~25-byte name is a third off the shuffled
    * row (guide §2.3, narrower types). A pure projection — no join.
    */
  private[graft] def keyedRows(df: DataFrame, keep: Seq[String],
                               keys: Column): DataFrame =
    df.select(keep.map(col) :+ posexplode(keys).as(Seq("_x", "_ks")): _*)
      .select(keep.map(col) ++ Seq(col("_x"), explode(col("_ks")).as("_k")): _*)

  /** Per conjunction in `conjunctions` (each a list of indices into
    * `sigs`, an array of per-scheme signature arrays), the array of the
    * record's block keys: the cartesian product of its schemes'
    * signature sets, folded left to right in conjunction order from
    * `zero` with `step(key so far, signature)`. An empty array means
    * some scheme has no valid signature, so the record is in no block
    * of that conjunction.
    *
    * The conjunctions are a LITERAL, not one expression subtree each:
    * the expression is the same size for 3 candidates or 300, so
    * analysis, optimization and plan-string rendering cost the same
    * for every stats batch and budget chunk.
    */
  private[graft] def conjunctionKeys(conjunctions: Seq[Seq[Int]],
                                     sigs: Column, zero: Column,
                                     step: (Column, Column) => Column): Column =
    transform(typedLit(conjunctions), c => aggregate(c, array(zero),
      (acc, i) => flatten(transform(acc,
        k => transform(element_at(sigs, i + 1), s => step(k, s))))))

  /** J2: record-linkage variant — pairs cross two tables, no ordering
    * constraint (blocking.py:260-261).
    */
  def linkagePairs(left: DataFrame, right: DataFrame,
                   conjunction: Seq[BoundScheme],
                   idCol: String = "conv_id",
                   maxBlockSize: Int = DefaultMaxBlockSize): DataFrame = {
    val invL = capHotSignatures(
      invertedIndex(left, conjunction, idCol), maxBlockSize)
    val invR = capHotSignatures(
      invertedIndex(right, conjunction, idCol), maxBlockSize)
    val sigs = invL.columns.filter(_.startsWith("sig_")).toSeq
    invL.select((col(idCol).as("id_l") +: sigs.map(col)): _*)
      .join(invR.select((col(idCol).as("id_r") +: sigs.map(col)): _*), sigs)
      .select(col("id_l"), col("id_r"))
      .dropDuplicates("id_l", "id_r")
  }

  /** J1 variant with SALTING instead of dropping: oversized blocks are
    * split into `salts` shards on the left side and the right side is
    * replicated per shard, so the self-join's biggest task shrinks by
    * ~`salts`× while producing EXACTLY the uncapped pair set. Use when
    * recall through hot blocks matters more than the quadratic cost;
    * the cap variant ([[candidatePairs]]) when hot signatures are
    * non-informative (stopword n-grams).
    *
    * Only HOT blocks (size > `hotMinBlockSize`) are salted: block
    * sizes are counted first (one agg on the key the join shuffles on
    * anyway), then hot left rows get salt = pmod(xxhash64(id), salts)
    * and hot right rows are replicated `salts`× — pairs (l, r) meet
    * exactly once, in l's shard. COLD blocks (the 99%+) keep salt 0 on
    * both sides: a plain 1×-volume join. Replicating the whole right
    * side would cost `salts`× shuffle volume on every record for skew
    * that only lives in a handful of keys.
    *
    * This path deliberately stays a self-join, off [[groupedPairs]]: it
    * exists to keep hot blocks with their exact, uncapped pair set,
    * while the grouped primitive must cap every block to bound its
    * `collect_list` buffer — a hot block would have to be collected
    * whole into one task. The committed plans
    * `plans/r06/q33_pairs_salted_{before,after}*.txt` show the salted
    * join shape.
    */
  def candidatePairsSalted(records: DataFrame, conjunction: Seq[BoundScheme],
                           idCol: String = "conv_id",
                           salts: Int = 8,
                           hotMinBlockSize: Int = 64): DataFrame = {
    val (l, r, sigs) =
      saltedSides(records, conjunction, idCol, salts, hotMinBlockSize)
    l.join(r, sigs :+ "_salt")
      .filter(col("id_l") < col("id_r"))
      .select(col("id_l"), col("id_r"))
      .dropDuplicates("id_l", "id_r")
  }

  /** The two sides of the salted self-join — package-visible so
    * BlockingSpec can assert the replication VOLUME (right side =
    * cold rows × 1 + hot rows × salts), not just the pair set. */
  private[block] def saltedSides(records: DataFrame,
                                 conjunction: Seq[BoundScheme],
                                 idCol: String, salts: Int,
                                 hotMinBlockSize: Int)
      : (DataFrame, DataFrame, Seq[String]) = {
    val inv = invertedIndex(records, conjunction, idCol)
    val sigs = inv.columns.filter(_.startsWith("sig_")).toSeq
    val hot = inv.groupBy(sigs.map(col): _*)
      .agg(count(lit(1)).as("_block_n"))
      .filter(col("_block_n") > hotMinBlockSize)
      .drop("_block_n")
      .withColumn("_hot", lit(true))
    val tagged = inv.join(hot, sigs, "left")
      .withColumn("_hot", coalesce(col("_hot"), lit(false)))
    val l = tagged.select((col(idCol).as("id_l") +: col("_hot") +:
        sigs.map(col)): _*)
      .withColumn("_salt",
        when(col("_hot"), pmod(xxhash64(col("id_l")), lit(salts.toLong)))
          .otherwise(lit(0L)))
      .drop("_hot")
    val r = tagged.select((col(idCol).as("id_r") +: col("_hot") +:
        sigs.map(col)): _*)
      .withColumn("_salt", explode(
        when(col("_hot"), sequence(lit(0L), lit(salts.toLong - 1L)))
          .otherwise(array(lit(0L)))))
      .drop("_hot")
    (l, r, sigs)
  }

  /** The one candidate-pair emitter behind blocking, MinHash, SimHash
    * and embedding LSH: rows keyed by `keys` (a block signature, or a
    * tagged (band, bucket) key) become the deduped (id_l, id_r) pairs
    * of every key shared by 1 < n ≤ `cap` rows — the capped self-join
    * `l.keys = r.keys AND l.id < r.id` of the reference
    * (blocking.py:256-271), WITHOUT a self-join (guide §2.4 "remove
    * shuffles outright" + §2.3 "aggregate before you shuffle"):
    *   - the key counts shuffle only (key, partial count) rows
    *     (map-side partial agg);
    *   - the cap semi-join leaves the keyed rows hash-partitioned on the
    *     key, and the member-collecting groupBy REUSES that
    *     partitioning — the keyed rows cross exactly one exchange;
    *   - pairs are emitted map-side from each key's sorted member array
    *     (`i < j`; array_sort uses the same binary string order as the
    *     join's `<`), then filtered to id_l < id_r so a repeated member
    *     id pairs with nothing, exactly as in the self-join.
    * collect_list is bounded by the cap, applied BEFORE the semi-join,
    * so no aggregation buffer ever holds a hot key; singleton keys emit
    * no pairs and are dropped before the collect.
    *
    * `member` is an id column, or a struct led by the id when the
    * caller needs a per-member value beside the pair: each further
    * struct field `f` comes out as `f_l`/`f_r` (array_sort orders the
    * structs by id first). Output: (id_l, id_r[, f_l, f_r ...]),
    * deduped on (id_l, id_r) across keys.
    */
  private[graft] def groupedPairs(keyed: DataFrame, keys: Seq[String],
                                  member: Column, cap: Int): DataFrame = {
    val keyCols = keys.map(col)
    val kept = keyed.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1 && col("_n") <= cap)
      .drop("_n")
    val members = keyed.join(kept, keys, "left_semi")
      .groupBy(keyCols: _*)
      .agg(array_sort(collect_list(member)).as("_ms"))
    val payload = members.schema("_ms").dataType match {
      case ArrayType(s: StructType, _) => s.fieldNames.toSeq
      case _ => Seq.empty
    }
    def side(m: Column, s: String): Seq[Column] =
      if (payload.isEmpty) Seq(m.as(s"id_$s"))
      else m.getField(payload.head).as(s"id_$s") +:
        payload.tail.map(f => m.getField(f).as(s"${f}_$s"))
    val ms = col("_ms")
    members
      .select(explode(flatten(transform(ms, (x, i) =>
        transform(
          slice(ms, i + lit(2), greatest(size(ms) - i - lit(1), lit(0))),
          y => struct(side(x, "l") ++ side(y, "r"): _*))))).as("_p"))
      .select("_p.*")
      .filter(col("id_l") < col("id_r"))
      .dropDuplicates("id_l", "id_r")
  }

  /** Sorted-neighborhood blocking (the north star's third blocking-key
    * family next to n-gram conjunctions and MinHash/LSH bands): order
    * records globally by a sort key, pair each record with its `window`
    * successors. Ranks come from graft.plans.Ranks (range-partitioned
    * zipWithIndex — no single-task global window), and the
    * rank-distance join is an EQUI-join on an exploded meet key
    * (rank+1 .. rank+window), not a range join: rows × window shuffle
    * volume, sort-merge-joinable, bounded tasks at any N.
    * id_l is the lower-RANKED side (sorted-neighborhood order, not id
    * order). Ties in the key are totalized by idCol.
    */
  def sortedNeighborhoodPairs(records: DataFrame, keyCol: Column,
                              idCol: String = "conv_id",
                              window: Int = 3): DataFrame = {
    // materialize the ranking once: both join sides read it, and the
    // rank is a global sort + index job — without this it runs twice
    val ranked = graft.plans.Ranks.withRank(
      records.select(col(idCol), keyCol.as("_snkey")),
      Seq(col("_snkey"), col(idCol)), "_rank")
      .localCheckpoint()
    val l = ranked.select(col(idCol).as("id_l"), col("_rank"))
      .withColumn("_meet",
        explode(sequence(col("_rank") + 1, col("_rank") + window)))
      .drop("_rank")
    val r = ranked.select(col(idCol).as("id_r"), col("_rank").as("_meet"))
    l.join(r, "_meet").select("id_l", "id_r")
  }

  /** Union of candidate pairs across a conjunction list, appended
    * best-first with conflict-skip semantics (S4/U2:
    * INSERT … ON CONFLICT DO NOTHING, blocking.py:296-313) = left_anti
    * against already-covered pairs, then union.
    */
  def unionPairs(pairsByConjunction: Seq[DataFrame]): DataFrame =
    pairsByConjunction.reduce { (acc, next) =>
      acc.unionByName(next.join(acc, Seq("id_l", "id_r"), "left_anti"))
    }

  /** DuckDB oracle SQL for [[candidatePairs]] over a CTE named
    * `signatures(conv_id, sig_0..sig_k)` — caller supplies that CTE.
    */
  def pairsOracleSql(nSigs: Int, maxBlockSize: Int): String = {
    val sigs = (0 until nSigs).map(i => s"sig_$i").mkString(", ")
    val eqs = (0 until nSigs).map(i => s"l.sig_$i = r.sig_$i").mkString(" AND ")
    s"""capped AS (
       |  SELECT * FROM signatures WHERE ($sigs) IN (
       |    SELECT ($sigs) FROM signatures GROUP BY $sigs
       |    HAVING count(*) <= $maxBlockSize)
       |)
       |SELECT DISTINCT l.conv_id AS id_l, r.conv_id AS id_r
       |FROM capped l JOIN capped r ON $eqs AND l.conv_id < r.conv_id""".stripMargin
  }
}
