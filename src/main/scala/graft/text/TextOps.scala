package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Large-scale training-data text operators over the `documents` table:
  * exact/near deduplication (hash, MinHash+LSH, SimHash, n-gram
  * Jaccard), token statistics, quality scoring, language-ID heuristic,
  * document fingerprinting. All pure built-in Catalyst expressions
  * (codegen'd end-to-end), each mirrored in DuckDB oracle SQL.
  *
  * The driver's `documents` corpus contains no duplicates, so dedupe
  * operators run over [[corpus]]: documents ∪ planted copies — every
  * 7th doc re-emitted verbatim (exact dup) and every 5th doc re-emitted
  * with the last 10 chars dropped (near dup). Deterministic and
  * SQL-derivable, like the transcript corpus.
  */
object TextOps {

  // ---------- corpus ----------

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** documents + planted exact/near duplicates (dup ids offset by 10^6). */
  def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir).select("doc_id", "text")
    val exact = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val near = d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        col("text").substr(lit(1), greatest(length(col("text")) - 10, lit(1)))
          .as("text"))
    d.unionByName(exact).unionByName(near)
  }

  val corpusCte: String =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 2000000,
      |         substring(text, 1, greatest(length(text) - 10, 1))
      |  FROM documents WHERE doc_id % 5 = 0
      |)""".stripMargin

  // ---------- exact dedup (hash-groupBy) ----------

  /** (doc_id, content_hash, canonical_id, group_size): canonical = min
    * doc_id per identical md5(text).
    *
    * groupBy-agg + join-back, NOT a window over content_hash: a window
    * puts every row of one hash into ONE partition, and web-scale
    * corpora are exactly the place where a single boilerplate page has
    * 10^8 identical copies. The aggregate gets map-side partial
    * aggregation (hot hash collapses to one row per map task) and the
    * join-back is 1:N against a hash-distinct (usually broadcastable)
    * right side — no giant partition anywhere.
    */
  def exactDupGroups(c: DataFrame): DataFrame = {
    val hashed = c.withColumn("content_hash", md5(col("text")))
    val groups = hashed.groupBy("content_hash")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("group_size"))
    hashed.join(groups, Seq("content_hash"))
      .select("doc_id", "content_hash", "canonical_id", "group_size")
  }

  val exactDupSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
      |  count(*) OVER (PARTITION BY md5(text)) AS group_size
      |FROM corpus""".stripMargin

  // ---------- tokenization ----------

  private def tokens(c: Column): Column =
    filter(split(c, " "), w => w =!= "")

  private val tokensSql = "list_filter(string_split(text, ' '), w -> w != '')"

  /** whitespace tokens + BPE-ish regex tokens + char stats. */
  def tokenStats(c: DataFrame): DataFrame =
    c.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
      regexp_count(col("text"), lit("[a-z0-9]+")).as("n_regex_tokens"),
      length(col("text")).as("n_chars"))

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  CAST(length($tokensSql) AS INT) AS n_tokens,
       |  CAST(length(list_distinct($tokensSql)) AS INT) AS n_distinct_tokens,
       |  CAST(length(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_regex_tokens,
       |  CAST(length(text) AS INT) AS n_chars
       |FROM corpus""".stripMargin

  // ---------- quality scoring ----------

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopwordsSqlList = stopwords.map(s => s"'$s'").mkString(", ")

  /** length / stopword-ratio / lexical-diversity quality features +
    * composite score. Quantized floor(x·10⁴)/10⁴ for engine parity.
    */
  def quality(c: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val n = size(t).cast("double")
    val stop = size(filter(t, w => w.isin(stopwords.map(lit(_)): _*)))
      .cast("double")
    val distinctRatio = size(array_distinct(t)).cast("double") / greatest(n, lit(1.0))
    val stopRatio = stop / greatest(n, lit(1.0))
    val meanTokLen = (length(col("text")) - (size(t) - 1)).cast("double") /
      greatest(n, lit(1.0))
    c.select(
      col("doc_id"),
      q4(stopRatio).as("stopword_ratio"),
      q4(distinctRatio).as("distinct_ratio"),
      q4(meanTokLen).as("mean_token_len"),
      q4((distinctRatio + stopRatio +
        least(meanTokLen / lit(8.0), lit(1.0))) / 3.0).as("quality_score"))
  }

  val qualitySql: String =
    s"""SELECT doc_id,
       |  floor(stop / greatest(n, 1.0) * 10000.0) / 10000.0 AS stopword_ratio,
       |  floor(dist / greatest(n, 1.0) * 10000.0) / 10000.0 AS distinct_ratio,
       |  floor(mtl * 10000.0) / 10000.0 AS mean_token_len,
       |  floor((dist / greatest(n, 1.0) + stop / greatest(n, 1.0) +
       |         least(mtl / 8.0, 1.0)) / 3.0 * 10000.0) / 10000.0 AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    CAST(length($tokensSql) AS DOUBLE) AS n,
       |    CAST(length(list_filter($tokensSql,
       |      w -> w IN ($stopwordsSqlList))) AS DOUBLE) AS stop,
       |    CAST(length(list_distinct($tokensSql)) AS DOUBLE) AS dist,
       |    CAST(length(text) - (length($tokensSql) - 1) AS DOUBLE) /
       |      greatest(CAST(length($tokensSql) AS DOUBLE), 1.0) AS mtl
       |  FROM corpus)""".stripMargin

  // ---------- language-ID heuristic ----------

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** n-gram/stopword-marker language ID: marker-hit counts per language,
    * argmax with deterministic tiebreak ('en' > 'es' > 'fr' order),
    * 'und' when nothing fires. (The synthetic corpus is English-ish
    * tech vocab, so this mostly exercises the operator shape.)
    */
  def langId(c: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val counts = langMarkers.map { case (lang, ms) =>
      lang -> size(filter(t, w => w.isin(ms.map(lit(_)): _*)))
    }
    val best = counts.tail.foldLeft[
      (Column, Column)]((lit(counts.head._1), counts.head._2)) {
      case ((bl, bc), (lang, cnt)) =>
        (when(cnt > bc, lit(lang)).otherwise(bl),
          when(cnt > bc, cnt).otherwise(bc))
    }
    c.select(col("doc_id"),
      when(best._2 > 0, best._1).otherwise(lit("und")).as("pred_lang"),
      best._2.cast("int").as("marker_hits"))
  }

  def langIdSqlFrom(table: String): String = {
    val cntExprs = langMarkers.map { case (lang, ms) =>
      s"CAST(length(list_filter($tokensSql, w -> w IN (${ms.map(m => s"'$m'").mkString(", ")}))) AS INT) AS c_$lang"
    }.mkString(",\n    ")
    """SELECT doc_id,
      |  CASE WHEN best_c > 0 THEN best_l ELSE 'und' END AS pred_lang,
      |  best_c AS marker_hits
      |FROM (
      |  SELECT doc_id,
      |    CASE WHEN c_fr > (CASE WHEN c_es > c_en THEN c_es ELSE c_en END)
      |         THEN 'fr'
      |         WHEN c_es > c_en THEN 'es' ELSE 'en' END AS best_l,
      |    greatest(c_en, c_es, c_fr) AS best_c
      |  FROM (
      |    SELECT doc_id,
      |    """.stripMargin + cntExprs + s"\n    FROM $table))"
  }

  val langIdSql: String = langIdSqlFrom("corpus")

  // ---------- fingerprinting (shingle min-hash digest) ----------

  /** Token k-shingles over an ALREADY-PROJECTED token-array column.
    *
    * `t` must be a cheap reference (an attribute from a prior select),
    * NOT the tokenizer expression itself: the lambda body references
    * `t` per index, and Catalyst does not hoist non-lambda-dependent
    * subexpressions out of higher-order-function lambdas — an inlined
    * `tokens(text)` would re-split the whole document once per shingle
    * index, O(n²) per row (measured: 36 s for two 10⁴-token rows).
    */
  private def shinglesOf(t: Column, k: Int): Column =
    when(size(t) >= k,
      transform(sequence(lit(0), size(t) - k),
        i => array_join(slice(t, i + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Convenience wrapper for CHEAP call sites (small token lists or
    * hand-checked specs). Hot paths must pre-project the tokens and
    * use [[shinglesOf]] — see its scaladoc. */
  private def shingles(k: Int): Column = shinglesOf(tokens(col("text")), k)

  private def shinglesSql(k: Int): String =
    s"[array_to_string($tokensSql[i:i+${k - 1}], ' ') " +
      s"FOR i IN range(1, greatest(length($tokensSql) - ${k - 2}, 1))]"

  /** rolling-digest fingerprint: min/max md5 over token 5-gram shingles
    * (winnowing-style content signature).
    */
  def fingerprint(c: DataFrame): DataFrame = {
    // tokens then shingles projected stage-wise so no expression is
    // re-evaluated inside a lambda or across sibling columns
    val sh = c.select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(col("doc_id"), shinglesOf(col("_t"), 5).as("_sh"))
    sh.select(col("doc_id"),
      size(col("_sh")).as("n_shingles"),
      array_min(transform(col("_sh"), s => md5(s))).as("fp_min"),
      array_max(transform(col("_sh"), s => md5(s))).as("fp_max"))
  }

  val fingerprintSql: String =
    s"""SELECT doc_id,
       |  CAST(length(${shinglesSql(5)}) AS INT) AS n_shingles,
       |  list_min([md5(s) FOR s IN ${shinglesSql(5)}]) AS fp_min,
       |  list_max([md5(s) FOR s IN ${shinglesSql(5)}]) AS fp_max
       |FROM corpus""".stripMargin

  // ---------- SimHash ----------

  /** 16-bit SimHash from per-token md5 nibbles: bit k set iff the
    * majority of tokens have a high bit in hex digit k of their md5.
    *
    * Shape: explode → md5 ONCE per token → 16 conditional-sum majority
    * votes in one groupBy(doc_id) — the same hash-once shape as
    * [[minhashSignatures]] and this operator's own DuckDB mirror. (The
    * previous array-lambda formulation called `md5(w)` inside 16
    * `filter` passes — Catalyst cannot hoist common subexpressions
    * across higher-order-function lambdas, so every token was hashed
    * 16×; at web scale the signature stage was pure redundant md5.)
    * Zero-token docs rejoin via LEFT JOIN with signature 0, matching
    * the empty-list majority vote.
    */
  def simhash(c: DataFrame): DataFrame = {
    val hashed = c.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    val bitCnts = (0 until 16).map { d =>
      sum(when(substring(col("h"), d + 1, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1L).otherwise(0L))
        .as(s"c$d")
    }
    val grouped = hashed.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitCnts: _*)
    val sig = (0 until 16).map { k =>
      when(col(s"c$k") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
    c.select(col("doc_id"))
      .join(grouped, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(sig, lit(0L)).as("simhash"))
  }

  /** DuckDB mirror of [[simhash]] — same hash-each-token-once shape as
    * [[simhash64Sql]] (the naive 16-list_filter mirror re-hashed every
    * token 16×). */
  val simhashSql: String = {
    val digitCols = (0 until 16).map { d =>
      s"(CASE WHEN substring(h, ${d + 1}, 1) IN " +
        s"('8','9','a','b','c','d','e','f') THEN 1 ELSE 0 END) AS b$d"
    }.mkString(",\n      ")
    val bitAgg = (0 until 16).map { k =>
      s"(CASE WHEN 2 * sum(b$k) > count(*) THEN ${1L << k} ELSE 0 END)"
    }.mkString(" +\n    ")
    s"""SELECT c.doc_id, CAST(coalesce(a.sig, 0) AS BIGINT) AS simhash
       |  FROM corpus c LEFT JOIN (
       |    SELECT doc_id, $bitAgg AS sig
       |    FROM (
       |      SELECT doc_id,
       |      $digitCols
       |      FROM (
       |        SELECT doc_id, md5(w) AS h FROM (
       |          SELECT doc_id, unnest($tokensSql) AS w FROM corpus)))
       |    GROUP BY doc_id
       |  ) a ON c.doc_id = a.doc_id""".stripMargin
  }

  // ---------- repetition / boilerplate detection ----------

  /** Gopher-style repetition filters: fraction of the document made of
    * its single most frequent token, and of its most frequent token
    * bigram — the classic web-scale "repeated boilerplate" quality
    * signals. Map-only, pure builtins. Quantized floor(x·10⁴)/10⁴ for
    * engine parity.
    *
    * The top-count is computed as the MAX RUN LENGTH of the sorted
    * list (one array_sort + one linear aggregate pass per row) — the
    * previous distinct×filter formulation was O(distinct²) per row:
    * fine on chat turns, quadratic on a 10⁴-distinct-token web
    * document. Equal elements are adjacent after sorting, so max run
    * length ≡ max frequency, and the ratio is unchanged.
    */
  def repetition(c: DataFrame): DataFrame = {
    // project tokens/bigrams as attributes first (see shinglesOf)
    val projected = c
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(col("doc_id"), col("_t"), shinglesOf(col("_t"), 2).as("_bg"))
    def domRatio(items: Column): Column = {
      val n = size(items).cast("double")
      // tokens/bigrams are never "" (tokenizer filters empties), so ""
      // is a safe "no previous element" sentinel for the run counter
      val acc0 = struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"))
      val stepped = aggregate(array_sort(items), acc0, (acc, x) => {
        val run = when(x === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      })
      val top = stepped.getField("best").cast("double")
      when(n === 0, lit(0.0)).otherwise(top / n)
    }
    projected.select(col("doc_id"),
      size(col("_t")).as("n_tokens"),
      q4(domRatio(col("_t"))).as("top_token_ratio"),
      q4(domRatio(col("_bg"))).as("top_bigram_ratio"))
  }

  /** Oracle mirror with the token/bigram lists HOISTED into subquery
    * columns: inlining `$tokensSql` into every one of domRatio's four
    * references made DuckDB re-split every document ~12× per row
    * (8.8 s at sf0.01 → 0.6 s hoisted). */
  val repetitionSql: String = {
    def domRatio(items: String) =
      s"""CASE WHEN length($items) = 0 THEN 0.0
         |  ELSE CAST(list_max(list_transform(list_distinct($items),
         |    d -> length(list_filter($items, w -> w = d)))) AS DOUBLE) /
         |    length($items) END""".stripMargin
    s"""SELECT doc_id,
       |  CAST(length(t) AS INT) AS n_tokens,
       |  floor((${domRatio("t")}) * 10000.0) / 10000.0
       |    AS top_token_ratio,
       |  floor((${domRatio("bg")}) * 10000.0) / 10000.0
       |    AS top_bigram_ratio
       |FROM (
       |  SELECT doc_id, t,
       |    [array_to_string(t[i:i+1], ' ')
       |     FOR i IN range(1, greatest(length(t), 1))] AS bg
       |  FROM (SELECT doc_id, $tokensSql AS t FROM corpus))""".stripMargin
  }

  // ---------- 64-bit SimHash + banded Hamming near-dup ----------

  /** 64-bit SimHash: bit k set iff the majority of tokens have bit k
    * set, where token bit k = bit (k mod 4) of hex digit (k div 4) of
    * md5(token). The 16-bit [[simhash]] stays as the cheap fingerprint
    * column; this is the pairing-grade signature.
    */
  def simhash64(c: DataFrame): DataFrame = {
    // hash-once shape (see [[simhash]]): one md5 per token, the 16 hex
    // digits decoded to integers ONCE in a projection, then 64 integer
    // bit-test conditional sums in a single groupBy(doc_id) — identical
    // result to the old 64-filter-pass formulation with 1/64th the
    // hashing (mirrors simhash64Sql, which was already hash-once).
    val hashed = c.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    val digits = hashed.select(
      (col("doc_id") +: (0 until 16).map(d =>
        conv(substring(col("h"), d + 1, 1), 16, 10).cast("int")
          .as(s"d$d"))): _*)
    val bitCnts = (0 until 64).map { k =>
      sum(when(col(s"d${k / 4}").bitwiseAND(lit(1 << (k % 4))) > 0, 1L)
        .otherwise(0L)).as(s"c$k")
    }
    val grouped = digits.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), bitCnts: _*)
    val sig = (0 until 64).map { k =>
      when(col(s"c$k") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    c.select(col("doc_id"))
      .join(grouped, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(sig, lit(0L)).as("simhash64"))
  }

  /** DuckDB mirror of [[simhash64]], shaped for oracle CHEAPNESS: the
    * naive mirror (64 list_filter passes per row, each re-hashing every
    * token) made the driver's correctness compare blow its time budget.
    * Here each token is unnested and md5-hashed ONCE, its 16 hex digits
    * decoded to integers once, and the 64 majority votes are plain
    * conditional-sum aggregates over integer bit tests — identical
    * result, orders of magnitude less hashing. Zero-token docs rejoin
    * via LEFT JOIN with signature 0 (matching the Spark majority vote
    * over an empty list). */
  val simhash64Sql: String = {
    val digitCols = (0 until 16).map { d =>
      s"strpos('0123456789abcdef', substring(h, ${d + 1}, 1)) - 1 AS d$d"
    }.mkString(",\n      ")
    val bitAgg = (0 until 64).map { k =>
      s"(CASE WHEN 2 * sum(CASE WHEN (d${k / 4} & ${1 << (k % 4)}) > 0 " +
        s"THEN 1 ELSE 0 END) > count(*) " +
        s"THEN CAST(${1L << k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" |\n    ")
    s"""SELECT c.doc_id, coalesce(a.sig, CAST(0 AS BIGINT)) AS simhash64
       |  FROM corpus c LEFT JOIN (
       |    SELECT doc_id, CAST($bitAgg AS BIGINT) AS sig
       |    FROM (
       |      SELECT doc_id,
       |      $digitCols
       |      FROM (
       |        SELECT doc_id, md5(w) AS h FROM (
       |          SELECT doc_id, unnest($tokensSql) AS w FROM corpus)))
       |    GROUP BY doc_id
       |  ) a ON c.doc_id = a.doc_id""".stripMargin
  }

  /** Near-dup pairs by SimHash Hamming distance, banded: split the 64
    * bits into 4 × 16-bit bands — by pigeonhole, two signatures within
    * Hamming ≤ 3 MUST agree on at least one band, and small distances
    * generally collide on some band — pairs sharing a band bucket
    * (bucket-capped like every other hot key here, via
    * [[graft.block.Blocking.groupedPairs]]), then verify
    * bit_count(xor) ≤ maxHamming. Never all-pairs; verification only
    * touches banded candidates.
    *
    * Band keys are masked (sig & (0xffff << 16b)), not shifted —
    * arithmetic-shift semantics on negative longs differ across
    * engines, mask-equality does not.
    */
  def simhashHammingPairs(c: DataFrame, maxHamming: Int = 8,
                          bandCap: Int = BandCap): DataFrame = {
    val sig = simhash64(c).localCheckpoint()
    // all 4 bands as tagged (band, k) keys of one grouped-pairs
    // pipeline; members carry their signature so the Hamming verify
    // stays a map-side projection
    val bandArr = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        col("simhash64").bitwiseAND(lit(65535L << (16 * b))).as("k"))
    }: _*)
    val banded = sig.select(col("doc_id"), col("simhash64"), inline(bandArr))
    graft.block.Blocking.groupedPairs(banded, Seq("band", "k"),
        struct(col("doc_id"), col("simhash64")), bandCap)
      .withColumn("hamming", bit_count(
        col("simhash64_l").bitwiseXOR(col("simhash64_r"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_l", "id_r", "hamming")
  }

  def simhashHammingPairsSql(maxHamming: Int = 8,
                             bandCap: Int = BandCap): String = {
    val bandCtes = (0 until 4).map { b =>
      val mask = 65535L << (16 * b)
      s"""hband$b AS (
         |  SELECT doc_id, simhash64, simhash64 & CAST($mask AS BIGINT) AS k
         |  FROM hsig
         |  WHERE (simhash64 & CAST($mask AS BIGINT)) IN (
         |    SELECT simhash64 & CAST($mask AS BIGINT) FROM hsig
         |    GROUP BY 1 HAVING count(*) <= $bandCap)
         |)""".stripMargin
    }.mkString(",\n")
    val bandJoins = (0 until 4).map { b =>
      s"""SELECT l.doc_id AS id_l, r.doc_id AS id_r,
         |    l.simhash64 AS s_l, r.simhash64 AS s_r
         |  FROM hband$b l JOIN hband$b r
         |  ON l.k = r.k AND l.doc_id < r.doc_id""".stripMargin
    }.mkString("\n  UNION\n  ")
    s"""hsig AS (
       |  $simhash64Sql
       |),
       |$bandCtes,
       |hcand AS (
       |  $bandJoins
       |)
       |SELECT id_l, id_r, CAST(bit_count(xor(s_l, s_r)) AS INT) AS hamming
       |FROM hcand
       |WHERE bit_count(xor(s_l, s_r)) <= $maxHamming""".stripMargin
  }

  // ---------- MinHash + LSH near-dup ----------

  val MinHashFns = 8
  val BandSize = 2

  /** Default per-band bucket cap: a band bucket (2 equal MinHash
    * values) shared by more than this many docs is boilerplate-grade —
    * its in-bucket pair set is quadratic, so it is dropped (same
    * deterministic frequency-cap defense as blocking.capHotSignatures,
    * mirrored in the oracle). 200 ⇒ ≤ ~20k pairs per bucket. */
  val BandCap = 200

  /** per-doc MinHash signature over token 3-gram shingles.
    *
    * Hash family: each shingle is md5-hashed TWICE (salts "0:"/"1:"),
    * and each 128-bit digest is carved into four 8-hex-char slices —
    * 8 independent 32-bit min-hash functions for 2 hashes per shingle
    * instead of 8 (the md5 compute was the whole cost of the q26
    * chain: 8 full digests per shingle put ~20 s of pure hashing at
    * sf0.1 into the signature stage; this is ~4× less). Fixed-width
    * lowercase hex compares in NUMERIC order, so min over the string
    * slices ≡ min over the 32-bit values — and mirrors in DuckDB with
    * plain substring, no hex-decode.
    *
    * Shape: explode + groupBy(doc_id) with map-side partial min —
    * each digest is computed exactly once per (doc, shingle) row
    * (array-transform formulations recompute shared md5s per hash
    * function: CollapseProject re-inlines deterministic aliases).
    * Zero-shingle docs produce no rows, same as the previous filter.
    * (doc_id, h0..h7). */
  def minhashSignatures(c: DataFrame): DataFrame = {
    val exploded = c
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(col("doc_id"), explode(shinglesOf(col("_t"), 3)).as("s"))
      .select(col("doc_id"),
        md5(concat(lit("0:"), col("s"))).as("d0"),
        md5(concat(lit("1:"), col("s"))).as("d1"))
    val mins = (0 until MinHashFns).map { j =>
      val d = if (j < 4) col("d0") else col("d1")
      min(substring(d, (j % 4) * 8 + 1, 8)).as(s"h$j")
    }
    exploded.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Banded LSH candidates: doc pairs sharing any (h_{2b}, h_{2b+1})
    * band, hot band buckets capped at `bandCap` — the candidate stage of
    * [[minhashPairs]], exposed for composition. The signature table is
    * materialized via localCheckpoint (eager) rather than cache(): the
    * grouped-pairs pipeline scans it twice (counts + members), and
    * checkpoint blocks are released by the ContextCleaner when the plan
    * is dropped — no cache entry left pinned for the session's lifetime.
    */
  def minhashCandidates(c: DataFrame, bandCap: Int = BandCap): DataFrame = {
    val sig = minhashSignatures(c).localCheckpoint()
    // every band as a tagged (band, k0, k1) key of one grouped-pairs
    // pipeline: dedupe over the tagged union ≡ union of per-band pairs
    val bandArr = array((0 until MinHashFns / BandSize).map { b =>
      struct(lit(b).as("band"), col(s"h${2 * b}").as("k0"),
        col(s"h${2 * b + 1}").as("k1")) }: _*)
    graft.block.Blocking.groupedPairs(
      sig.select(col("doc_id"), inline(bandArr)), Seq("band", "k0", "k1"),
      col("doc_id"), bandCap)
  }

  /** MinHash near-dup: [[minhashCandidates]] verified with the true
    * shingle-set Jaccard; near-dup = jaccard ≥ threshold. Never
    * all-pairs, no unbounded bucket; the verify step only touches
    * banded candidates. */
  def minhashPairs(c: DataFrame, threshold: Double = 0.5,
                   bandCap: Int = BandCap): DataFrame = {
    val candidates = minhashCandidates(c, bandCap)
    val sh = c.select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(col("doc_id"),
        array_distinct(shinglesOf(col("_t"), 3)).as("sh"))
    val verified = candidates
      .join(sh.select(col("doc_id").as("id_l"), col("sh").as("sh_l")), "id_l")
      .join(sh.select(col("doc_id").as("id_r"), col("sh").as("sh_r")), "id_r")
      .withColumn("jaccard", q4(
        size(array_intersect(col("sh_l"), col("sh_r"))).cast("double") /
          greatest(size(array_union(col("sh_l"), col("sh_r"))), lit(1))
            .cast("double")))
      .filter(col("jaccard") >= threshold)
    verified.select("id_l", "id_r", "jaccard")
  }

  def minhashPairsSql(threshold: Double = 0.5,
                      bandCap: Int = BandCap): String = {
    val sh3 = shinglesSql(3)
    // mirror of minhashSignatures: one unnest row per shingle, two md5
    // digests per row, min over fixed-width hex slices
    val hashCols = (0 until MinHashFns).map { j =>
      val d = if (j < 4) "d0" else "d1"
      s"min(substring($d, ${(j % 4) * 8 + 1}, 8)) AS h$j"
    }.mkString(",\n    ")
    val bandCtes = (0 until MinHashFns / BandSize).map { b =>
      s"""band$b AS (
         |  SELECT doc_id, h${2 * b} AS k0, h${2 * b + 1} AS k1 FROM sig
         |  WHERE (h${2 * b}, h${2 * b + 1}) IN (
         |    SELECT (h${2 * b}, h${2 * b + 1}) FROM sig
         |    GROUP BY h${2 * b}, h${2 * b + 1}
         |    HAVING count(*) <= $bandCap)
         |)""".stripMargin
    }.mkString(",\n")
    val bandJoins = (0 until MinHashFns / BandSize).map { b =>
      s"""SELECT l.doc_id AS id_l, r.doc_id AS id_r
         |  FROM band$b l JOIN band$b r
         |  ON l.k0 = r.k0 AND l.k1 = r.k1
         |  AND l.doc_id < r.doc_id""".stripMargin
    }.mkString("\n  UNION\n  ")
    s"""sig AS (
       |  SELECT doc_id,
       |    $hashCols
       |  FROM (
       |    SELECT doc_id, md5('0:' || s) AS d0, md5('1:' || s) AS d1
       |    FROM (SELECT doc_id, unnest($sh3) AS s FROM corpus))
       |  GROUP BY doc_id
       |),
       |$bandCtes,
       |cand AS (
       |  $bandJoins
       |),
       |shs AS (SELECT doc_id, list_distinct($sh3) AS sh FROM corpus)
       |SELECT c.id_l, c.id_r,
       |  floor(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    greatest(length(list_distinct(list_concat(a.sh, b.sh))), 1)
       |    * 10000.0) / 10000.0 AS jaccard
       |FROM cand c JOIN shs a ON c.id_l = a.doc_id
       |            JOIN shs b ON c.id_r = b.doc_id
       |WHERE floor(CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |    greatest(length(list_distinct(list_concat(a.sh, b.sh))), 1)
       |    * 10000.0) / 10000.0 >= $threshold""".stripMargin
  }

  // ---------- char n-gram Jaccard near-dup ----------

  /** char-4-gram Jaccard over prefix-blocked candidates (first 16 chars
    * equal — cheap blocking; the planted near-dups share prefixes).
    */
  def ngramJaccardPairs(c: DataFrame, threshold: Double = 0.7): DataFrame = {
    val ng = when(length(col("text")) >= 4,
      transform(sequence(lit(1), length(col("text")) - lit(3)),
        i => substring(col("text"), i, lit(4))))
      .otherwise(array().cast("array<string>"))
    val d = c.select(col("doc_id"), substring(col("text"), 1, 16).as("blk"),
      array_distinct(ng).as("ng"))
    val l = d.select(col("doc_id").as("id_l"), col("blk"), col("ng").as("ng_l"))
    val r = d.select(col("doc_id").as("id_r"), col("blk"), col("ng").as("ng_r"))
    l.join(r, "blk").filter(col("id_l") < col("id_r"))
      .withColumn("jaccard", q4(
        size(array_intersect(col("ng_l"), col("ng_r"))).cast("double") /
          greatest(size(array_union(col("ng_l"), col("ng_r"))), lit(1))
            .cast("double")))
      .filter(col("jaccard") >= threshold)
      .select("id_l", "id_r", "jaccard")
  }

  def ngramJaccardSql(threshold: Double = 0.7): String = {
    val ng = "list_distinct([substring(text, i, 4) FOR i IN " +
      "range(1, greatest(length(text) - 2, 1))])"
    s"""blocked AS (
       |  SELECT doc_id, substring(text, 1, 16) AS blk, $ng AS ng
       |  FROM corpus
       |)
       |SELECT l.doc_id AS id_l, r.doc_id AS id_r,
       |  floor(CAST(length(list_intersect(l.ng, r.ng)) AS DOUBLE) /
       |    greatest(length(list_distinct(list_concat(l.ng, r.ng))), 1)
       |    * 10000.0) / 10000.0 AS jaccard
       |FROM blocked l JOIN blocked r
       |  ON l.blk = r.blk AND l.doc_id < r.doc_id
       |WHERE floor(CAST(length(list_intersect(l.ng, r.ng)) AS DOUBLE) /
       |    greatest(length(list_distinct(list_concat(l.ng, r.ng))), 1)
       |    * 10000.0) / 10000.0 >= $threshold""".stripMargin
  }

  private def q4(c: Column): Column = floor(c * lit(10000.0)) / lit(10000.0)

  // ---------- per-source corpus stats + language-ID evaluation ----------

  /** Per-source rollup over the raw documents table (which carries
    * `lang` ground truth and `source`): doc count, mean length, and
    * the language-ID heuristic's agreement rate with the truth column
    * — the model-evaluation op a pipeline runs per ingestion source.
    * Grouped agg with map-side partials; mean/rate are one exact
    * integer sum + one division each (engine-portable). */
  def sourceStats(docs: DataFrame): DataFrame = {
    val pred = langId(docs.select(col("doc_id"), col("text")))
    docs.select("doc_id", "source", "lang", "n_chars")
      .join(pred.select("doc_id", "pred_lang"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (floor(sum(col("n_chars")).cast("double") / count(lit(1)) * 100.0)
          / 100.0).as("mean_chars"),
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
          .as("n_lang_match"),
        (floor(sum(when(col("pred_lang") === col("lang"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1)) * 10000.0)
          / 10000.0).as("lang_match_rate"))
  }

  val sourceStatsSql: String =
    s"""SELECT d.source, count(*) AS n_docs,
       |  floor(CAST(sum(d.n_chars) AS DOUBLE) / count(*) * 100.0) / 100.0
       |    AS mean_chars,
       |  CAST(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_lang_match,
       |  floor(CAST(sum(CASE WHEN p.pred_lang = d.lang THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*) * 10000.0) / 10000.0 AS lang_match_rate
       |FROM documents d JOIN (
       |${langIdSqlFrom("documents").linesIterator.map("  " + _).mkString("\n")}
       |) p ON d.doc_id = p.doc_id
       |GROUP BY d.source""".stripMargin

  // ---------- token-window chunking ----------

  /** Sliding token-window chunking — the training-data op that turns
    * long documents into overlapping model-sized pieces:
    * window `maxTokens`, stride `maxTokens − overlap`; the final chunk
    * may be short; a doc with ≤ maxTokens tokens yields exactly one
    * chunk; empty docs yield none. Map-side explode — output rows ≈
    * input tokens / stride, no shuffle at all.
    * (doc_id, chunk_idx, n_chunk_tokens, chunk_text).
    */
  def chunk(c: DataFrame, maxTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < maxTokens, "overlap must be < maxTokens")
    val step = maxTokens - overlap
    // nChunks = 1 + ceil(max(n − maxTokens, 0) / step); exact via
    // floor((extra + step − 1)/step) — same arithmetic in the oracle
    val withT = c.select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("chunk_idx",
        explode(sequence(lit(0), nChunksOf(col("t"), maxTokens, step) - 1)))
    withT.select(col("doc_id"), col("chunk_idx"),
      slice(col("t"), col("chunk_idx") * step + 1, lit(maxTokens))
        .as("ct"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ct")).as("n_chunk_tokens"),
        array_join(col("ct"), " ").as("chunk_text"))
  }

  private def nChunksOf(t: Column, maxTokens: Int, step: Int): Column = {
    val extra = greatest(size(t) - maxTokens, lit(0)).cast("double")
    (lit(1) + floor((extra + (step - 1)) / step).cast("int"))
  }

  def chunkSql(maxTokens: Int = 64, overlap: Int = 16): String = {
    val step = maxTokens - overlap
    s"""SELECT doc_id, chunk_idx,
       |  CAST(length(t[chunk_idx * $step + 1 : chunk_idx * $step + $maxTokens]) AS INT)
       |    AS n_chunk_tokens,
       |  array_to_string(t[chunk_idx * $step + 1 : chunk_idx * $step + $maxTokens], ' ')
       |    AS chunk_text
       |FROM (
       |  SELECT doc_id, t,
       |    CAST(unnest(range(0, 1 + CAST(floor(
       |      (greatest(length(t) - $maxTokens, 0) + ${step - 1}) / $step)
       |      AS INT))) AS INT) AS chunk_idx
       |  FROM (SELECT doc_id, $tokensSql AS t FROM corpus)
       |  WHERE length(t) > 0)""".stripMargin
  }
}
