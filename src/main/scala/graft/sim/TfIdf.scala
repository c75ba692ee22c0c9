package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TF-IDF cosine similarity between paired documents — the third leg of
  * the north star's similarity vector (JW / Levenshtein / TF-IDF
  * cosine). Sparse formulation, no dense vectors:
  *
  *   tokens:  records → explode(full_text tokens) → (id, token, tf)
  *   df cap:  tokens with df > maxDf OR df > N/2 are DROPPED before the
  *            pair join (see below)
  *   idf:     per surviving token, floor((ln((N+1)/(df+1)) + 1) · 4096)
  *            — an INTEGER grid, so tf·idf weights are integer-valued
  *            and dot products / norms are EXACT in double arithmetic
  *            (order-independent ⇒ engine-portable, same trick as the
  *            embedding ops)
  *   dot:     pairs ⋈ weights(id_l) ⋈ weights(id_r) on token —
  *            only SHARED tokens contribute; group-by pair
  *   cosine:  dot / (norm_l · norm_r), floor-quantized to 1e-4; a
  *            record whose every token was capped away (or whose text
  *            is empty) keeps its pairs with cosine 0.0 — norms are
  *            LEFT-joined, never a silent pair drop
  *
  * Scale: two shuffles on token (idf + the pair-token join) and one on
  * pair id. The pair-token join is skew-prone on stopword-ish tokens —
  * the same hot-key concern as blocking, and at 10^7+ pairs × hot
  * tokens it goes quadratic. Defense (mirrored in the DuckDB oracle so
  * correctness checks see identical semantics):
  *   - absolute cap: df > maxDf tokens dropped — bounds the weights
  *     side of the join at maxDf rows per token key;
  *   - relative cap: df > N/2 tokens dropped — such tokens have
  *     near-zero idf (ln((N+1)/(df+1))+1 ≤ ln 2 + 1) and contribute
  *     noise-level mass to the cosine while dominating the join.
  * Both caps are deterministic functions of the corpus, so Spark and
  * the oracle agree exactly.
  */
object TfIdf {

  /** Default absolute document-frequency cap. At the bench scale this
    * drops only the stopword-grade tokens; at 10^10 docs it is what
    * keeps the pair⋈token join bounded. */
  val DefaultMaxDf = 10000L

  /** (id, token, weight) + (id, norm) with integer-grid weights over
    * df-capped tokens. `nRecords` lets callers hoist the corpus count
    * (one driver action per pipeline run, not one per cosine() call).
    * Package-visible so a pipeline scoring SEVERAL pair sets against
    * one corpus (Dedupe.run: candidate pairs + labeled training pairs)
    * computes and caches the corpus-scale token aggregation once and
    * feeds [[cosineWith]], instead of re-tokenizing per call.
    */
  private[graft] def weights(records: DataFrame, idCol: String, textCol: String,
                      maxDf: Long, nRecords: Option[Long]): (DataFrame, DataFrame) = {
    val toks = records.select(col(idCol).as("id"),
        explode(filter(split(col(textCol), " "), w => w =!= ""))
          .as("token"))
      .groupBy("id", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
    val n = nRecords.getOrElse(records.count()).toDouble
    val idf = toks.groupBy("token")
      .agg(countDistinct(col("id")).cast("double").as("df"))
      .filter(col("df") <= lit(maxDf.toDouble) &&
        col("df") * 2.0 <= lit(n))
      .withColumn("idf",
        floor((log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0) * 4096.0))
      .select("token", "idf")
    val w = toks.join(idf, "token")
      .withColumn("w", col("tf") * col("idf"))
      .select("id", "token", "w")
    val norms = w.groupBy("id")
      .agg(sqrt(sum(col("w") * col("w"))).as("norm"))
    (w, norms)
  }

  /** (id_l, id_r, tfidf_cos) for the given pairs. Every input pair
    * yields exactly one output row (token-less records ⇒ 0.0). */
  def cosine(pairs: DataFrame, records: DataFrame,
             idCol: String = "conv_id",
             textCol: String = "full_text",
             maxDf: Long = DefaultMaxDf,
             nRecords: Option[Long] = None): DataFrame = {
    val (w, norms) = weights(records, idCol, textCol, maxDf, nRecords)
    cosineWith(pairs, w, norms)
  }

  /** [[cosine]] against precomputed (and typically cached) weight /
    * norm relations from [[weights]]. */
  private[graft] def cosineWith(pairs: DataFrame, w: DataFrame,
                                norms: DataFrame): DataFrame = {
    val dots = pairs
      .join(w.select(col("id").as("id_l"), col("token"),
        col("w").as("w_l")), "id_l")
      .join(w.select(col("id").as("id_r"), col("token"),
        col("w").as("w_r")), Seq("id_r", "token"))
      .groupBy("id_l", "id_r")
      .agg(sum(col("w_l") * col("w_r")).as("dot"))
    pairs
      .join(dots, Seq("id_l", "id_r"), "left")
      .join(norms.select(col("id").as("id_l"), col("norm").as("n_l")),
        Seq("id_l"), "left")
      .join(norms.select(col("id").as("id_r"), col("norm").as("n_r")),
        Seq("id_r"), "left")
      .select(col("id_l"), col("id_r"),
        cosineOf(col("dot"), col("n_l"), col("n_r")).as("tfidf_cos"))
  }

  /** The quantized cosine of a pair's dot product and its two norms, a
    * null read as 0.0. */
  private[sim] def cosineOf(dot: Column, nl: Column, nr: Column): Column =
    floor(coalesce(dot, lit(0.0)) /
      greatest(coalesce(nl, lit(0.0)) * coalesce(nr, lit(0.0)),
        lit(1.0e-12)) * 10000.0) / 10000.0

  /** DuckDB mirror over CTEs `normalized` + `pairs`. */
  def oracleCtes(maxDf: Long = DefaultMaxDf): String =
    s"""toks AS (
      |  SELECT conv_id AS id, unnest(list_filter(
      |    string_split(full_text, ' '), w -> w != '')) AS token
      |  FROM normalized
      |),
      |tf AS (
      |  SELECT id, token, CAST(count(*) AS DOUBLE) AS tf
      |  FROM toks GROUP BY id, token
      |),
      |idf AS (
      |  SELECT token,
      |    floor((ln(((SELECT count(*) FROM normalized) + 1.0) /
      |      (CAST(count(DISTINCT id) AS DOUBLE) + 1.0)) + 1.0) * 4096.0)
      |      AS idf
      |  FROM tf GROUP BY token
      |  HAVING CAST(count(DISTINCT id) AS DOUBLE) <= $maxDf
      |     AND CAST(count(DISTINCT id) AS DOUBLE) * 2.0 <=
      |         (SELECT count(*) FROM normalized)
      |),
      |wts AS (
      |  SELECT id, tf.token, tf * idf AS w FROM tf JOIN idf ON tf.token = idf.token
      |),
      |norms AS (
      |  SELECT id, sqrt(sum(w * w)) AS norm FROM wts GROUP BY id
      |),
      |dots AS (
      |  SELECT p.id_l, p.id_r, sum(a.w * b.w) AS dot
      |  FROM pairs p
      |  JOIN wts a ON a.id = p.id_l
      |  JOIN wts b ON b.id = p.id_r AND b.token = a.token
      |  GROUP BY p.id_l, p.id_r
      |)""".stripMargin

  val oracleSelect: String =
    """SELECT p.id_l, p.id_r,
      |  floor(coalesce(d.dot, 0.0) /
      |    greatest(coalesce(nl.norm, 0.0) * coalesce(nr.norm, 0.0), 1e-12)
      |    * 10000.0) / 10000.0 AS tfidf_cos
      |FROM pairs p
      |LEFT JOIN dots d ON p.id_l = d.id_l AND p.id_r = d.id_r
      |LEFT JOIN norms nl ON nl.id = p.id_l
      |LEFT JOIN norms nr ON nr.id = p.id_r""".stripMargin
}
