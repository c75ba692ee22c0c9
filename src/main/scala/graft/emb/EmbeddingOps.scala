package graft.emb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search / near-dup over the `embeddings` table
  * (vec_id:long, embedding:array<float>, label:int).
  *
  * Numeric portability: every vector is first QUANTIZED to integers,
  * eq_i = floor(x_i · 1024). Sums of products of small integers are
  * EXACT in double arithmetic, so dot products / norms are
  * order-independent and bit-identical across Spark and DuckDB —
  * float-sum reduction order (SIMD vs sequential) can never flip a
  * result. Cosine is then quantized floor(x·10⁴)/10⁴ like every other
  * similarity in this engine.
  *
  * Scale design: brute-force top-k is the small-query-set baseline
  * (queries broadcast against the corpus, one pass, partial top-k per
  * partition via window); the LSH path buckets by sign bits so
  * candidate generation never goes all-pairs.
  */
object EmbeddingOps {

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** integer quantization (values ~N(0,1) ⇒ |eq| ≤ ~8·1024, squared
    * sums ≤ 64·2^26 ≪ 2^53: exact). */
  private def quant(c: Column): Column =
    transform(c, x => floor(x.cast("double") * lit(1024.0)))

  private val quantSql =
    "list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1024.0))"

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  private def norm2(a: Column): Column =
    aggregate(a, lit(0.0d), (acc, v) => acc + v * v)

  private def q4(c: Column): Column = floor(c * lit(10000.0)) / lit(10000.0)

  /** per-vector stats: dimension + quantized L2 norm. */
  def vectorStats(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      size(col("embedding")).as("dim"),
      q4(sqrt(norm2(quant(col("embedding")))) / lit(1024.0)).as("norm"))

  /** DuckDB twin of [[cosineQ]] between list columns `a` and `b`. */
  private def cosineQSql(a: String, b: String): String =
    s"""floor(list_sum(list_transform(list_zip($a, $b),
       |            p -> p[1] * p[2])) /
       |      greatest(sqrt(list_sum(list_transform($a, x -> x * x))) *
       |               sqrt(list_sum(list_transform($b, x -> x * x))), 1e-12)
       |      * 10000.0) / 10000.0""".stripMargin

  val vectorStatsSql: String =
    s"""SELECT vec_id,
       |  CAST(length(embedding) AS INT) AS dim,
       |  floor(sqrt(list_sum(list_transform($quantSql, x -> x * x)))
       |    / 1024.0 * 10000.0) / 10000.0 AS norm
       |FROM embeddings""".stripMargin

  /** quantized cosine between two quantized-vector columns. */
  private def cosineQ(a: Column, b: Column): Column =
    q4(dot(a, b) / greatest(sqrt(norm2(a)) * sqrt(norm2(b)), lit(1.0e-12)))

  /** brute-force cosine top-k: each query vector (vec_id < nQueries)
    * against the whole corpus. The query side is tiny → broadcast
    * nested-loop; ranking is TWO-PHASE so no window partition is ever
    * corpus-sized:
    *
    *   phase 1 — local top-k per (query, scan partition): window keyed
    *   by (query_id, spark_partition_id()), so each window partition
    *   holds at most one scan partition's rows (bounded by
    *   maxPartitionBytes), never all N corpus rows of a query;
    *   phase 2 — global rank over the ≤ k×P survivors per query.
    *
    * Any row in a query's global top-k is in the top-k of its own scan
    * partition, so the result is identical to a single corpus-wide
    * rank — without the 10⁹-row single-task sort per query that a
    * Window.partitionBy(query_id) over the scored cross product
    * implies at scale.
    */
  def bruteForceTopK(e: DataFrame, nQueries: Int = 8, k: Int = 10): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), quant(col("embedding")).as("qv"))
    val c = e.select(col("vec_id"), quant(col("embedding")).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .withColumn("cosine", cosineQ(col("qv"), col("cv")))
      .select(col("query_id"), col("vec_id"), col("cosine"),
        spark_partition_id().as("_pid"))
    val wLocal = Window.partitionBy(col("query_id"), col("_pid"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val survivors = scored
      .withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= k)
      .drop("_pid", "_lr")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    survivors.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  def bruteForceTopKSql(nQueries: Int = 8, k: Int = 10): String =
    s"""qv AS (SELECT vec_id AS query_id, $quantSql AS qv
       |       FROM embeddings WHERE vec_id < $nQueries),
       |cv AS (SELECT vec_id, $quantSql AS cv FROM embeddings),
       |scored AS (
       |  SELECT query_id, vec_id,
       |    ${cosineQSql("qv", "cv")} AS cosine
       |  FROM qv JOIN cv ON query_id != vec_id
       |)
       |SELECT query_id, vec_id, cosine, rank FROM (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k""".stripMargin

  // ---------- IVF coarse-quantized ANN ----------

  /** IVF(-flat) approximate nearest neighbour — the classic
    * inverted-file scale path: coarse-quantize the corpus into
    * `nCentroids` cells, probe only the `nprobe` cells nearest each
    * query, rank by exact cosine within the probed cells.
    *
    * Default centroids are DETERMINISTIC (the nCentroids lowest
    * vec_ids) so both engines derive the identical coarse quantizer
    * for the oracle compare; a production deployment passes spark.ml
    * KMeans cluster centers through `centroids` — same plan, real
    * quantizer, nCentroids ~ sqrt(N). `nprobe = nCentroids`
    * degenerates to exact brute force (asserted in EmbeddingOpsSpec).
    *
    * Scale: cell assignment is a broadcast nested-loop over the
    * centroid table followed by groupBy(vec_id) + min(struct(dist,
    * cent_id)) — an ordinary aggregate with MAP-SIDE PARTIAL
    * aggregation, so no per-vector window and no single hot partition
    * whatever N is. Only the nQueries probe rows (a handful) go
    * through a top-nprobe window. The per-query search then touches
    * ≈ nprobe/nCentroids of the corpus instead of all of it.
    */
  /** Shared IVF plumbing: quantized corpus `d`, per-vector cell
    * assignment, and per-query probe list — used by [[ivfTopK]] and
    * the [[ivfScanFraction]] diagnostic so both measure the SAME
    * quantizer/probe behavior. */
  private def ivfParts(e: DataFrame, nCentroids: Int, nprobe: Int,
                       nQueries: Int, centroids: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame) = {
    val d = e.select(col("vec_id"), quant(col("embedding")).as("v"))
    // centroid table: (cent_id:long, cv:array<double>) — caller-supplied
    // (e.g. KMeans centers, pre-quantized) or the deterministic default
    val cents = centroids.getOrElse(
      d.filter(col("vec_id") < nCentroids)
        .select(col("vec_id").as("cent_id"), col("v").as("cv")))
    // cell metric = NEGATED quantized cosine: the search ranks by
    // cosine, so the coarse quantizer must partition by DIRECTION —
    // L2 on unnormalized vectors splits same-direction vectors by
    // magnitude and recall collapses (measured at sf0.01: KMeans IVF
    // recall 0.625 under L2 assignment vs 0.9+ under cosine, at a
    // SMALLER scan fraction). Quantized (q4) like the ranking cosine,
    // so the oracle mirror reproduces the argmin bit-exactly. Norms
    // are precomputed ONCE per vector / per centroid (they're constant
    // across the crossJoin's N×nCentroids pairs); sqrt-once yields the
    // same IEEE double as sqrt-per-pair, so the argmin is unchanged.
    val dn = d.withColumn("_vn", sqrt(norm2(col("v"))))
    val cn = cents.withColumn("_cn", sqrt(norm2(col("cv"))))
    val dists = dn.crossJoin(broadcast(cn))
      .withColumn("dist", -q4(dot(col("v"), col("cv")) /
        greatest(col("_vn") * col("_cn"), lit(1.0e-12))))
      .drop("_vn", "_cn")
    // argmin per vector via min(struct): partial-aggregable, no window
    val cells = dists
      .groupBy(col("vec_id"), col("v"))
      .agg(min(struct(col("dist"), col("cent_id"))).as("_m"))
      .select(col("vec_id"), col("v"), col("_m.cent_id").as("cell"))
    // top-nprobe cells per QUERY only (nQueries rows — window is fine)
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("cent_id"))
    val probes = dists.filter(col("vec_id") < nQueries)
      .withColumn("rnk", row_number().over(wProbe))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cent_id").as("cell"))
    (d, cells, probes)
  }

  /** Diagnostic: average fraction of the corpus a query's probe set
    * actually scans — the WORK an IVF recall number trades against.
    * (A degenerate quantizer can post high recall simply because one
    * giant cell makes every probe near-brute-force; recall is only
    * meaningful next to this number.) */
  def ivfScanFraction(e: DataFrame, nCentroids: Int = 16, nprobe: Int = 4,
                      nQueries: Int = 8,
                      centroids: Option[DataFrame] = None): Double = {
    val (d, cells, probes) = ivfParts(e, nCentroids, nprobe, nQueries,
      centroids)
    val n = d.count().toDouble
    val sizes = cells.groupBy("cell").agg(count(lit(1)).as("sz"))
    val scanned = probes.join(sizes, "cell")
      .groupBy("query_id").agg(sum(col("sz")).as("scanned"))
      .agg(avg(col("scanned"))).head().getDouble(0)
    scanned / n
  }

  def ivfTopK(e: DataFrame, nCentroids: Int = 16, nprobe: Int = 4,
              nQueries: Int = 8, k: Int = 10,
              centroids: Option[DataFrame] = None): DataFrame = {
    val (d, cells, probes) = ivfParts(e, nCentroids, nprobe, nQueries,
      centroids)
    val qv = d.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = probes.join(cells, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(qv), "query_id")
      .withColumn("cosine", cosineQ(col("qv"), col("v")))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cosine", "rank")
  }

  def ivfTopKSql(nCentroids: Int = 16, nprobe: Int = 4,
                 nQueries: Int = 8, k: Int = 10): String = {
    // cell assignment by quantized cosine DESC — the Spark side's
    // negated-cosineQ argmin, mirrored (see ivfParts)
    val cosvc = cosineQSql("v", "cv")
    val cos = cosineQSql("qv", "v")
    s"""quantized AS (
       |  SELECT vec_id, $quantSql AS v FROM embeddings
       |),
       |cents AS (
       |  SELECT vec_id AS cent_id, v AS cv FROM quantized
       |  WHERE vec_id < $nCentroids
       |),
       |assign AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY ($cosvc) DESC, cent_id) AS rnk
       |  FROM quantized CROSS JOIN cents
       |),
       |cells AS (
       |  SELECT a.vec_id, q.v, a.cent_id AS cell
       |  FROM assign a JOIN quantized q ON a.vec_id = q.vec_id
       |  WHERE a.rnk = 1
       |),
       |probes AS (
       |  SELECT vec_id AS query_id, cent_id AS cell FROM assign
       |  WHERE vec_id < $nQueries AND rnk <= $nprobe
       |),
       |qvs AS (
       |  SELECT vec_id AS query_id, v AS qv FROM quantized
       |  WHERE vec_id < $nQueries
       |),
       |ivfscored AS (
       |  SELECT p.query_id, c.vec_id,
       |    $cos AS cosine
       |  FROM probes p
       |  JOIN cells c ON c.cell = p.cell AND c.vec_id != p.query_id
       |  JOIN qvs ON qvs.query_id = p.query_id
       |)
       |SELECT query_id, vec_id, cosine, rank FROM (
       |  SELECT query_id, vec_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine DESC, vec_id) AS INT) AS rank
       |  FROM ivfscored)
       |WHERE rank <= $k""".stripMargin
  }

  // ---------- product quantization (PQ / ADC) ----------

  /** Product-quantization ANN — the memory-compressed scale path next
    * to IVF: each quantized vector is split into `m` subvectors, each
    * encoded as the id of its nearest sub-codebook centroid, so the
    * corpus collapses to m small codes per vector (m bytes at k ≤ 256 —
    * 10^9 × 64-dim floats become 8 GB of codes). Queries score
    * candidates by ADC (asymmetric comparison): the query's EXACT
    * per-subspace dot products against the candidate's centroids,
    * assembled into cosine(query, reconstruction) — the same metric
    * the brute-force ground truth ranks by — never touching the
    * original corpus vectors. (Encoding stays per-subspace L2 argmin,
    * the reconstruction-error objective.)
    *
    * Shape (shared with the DuckDB mirror): one `subdists` relation
    * d(vector, subspace, centroid) = integer L2² — built by a
    * broadcast of the centroid table — feeds BOTH the encoder (argmin
    * per (vector, subspace), computed as grouped min + min-id-on-ties:
    * two partial-aggregable groupBys, no window) and the ADC lookup
    * (query rows of the same relation joined against corpus codes).
    * All distances are integer-valued (quantized vectors) — exact and
    * engine-portable.
    *
    * Codebooks are DETERMINISTIC for the oracle (subvectors of the
    * `k` lowest vec_ids); production injects per-subspace KMeans
    * centers through `codebooks` exactly like [[ivfTopK]]'s
    * `centroids`.
    */
  /** Shared PQ plumbing: the quantized corpus `d`, plus a builder for
    * the subdistance relation d(vector, subspace, centroid) against
    * the (default or caller-supplied) per-subspace codebooks — used
    * identically by [[pqTopK]] and [[pqReconstructionError]], so the
    * error metric always measures the same quantizer the search uses.
    */
  private def pqParts(e: DataFrame, m: Int, k: Int,
                      codebooks: Option[DataFrame])
      : (DataFrame, DataFrame => DataFrame) = {
    val d = e.select(col("vec_id"), quant(col("embedding")).as("v"))
    val subLen = (size(col("v")) / m).cast("int")
    val start = (col("m") * subLen + 1).cast("int")
    // per-subspace codebook table (m, cid, cvsub) — caller-supplied
    // (e.g. kmeansCodebooks: independent centers per subspace) or the
    // deterministic default: subvectors of the k lowest vec_ids
    val cbs = codebooks.getOrElse(
      d.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"),
          explode(sequence(lit(0), lit(m - 1))).as("m"), col("v"))
        .select(col("m"), col("cid"),
          slice(col("v"), start, subLen).as("cvsub")))
    // per (vector, subspace, centroid): L2² (the ENCODER's argmin
    // objective), the dot product, and the centroid's norm² — the
    // latter two let ADC rank by COSINE against the reconstruction
    // without touching original vectors. All three are sums of
    // products of integer-valued doubles for the deterministic
    // codebooks: exact, order-independent, engine-portable.
    def subdistsOf(vecs: DataFrame): DataFrame = vecs
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("m"), col("v"))
      .select(col("vec_id"), col("m"),
        slice(col("v"), start, subLen).as("vsub"))
      .join(broadcast(cbs), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"),
        aggregate(zip_with(col("vsub"), col("cvsub"),
          (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, x) => acc + x)
          .as("d"),
        aggregate(zip_with(col("vsub"), col("cvsub"),
          (x, y) => x * y), lit(0.0d), (acc, x) => acc + x).as("dot"),
        aggregate(col("cvsub"), lit(0.0d), (acc, x) => acc + x * x)
          .as("cn2"))
    (d, subdistsOf)
  }

  def pqTopK(e: DataFrame, m: Int = 8, k: Int = 16,
             nQueries: Int = 8, topK: Int = 10,
             codebooks: Option[DataFrame] = None): DataFrame = {
    val (d, subdistsOf) = pqParts(e, m, k, codebooks)
    // corpus-wide relation: consumed only by the encoder (checkpointed
    // because the encoder reads it twice); the QUERY rows are built
    // from the filtered query set separately — at 10^9 vectors you
    // never materialize N×m×k rows to extract nQueries of them (and in
    // a real deployment the codes themselves are the persisted table,
    // computed once at ingest)
    // encoder consumes ONLY the L2 column — project dot/cn2 away
    // before persisting the corpus-wide relation (at 10^9 vectors the
    // two unread doubles are terabytes of checkpoint)
    val subdists = subdistsOf(d)
      .select("vec_id", "m", "cid", "d").localCheckpoint()
    // encoder: argmin centroid per (vector, subspace), lowest cid wins
    // ties — grouped min then min-id, both partial-aggregable
    val dmin = subdists.groupBy("vec_id", "m").agg(min(col("d")).as("dm"))
    val codes = subdists
      .join(dmin, Seq("vec_id", "m"))
      .filter(col("d") === col("dm"))
      .groupBy("vec_id", "m").agg(min(col("cid")).as("code"))
    // ADC: query subdistance rows looked up by the candidate's code
    val qsub = subdistsOf(d.filter(col("vec_id") < nQueries))
      .select(col("vec_id").as("query_id"), col("m"),
        col("cid").as("code"), col("dot"), col("cn2"))
    // ADC ranks by asymmetric COSINE — cos(query, reconstruction) =
    // Σ_m dot(q_m, cb[m,code_m]) / (|q| · √Σ_m |cb[m,code_m]|²) — the
    // same metric the brute-force ground truth ranks by (pure-L2 ADC
    // on unnormalized vectors ranked by magnitude as much as
    // direction: recall 0.29 vs cosine ground truth at sf0.01).
    val qn = d.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        sqrt(norm2(col("v"))).as("qnorm"))
    val adc = codes
      .join(qsub, Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("dot")).as("_dots"), sum(col("cn2")).as("_rn2"))
      .join(broadcast(qn), "query_id")
      .withColumn("adc_cos", q4(col("_dots") /
        greatest(col("qnorm") * sqrt(col("_rn2")), lit(1.0e-12))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select("query_id", "vec_id", "adc_cos", "rank")
  }

  def pqTopKSql(m: Int = 8, k: Int = 16,
                nQueries: Int = 8, topK: Int = 10): String =
    s"""quantized AS MATERIALIZED (
       |  SELECT vec_id, $quantSql AS v FROM embeddings
       |),
       |pqcbs AS MATERIALIZED (
       |  SELECT vec_id AS cid, v AS cv FROM quantized WHERE vec_id < $k
       |),
       |subdists AS MATERIALIZED (
       |  SELECT q.vec_id, mm.m, c.cid,
       |    list_sum(list_transform(list_zip(
       |      q.v[mm.m * (length(q.v) // $m) + 1 :
       |          (mm.m + 1) * (length(q.v) // $m)],
       |      c.cv[mm.m * (length(c.cv) // $m) + 1 :
       |           (mm.m + 1) * (length(c.cv) // $m)]),
       |      p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
       |  FROM quantized q
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS m) mm
       |  CROSS JOIN pqcbs c
       |),
       |qsubd AS (
       |  SELECT q.vec_id, mm.m, c.cid,
       |    list_sum(list_transform(list_zip(
       |      q.v[mm.m * (length(q.v) // $m) + 1 :
       |          (mm.m + 1) * (length(q.v) // $m)],
       |      c.cv[mm.m * (length(c.cv) // $m) + 1 :
       |           (mm.m + 1) * (length(c.cv) // $m)]),
       |      p -> p[1] * p[2])) AS dot,
       |    list_sum(list_transform(
       |      c.cv[mm.m * (length(c.cv) // $m) + 1 :
       |           (mm.m + 1) * (length(c.cv) // $m)],
       |      x -> x * x)) AS cn2
       |  FROM quantized q
       |  CROSS JOIN (SELECT unnest(range(0, $m)) AS m) mm
       |  CROSS JOIN pqcbs c
       |  WHERE q.vec_id < $nQueries
       |),
       |pqdmin AS (
       |  SELECT vec_id, m, min(d) AS dm FROM subdists GROUP BY vec_id, m
       |),
       |pqcodes AS MATERIALIZED (
       |  SELECT s.vec_id, s.m, min(s.cid) AS code
       |  FROM subdists s JOIN pqdmin dm
       |    ON s.vec_id = dm.vec_id AND s.m = dm.m AND s.d = dm.dm
       |  GROUP BY s.vec_id, s.m
       |),
       |qnorms AS (
       |  SELECT vec_id AS query_id,
       |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm
       |  FROM quantized WHERE vec_id < $nQueries
       |),
       |pqadc AS (
       |  SELECT s.vec_id AS query_id, c.vec_id,
       |    floor(sum(s.dot) /
       |      greatest(any_value(qn.qnorm) * sqrt(sum(s.cn2)), 1e-12)
       |      * 10000.0) / 10000.0 AS adc_cos
       |  FROM pqcodes c JOIN qsubd s
       |    ON s.m = c.m AND s.cid = c.code
       |  JOIN qnorms qn ON qn.query_id = s.vec_id
       |  WHERE c.vec_id != s.vec_id
       |  GROUP BY s.vec_id, c.vec_id
       |)
       |SELECT query_id, vec_id, adc_cos, rank FROM (
       |  SELECT query_id, vec_id, adc_cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_cos DESC, vec_id) AS INT) AS rank
       |  FROM pqadc)
       |WHERE rank <= $topK""".stripMargin

  /** PQ reconstruction error — mean over the corpus of
    * Σ_subspaces L2²(subvector, assigned centroid): the quantization
    * loss a codebook achieves (and exactly the objective per-subspace
    * KMeans minimizes — the codebook-quality diagnostic). */
  def pqReconstructionError(e: DataFrame, m: Int = 8, k: Int = 16,
                            codebooks: Option[DataFrame] = None): Double = {
    val (d, subdistsOf) = pqParts(e, m, k, codebooks)
    subdistsOf(d)
      .groupBy("vec_id", "m").agg(min(col("d")).as("dm"))
      .groupBy("vec_id").agg(sum(col("dm")).as("err"))
      .agg(avg(col("err"))).head().getDouble(0)
  }

  // ---------- learned quantizers (spark.ml KMeans) ----------

  /** IVF centroid table from spark.ml KMeans over the quantized
    * vectors — the production coarse quantizer the deterministic
    * lowest-vec_id mode stands in for during oracle checks. Returns
    * (cent_id, cv) ready for [[ivfTopK]]'s `centroids`; cent_id is the
    * KMeans cluster index. (At 10^9+ vectors: fit on a seeded sample —
    * KMeans cost is per-point × k — and raise k ~ sqrt(N).)
    */
  def kmeansCentroids(e: DataFrame, k: Int, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = e.sparkSession
    import spark.implicits._
    // SPHERICAL k-means: fit on L2-normalized vectors so centroids
    // cluster DIRECTION, the quantity the cosine search partitions by
    // — Lloyd's on raw magnitudes drags centers toward long vectors
    // and the resulting cells cut across cosine neighborhoods. (Cell
    // assignment in ivfParts is cosine, which is norm-invariant, so
    // centroid scale is irrelevant downstream.)
    val feats = e.select(col("vec_id"), quant(col("embedding")).as("q"))
      .withColumn("_n", sqrt(norm2(col("q"))))
      .select(array_to_vector(transform(col("q"),
        x => x / greatest(col("_n"), lit(1.0e-12)))).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).fit(feats)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }.toSeq
      .toDF("cent_id", "cv")
  }

  /** Per-subspace PQ codebooks from spark.ml KMeans: one independent
    * k-center fit per subspace over the subvector slices. Returns
    * (m, cid, cvsub) for [[pqTopK]]'s `codebooks`.
    */
  def kmeansCodebooks(e: DataFrame, m: Int = 8, k: Int = 16,
                      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = e.sparkSession
    import spark.implicits._
    val d = e.select(quant(col("embedding")).as("v"))
    val subLen = (size(col("v")) / m).cast("int")
    val rows = (0 until m).flatMap { mm =>
      val sub = d.select(array_to_vector(
        slice(col("v"), (lit(mm) * subLen + 1).cast("int"), subLen))
        .as("features"))
      val model = new KMeans().setK(k).setSeed(seed + mm).fit(sub)
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (mm, i.toLong, c.toArray.toSeq)
      }
    }
    rows.toDF("m", "cid", "cvsub")
  }

  // ---------- random-hyperplane LSH ----------

  /** Planes per signature; split into [[LshBands]] bands (banding = OR
    * over bands, so one flipped bit cannot lose a true near-dup the
    * way a single monolithic signature would). */
  val LshBits = 16
  val LshBands = 2

  /** Per-band bucket cap: buckets larger than this are dropped before
    * in-bucket pair emission (the same deterministic frequency-cap
    * defense as blocking/minhash — without it a dense embedding region
    * makes one bucket quadratic at 10^9+ vectors). */
  val LshBucketCap = 200

  /** Deterministic ±1 random hyperplanes, derivable in BOTH engines:
    * sign(i, j) = +1 iff the first hex digit of md5("i:j") ≥ '8'.
    * Computed once driver-side here (literal arrays in the plan — no
    * per-row hashing) and inline via md5() in the DuckDB oracle.
    */
  private[emb] def planeSigns(bits: Int, dim: Int): Array[Array[Double]] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bits, dim) { (i, j) =>
      val h = digest.digest(s"$i:$j".getBytes("UTF-8"))
      // first hex digit = high nibble of byte 0
      if (((h(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
    }
  }

  /** Random-hyperplane sign-bit LSH with banding and bucket caps:
    * signature bit i = sign(⟨signs_i, v⟩) over the QUANTIZED vector
    * (integer dot products — exact, portable); `bits` planes split
    * into `bits/8` 8-bit band keys; every band's buckets become tagged
    * (band, bucket) keys of one [[graft.block.Blocking.groupedPairs]]
    * pipeline — per band, buckets over `bucketCap` are dropped — and
    * the candidates are verified with true cosine ≥ threshold. Members
    * carry their quantized vector, so the verify is a map-side
    * projection, not a join back to the vectors.
    *
    * Scale path for embedding near-dup: never all-pairs, never an
    * unbounded bucket. Recall on planted near-dups is asserted ≥ 0.9
    * against ground truth in EmbeddingOpsSpec.
    */
  def lshNearDup(e: DataFrame, bits: Int = LshBits,
                 threshold: Double = 0.2,
                 bucketCap: Int = LshBucketCap,
                 dim: Int = -1): DataFrame = {
    require(bits % 8 == 0, "bits must be a multiple of the 8-bit band size")
    // dim < 0 ⇒ derive from the data (one 1-row job). A wrong dim would
    // otherwise null-pad every zip_with projection and silently turn
    // every band bit into '0' — wrong results with no error — so any
    // row whose embedding disagrees with dim hard-fails via raise_error.
    // An EMPTY corpus has no dim to derive and no pairs to emit.
    val derived =
      if (dim > 0) Some(dim)
      else e.select(size(col("embedding"))).head(1).headOption
        .map(_.getInt(0))
    if (derived.isEmpty)
      return e.select(col("vec_id").as("id_l"), col("vec_id").as("id_r"),
        lit(0.0d).as("cosine")).limit(0)
    val d0 = derived.get
    val signs = planeSigns(bits, d0)
    val guarded = e.withColumn("embedding",
      when(size(col("embedding")) === d0, col("embedding"))
        .otherwise(raise_error(concat(
          lit(s"lshNearDup: embedding dim != $d0 for vec_id "),
          col("vec_id").cast("string")))))
    val proj = (i: Int) => aggregate(
      zip_with(col("v"), typedLit(signs(i).toSeq), (x, s) => x * s),
      lit(0.0d), (acc, x) => acc + x)
    val bitChar = (i: Int) =>
      when(proj(i) >= 0, lit("1")).otherwise(lit("0"))
    val nBands = bits / 8
    val bandKey = (b: Int) => concat((0 until 8).map(k => bitChar(b * 8 + k)): _*)
    val bandArr = array((0 until nBands).map(b =>
      struct(lit(b).as("band"), bandKey(b).as("bucket"))): _*)
    val banded = guarded
      .select(col("vec_id"), quant(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), inline(bandArr))
      .localCheckpoint() // signatures computed once, scanned twice
    graft.block.Blocking.groupedPairs(banded, Seq("band", "bucket"),
        struct(col("vec_id"), col("v")), bucketCap)
      .withColumn("cosine", cosineQ(col("v_l"), col("v_r")))
      .filter(col("cosine") >= threshold)
      .select("id_l", "id_r", "cosine")
  }

  def lshNearDupSql(bits: Int = LshBits, threshold: Double = 0.2,
                    bucketCap: Int = LshBucketCap, dim: Int = 64): String = {
    // same ±1 hyperplanes as planeSigns, emitted as LITERAL lists.
    // (The previous oracle derived each sign inline via md5() — 16×64
    // md5 calls PER ROW on the DuckDB side, which blew the driver's
    // correctness-check time budget. The plane matrix is a constant;
    // hash it once here, not once per row there.)
    val signs = planeSigns(bits, dim)
    def signsList(i: Int) =
      signs(i).map(s => if (s > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
    def bitChar(i: Int) =
      s"(CASE WHEN list_sum(list_transform(list_zip(v, ${signsList(i)}), " +
        s"p -> p[1] * p[2])) >= 0 THEN '1' ELSE '0' END)"
    val nBands = bits / 8
    def bandExpr(b: Int) =
      (0 until 8).map(k => bitChar(b * 8 + k)).mkString(" || ")
    val bandCols = (0 until nBands).map(b => s"${bandExpr(b)} AS band$b")
      .mkString(",\n    ")
    val bandCtes = (0 until nBands).map { b =>
      s"""cap$b AS (
         |  SELECT vec_id, band$b AS bucket FROM planes
         |  WHERE band$b IN (
         |    SELECT band$b FROM planes GROUP BY band$b
         |    HAVING count(*) <= $bucketCap)
         |)""".stripMargin
    }.mkString(",\n")
    val bandJoins = (0 until nBands).map { b =>
      s"""SELECT l.vec_id AS id_l, r.vec_id AS id_r
         |  FROM cap$b l JOIN cap$b r
         |  ON l.bucket = r.bucket AND l.vec_id < r.vec_id""".stripMargin
    }.mkString("\n  UNION\n  ")
    val cos = cosineQSql("a.v", "b.v")
    s"""quantized AS (
       |  SELECT vec_id, $quantSql AS v FROM embeddings
       |),
       |planes AS (
       |  SELECT vec_id, v,
       |    $bandCols
       |  FROM quantized
       |),
       |$bandCtes,
       |cand AS (
       |  $bandJoins
       |)
       |SELECT c.id_l, c.id_r, $cos AS cosine
       |FROM cand c
       |JOIN quantized a ON c.id_l = a.vec_id
       |JOIN quantized b ON c.id_r = b.vec_id
       |WHERE $cos >= $threshold""".stripMargin
  }
}
