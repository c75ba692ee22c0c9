package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pair hydration + distance vectorization (reference J4 + M1:
  * oagdedupe db/postgres/orm.py:26-96). Pairs are joined back to the
  * records twice (aliased l/r) — no in-place UPDATE, just two joins the
  * optimizer plans as broadcast or sort-merge depending on sizes — and
  * each configured attribute becomes a similarity column named after
  * the attribute (reference `{attr}` float columns, tables.py:249-265).
  *
  * Similarity per attribute: Jaro-Winkler (reference's metric) for the
  * short attributes; full_text additionally gets normalized Levenshtein
  * + token Jaccard (north star: "batched Jaro-Winkler/Levenshtein/
  * TF-IDF-cosine similarity vectors").
  *
  * Scale note: the two hydration joins shuffle pairs by id — at
  * 10^12-turn scale records are the big side, pairs the (relatively)
  * small side; AQE picks the join shape. All similarity expressions are
  * codegen'd (JaroWinklerExpr implements doGenCode; the rest are
  * builtins), so the whole distance stage is one WholeStageCodegen pass.
  */
object Distances {

  /** J4: attach `{attr}_l` / `{attr}_r` value columns to pairs.
    *
    * Join strategy (guide §3.1): when the records side is estimated
    * small enough to broadcast AND the pair side is not the smaller
    * relation, both aliased record projections are broadcast — the
    * pair payload then never shuffles through hydration (0 Exchange
    * instead of 3: pairs-by-id_l, result-by-id_r, plus the records
    * side twice). When records are the big side (cluster scale, or a
    * tiny labeled pair set), the hint is omitted and the planner
    * broadcasts the pair side / falls back to sort-merge exactly as
    * before. The gate is parameterised (SPARK_GRAFT_HYDRATE_BROADCAST_MB,
    * default 512 — well under the 8 GB broadcast cap; 0 disables) so a
    * cluster deployment can size it to executor memory.
    */
  def hydrate(pairs: DataFrame, records: DataFrame, attrs: Seq[String],
              idCol: String = "conv_id"): DataFrame = {
    val l = records.select((col(idCol).as("id_l") +:
      attrs.map(a => col(a).as(s"${a}_l"))): _*)
    val r = records.select((col(idCol).as("id_r") +:
      attrs.map(a => col(a).as(s"${a}_r"))): _*)
    val (lj, rj) =
      if (broadcastRecordsSide(pairs, records)) (broadcast(l), broadcast(r))
      else (l, r)
    pairs.join(lj, "id_l").join(rj, "id_r")
  }

  /** Records-side broadcast gate for [[hydrate]] — plan-statistics
    * only, no extra Spark action: records must be estimated under the
    * (parameterised) byte budget, and a pair side that is CREDIBLY the
    * smaller relation keeps its pairs-side broadcast (a small labeled
    * pair set must not force a records broadcast the planner would
    * beat). "Credibly" matters: a checkpointed pair set's LogicalRDD
    * carries the PRE-checkpoint estimate with no row count — at the
    * bench SF it reports 18 MB for what is really ~600 MB of 15M pair
    * rows, which silently kept the sort-merge path. A size estimate
    * with no rowCount is therefore not trusted to veto the records
    * broadcast: broadcasting a ≤budget records side is always bounded
    * (the asymmetric-risk direction), while trusting a phantom small
    * pair side costs three corpus-scale exchanges. A false negative
    * keeps the old plan; a false positive is bounded by the byte
    * budget. */
  private def broadcastRecordsSide(pairs: DataFrame,
                                   records: DataFrame): Boolean = {
    val mb = sys.env.getOrElse("SPARK_GRAFT_HYDRATE_BROADCAST_MB", "512")
      .toLong
    if (mb <= 0) return false
    val rSize = records.queryExecution.optimizedPlan.stats.sizeInBytes
    val pStats = pairs.queryExecution.optimizedPlan.stats
    val pairsCrediblySmaller =
      pStats.rowCount.isDefined && pStats.sizeInBytes < rSize
    rSize <= BigInt(mb) * 1024 * 1024 && !pairsCrediblySmaller
  }

  /** One configured similarity feature: `metric` over `attr`, emitted
    * as column `as` (defaults to `{metric}_{attr}` — the reference's
    * runtime-config attribute columns, settings.py:77 +
    * tables.py:249-265). */
  final case class AttrSim(attr: String, metric: String,
                           as: Option[String] = None) {
    def colName: String = as.getOrElse(s"${metric}_$attr")

    /** raw (unquantized) `metric` over hydrated `{attr}_l` / `{attr}_r`. */
    def similarity: Column =
      metricCol(metric, col(s"${attr}_l"), col(s"${attr}_r"))
  }

  /** Distance-metric menu (the pg_similarity family the reference
    * documents, docs distance.md — all 17): `metricMenu` holds the 14
    * metrics with a scalar DuckDB SQL mirror (oracle-checked in q37);
    * `alignmentMenu` holds the 3 O(n·m) alignment DPs (codegen'd
    * Catalyst expressions, golden-tested in AlignmentSpec AND
    * oracle-checked in q49 via OracleSql.alignmentOracle's
    * anti-diagonal recursive-CTE DP — no scalar metricSql form). */
  val metricMenu: Seq[String] =
    Seq("jw", "jaro", "lev", "jaccard", "dice", "overlap", "cosine",
      "hamming", "monge_elkan", "matching", "l1", "euclidean", "qgram",
      "soundex")

  val alignmentMenu: Seq[String] = Seq("nw", "sw", "swg")

  /** full 17-metric menu (reference docs/source/userguide/distance.md). */
  val fullMenu: Seq[String] = metricMenu ++ alignmentMenu

  def metricCol(metric: String, l: Column, r: Column): Column =
    metric match {
      case "jw" => Similarity.jw(l, r)
      case "jaro" => Similarity.jaroSim(l, r)
      case "lev" => Similarity.levSim(l, r)
      case "jaccard" => Similarity.tokenJaccard(l, r)
      case "dice" => Similarity.tokenDice(l, r)
      case "overlap" => Similarity.tokenOverlap(l, r)
      case "cosine" => Similarity.tokenCosine(l, r)
      case "hamming" => Similarity.hammingSim(l, r)
      case "monge_elkan" => Similarity.mongeElkan(l, r)
      case "matching" => Similarity.tokenMatching(l, r)
      case "l1" => Similarity.l1Sim(l, r)
      case "euclidean" => Similarity.euclideanSim(l, r)
      case "qgram" => Similarity.qgramSim(l, r)
      case "soundex" => Similarity.soundexSim(l, r)
      case "nw" => Alignment.nw(l, r)
      case "sw" => Alignment.sw(l, r)
      case "swg" => Alignment.swg(l, r)
      case m => throw new IllegalArgumentException(s"unknown metric $m")
    }

  def metricSql(metric: String, a: String, b: String): String =
    metric match {
      case "jw" => Similarity.jwSql(a, b)
      case "jaro" => Similarity.jaroSimSql(a, b)
      case "lev" => Similarity.levSimSql(a, b)
      case "jaccard" => Similarity.tokenJaccardSql(a, b)
      case "dice" => Similarity.tokenDiceSql(a, b)
      case "overlap" => Similarity.tokenOverlapSql(a, b)
      case "cosine" => Similarity.tokenCosineSql(a, b)
      case "hamming" => Similarity.hammingSimSql(a, b)
      case "monge_elkan" => Similarity.mongeElkanSql(a, b)
      case "matching" => Similarity.tokenMatchingSql(a, b)
      case "l1" => Similarity.l1SimSql(a, b)
      case "euclidean" => Similarity.euclideanSimSql(a, b)
      case "qgram" => Similarity.qgramSimSql(a, b)
      case "soundex" => Similarity.soundexSimSql(a, b)
      case m => throw new IllegalArgumentException(
        s"metric $m has no DuckDB mirror")
    }

  /** The default plan — the north star's similarity vector, with the
    * column names the oracle queries and bench use. */
  val defaultPlan: Seq[AttrSim] = Seq(
    AttrSim("head_text", "jw", Some("jw_head")),
    AttrSim("role_seq", "jw", Some("jw_role")),
    AttrSim("full_text", "jw", Some("jw_full")),
    AttrSim("full_text", "lev", Some("lev_full")),
    AttrSim("full_text", "jaccard", Some("jac_full")))

  /** Full feature vector for the match classifier. */
  val featureCols: Seq[String] = defaultPlan.map(_.colName)

  /** attributes used by the feature vector. */
  val featureAttrs: Seq[String] = Seq("head_text", "full_text", "role_seq")

  /** Config-driven feature vectorization: hydrate the distinct
    * attributes once, emit one quantized similarity column per plan
    * entry — still a single map-only WholeStageCodegen pass after the
    * hydration joins, whatever the plan says.
    */
  def featuresFor(pairs: DataFrame, records: DataFrame,
                  plan: Seq[AttrSim],
                  idCol: String = "conv_id"): DataFrame =
    featureColumns(
      hydrate(pairs, records, plan.map(_.attr).distinct, idCol), plan)

  def features(pairs: DataFrame, records: DataFrame,
               idCol: String = "conv_id"): DataFrame =
    featuresFromHydrated(hydrate(pairs, records, featureAttrs, idCol))

  /** similarity kernel over already-hydrated pairs — map-only (no
    * shuffle), stays in one WholeStageCodegen pass. */
  def featuresFromHydrated(h: DataFrame): DataFrame =
    featureColumns(h, defaultPlan)

  /** `id_l`, `id_r` and one quantized similarity column per plan entry.
    * Each feature is quantized via floor(x·10⁴)/10⁴ — IEEE-exact in both
    * engines (unlike decimal round(), whose half-tie handling differs
    * between Spark and DuckDB), so identical raw doubles quantize
    * identically. `more` columns follow the plan's. */
  private[sim] def featureColumns(h: DataFrame, plan: Seq[AttrSim],
                                  more: Column*): DataFrame =
    h.select((col("id_l") +: col("id_r") +:
      plan.map(f => q4(f.similarity).as(f.colName))) ++ more: _*)

  /** floor-quantization to 4 digits (exact double ops, engine-portable). */
  def q4(c: Column): Column =
    floor(c * lit(10000.0)) / lit(10000.0)

  /** Deterministic rule score: mean of the feature vector — the
    * SQL-mirrorable scoring path (the spark.ml classifier is the
    * learned path; both feed the same 0.8 threshold,
    * cluster/cluster.py:24).
    */
  def ruleScore(featured: DataFrame): DataFrame =
    featured.withColumn("score",
      q4(featureCols.map(col).reduce(_ + _) / featureCols.size.toDouble))
}
