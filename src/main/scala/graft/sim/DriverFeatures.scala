package graft.sim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** A small corpus's feature attributes and TF-IDF weights in driver
  * memory: the featurizer behind both pair sets of
  * [[graft.pipeline.Dedupe]], the `features` stage's candidate pairs and
  * the classifier's labeled pairs. One collect of `(conv_id, feature
  * attributes)` serves every call.
  *
  * A call reads its pair set once, bounded at [[PairBound]] + 1 rows. A
  * read within the bound is hydrated here and becomes a local frame to
  * which the feature expressions of [[Distances.featuresFor]] and the
  * cosine expression of [[TfIdf.cosineWith]] are applied, so the kernels
  * are the same Catalyst expressions on both paths. A larger pair set
  * takes the Spark plans, which compute the weights again in Spark
  * (only the candidate pairs get that large, so once per run).
  *
  * Equality with the Spark plans rests on three rules, for pair sets
  * without repeated rows (as the candidate and the labeled pairs are:
  * the Spark cosine sums a repeated pair's dot product once per copy).
  *   - Hydration has inner-join semantics: a pair with a null id or an id
  *     missing from the records is dropped, and an id on k record rows
  *     yields k rows.
  *   - The weights follow [[TfIdf.weights]]: tokens split on " " without
  *     "", tf per (id, token) over all of an id's rows, df the count of
  *     distinct non-null ids, a token kept when df ≤ `TfIdf.DefaultMaxDf`
  *     and 2·df ≤ n, idf = floor((ln((n+1)/(df+1)) + 1)·4096) with
  *     `StrictMath.log` as Spark's `log`.
  *   - Weights are integer-valued doubles, so the dot products and the
  *     squared norms are exact sums in any order.
  */
private[graft] final class DriverFeatures private (
    records: DataFrame,
    plan: Seq[Distances.AttrSim],
    attrs: Seq[StructField],
    byId: Map[Any, Array[Array[Any]]],
    weights: Map[Any, DriverFeatures.Weights],
    idType: DataType,
    volume: (Long, Long)) {
  import DriverFeatures._

  private val keys = Seq("id_l", "id_r")

  /** `(id_l, id_r, one column per plan entry, tfidf_cos)` of each pair of
    * `p`, followed by `p`'s other columns, as [[sparkFeatures]] returns
    * them. */
  def featurize(p: DataFrame): DataFrame = {
    val typed = keys.forall(k => p.schema(k).dataType == idType)
    val read = if (!typed) None
      else Some(p.limit(PairBound + 1).collect()).filter(_.length <= PairBound)
    log(if (read.isDefined) "driver" else "spark", volume,
      read.fold(if (typed) s">$PairBound" else "unread")(_.length.toString))
    read.fold {
      val (w, norms) = TfIdf.weights(records, "conv_id", "full_text",
        TfIdf.DefaultMaxDf, Some(volume._1))
      sparkFeatures(p, records, plan, w, norms)
    }(local(p.schema, _))
  }

  private def local(schema: StructType, pairs: Array[Row]): DataFrame = {
    val (il, ir) = (schema.fieldIndex("id_l"), schema.fieldIndex("id_r"))
    val carried = schema.fields.indices.filterNot(i => i == il || i == ir)
    val rows = new java.util.ArrayList[Row]()
    for (p <- pairs; (l, r) = (p.get(il), p.get(ir));
         ls <- byId.get(l); rs <- byId.get(r)) {
      val (wl, wr) =
        (weights.getOrElse(l, NoWeights), weights.getOrElse(r, NoWeights))
      val cos = Seq(wl.dot(wr), wl.norm, wr.norm)
      for (a <- ls; b <- rs)
        rows.add(Row.fromSeq(Seq(l, r) ++ a ++ b ++ cos ++ carried.map(p.get)))
    }
    val ids = keys.map(k => StructField(k, idType, nullable = false))
    val hydrated = StructType(ids ++
      attrs.map(f => f.copy(name = f.name + "_l")) ++
      attrs.map(f => f.copy(name = f.name + "_r")) ++
      Seq("_dot", "_n_l", "_n_r").map(StructField(_, DoubleType,
        nullable = false)) ++
      carried.map(schema.fields))
    val h = records.sparkSession.createDataFrame(rows, hydrated)
    Distances.featureColumns(h, plan, (TfIdf.cosineOf(col("_dot"),
      col("_n_l"), col("_n_r")).as("tfidf_cos") +:
      carried.map(i => col(schema.fields(i).name))): _*)
  }
}

private[graft] object DriverFeatures {

  /** The most pairs one call hydrates on the driver, where the feature
    * expressions run single-threaded and interpreted. Measured on 4 vCPUs
    * at sf0.001 (1,620 rows), featurize plus its parquet write, medians
    * of 4–6 runs in alternating JVMs: the driver takes 3.3, 3.4 and
    * 4.0 s for 60k, 80k and 100k pairs, the Spark plans with their own
    * weights (the path over this bound) 4.5, 4.1 and 4.4 s. Against
    * Spark plans over weights cached beforehand the driver is faster at
    * 30k pairs (1.7 vs 2.8 s) and slower from about 120k (4.7 vs 4.0 s;
    * 200k: 7.1 vs 6.6 s). Peak old-generation heap on the driver path is
    * 0.2–0.55 GB at 100k pairs, below the Spark plans' 1.7 GB in the
    * same local JVM. */
  private[graft] val PairBound = 100000

  /** `p`'s features in Spark: [[Distances.featuresFor]] joined with
    * [[TfIdf.cosineWith]] over the weight relations `w` and `norms`, and
    * `p`'s columns other than the ids joined back on them. */
  def sparkFeatures(p: DataFrame, records: DataFrame,
                    plan: Seq[Distances.AttrSim], w: DataFrame,
                    norms: DataFrame): DataFrame = {
    val keys = Seq("id_l", "id_r")
    val ids = p.select(keys.map(col): _*)
    val f = Distances.featuresFor(ids, records, plan)
      .join(TfIdf.cosineWith(ids, w, norms), keys)
    if (p.columns.toSeq == keys) f else f.join(p, keys)
  }

  /** The attributes whose chars decide, by `DriverBlocks.small`, whether
    * a corpus is featurized here: the plan's and `full_text`, which
    * TF-IDF tokenizes. */
  def attributes(plan: Seq[Distances.AttrSim]): Seq[String] =
    (plan.map(_.attr) :+ "full_text").distinct

  /** One `[features]` line: the path a featurize call took, the corpus
    * volume and the pairs it read (`unread` when it read none). */
  def log(path: String, volume: (Long, Long), pairs: String): Unit =
    graft.Verbose.log("features")(
      s"path=$path rows=${volume._1} chars=${volume._2} pairs=$pairs")

  /** One id's token codes, ascending, their weights and its norm (an id
    * without weights has norm 0.0, as the plan's coalesced left join). */
  private final case class Weights(tokens: Array[Int], w: Array[Double],
                                   norm: Double) {
    def dot(o: Weights): Double = {
      var (i, j, s) = (0, 0, 0.0)
      while (i < tokens.length && j < o.tokens.length) {
        val c = Integer.compare(tokens(i), o.tokens(j))
        if (c == 0) { s += w(i) * o.w(j); i += 1; j += 1 }
        else if (c < 0) i += 1
        else j += 1
      }
      s
    }
  }
  private val NoWeights = Weights(Array.emptyIntArray, Array.emptyDoubleArray,
    0.0)

  /** The featurizer of `records` (of `volume`, rows and chars of
    * [[attributes]], small by `DriverBlocks.small`) for `plan`,
    * after one collect of `(conv_id, feature attributes, full_text)`. */
  def apply(records: DataFrame, plan: Seq[Distances.AttrSim],
            volume: (Long, Long)): DriverFeatures = {
    val attrs = plan.map(_.attr).distinct
    val read = attributes(plan)
    val table = records.select(col("conv_id") +: read.map(col): _*).collect()
    val text = read.indexOf("full_text") + 1
    val at = attrs.map(read.indexOf(_) + 1)
    val byId = table.filter(!_.isNullAt(0)).groupBy(_.get(0))
      .map { case (id, rs) => id -> rs.map(r => at.map(r.get).toArray) }
    // tf per (id, token) over all of an id's rows; df per token
    val dict = mutable.HashMap.empty[String, Int]
    val tf = byId.keys.map(_ -> mutable.LongMap.empty[Double]).toMap
    table.filter(r => !r.isNullAt(0) && !r.isNullAt(text)).foreach { r =>
      val counts = tf(r.get(0))
      r.getString(text).split(" ").iterator.filter(_.nonEmpty).foreach { t =>
        val code = dict.getOrElseUpdate(t, dict.size)
        counts(code) = counts.getOrElse(code, 0.0) + 1.0
      }
    }
    val df = new Array[Long](dict.size)
    tf.values.foreach(_.keys.foreach(c => df(c.toInt) += 1))
    val n = volume._1.toDouble
    val idf = df.map(d =>
      if (d <= TfIdf.DefaultMaxDf && d * 2.0 <= n)
        math.floor((StrictMath.log((n + 1.0) / (d + 1.0)) + 1.0) * 4096.0)
          .toLong.toDouble
      else Double.NaN)
    val weights = tf.flatMap { case (id, counts) =>
      val kept = counts.keys.map(_.toInt).filter(c => !idf(c).isNaN)
        .toArray.sorted
      val w = kept.map(c => counts(c.toLong) * idf(c))
      if (kept.isEmpty) None
      else Some(id -> Weights(kept, w, math.sqrt(w.map(x => x * x).sum)))
    }
    new DriverFeatures(records, plan, attrs.map(records.schema(_)), byId,
      weights, records.schema("conv_id").dataType, volume)
  }
}
