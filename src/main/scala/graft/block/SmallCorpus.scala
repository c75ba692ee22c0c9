package graft.block

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** What "small" means for the blocking stages that can run in driver
  * memory ([[Learner]]'s stats and the budget loop of
  * [[graft.pipeline.Dedupe.budgetPairs]]): at most `MaxRows` rows and
  * `MaxChars` chars summed over the blocking attributes. The char sum
  * bounds a collected signature table without evaluating any scheme:
  * an attribute of length n has at most 3n + 8 signatures.
  *
  * Measured on 4 vCPUs: a corpus of 2.42M attribute chars learns in
  * 14 s on the driver vs 32–47 s in Spark batches, and the collected
  * signature table is about 53 bytes per char (52 MB at sf0.01), so
  * the bound leaves room in a 3 GB heap.
  */
private[graft] object SmallCorpus {
  val MaxRows = 200000L
  val MaxChars = 2000000L

  /** (rows, Σ chars of `attrs`) of `records` — one job, no exchange:
    * per-partition sums folded on the driver. */
  def volume(records: DataFrame, attrs: Seq[String]): (Long, Long) = {
    val chars = attrs.map(a => coalesce(length(col(a)).cast("long"), lit(0L)))
      .reduce(_ + _)
    records.select(chars).as(Encoders.scalaLong).rdd.aggregate((0L, 0L))(
      (v, c) => (v._1 + 1, v._2 + c), (a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Whether a corpus of this `volume` is small, with the char bound
    * `maxChars` (a test seam may pass -1 to rule every corpus out). */
  def fits(volume: (Long, Long), maxChars: Long = MaxChars): Boolean =
    volume._1 <= MaxRows && volume._2 <= maxChars
}
