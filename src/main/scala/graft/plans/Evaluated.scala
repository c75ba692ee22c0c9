package graft.plans

import org.apache.spark.sql.DataFrame

/** One evaluation shared by several consumers, with no storage pinned.
  *
  * A lazy frame that two actions (or two branches of one plan) read is
  * planned and executed once per reader: each reader re-runs its
  * shuffle stages, broadcasts and scans. `cache()` / `localCheckpoint`
  * avoid that by registering storage blocks that someone must release.
  *
  * `once` instead wraps the frame's executed RDD in a new DataFrame
  * (`createDataFrame(df.rdd, df.schema)`). Every reader of the result
  * runs that one RDD, so its shuffle dependencies are shared: the map
  * stages run once (under AQE, when `df.rdd` is taken) and later jobs
  * skip them and re-run only the final stage over the stored map
  * output. No block is persisted, so there is nothing to release.
  *
  * The result has no size estimate (a `LogicalRDD` reports the default
  * size, no row count), so the planner does not broadcast it by
  * statistics alone; AQE still re-plans joins from runtime sizes.
  */
object Evaluated {

  def once(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.rdd, df.schema)
}
