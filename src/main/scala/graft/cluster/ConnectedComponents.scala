package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Checkpoints.release
import graft.plans.Evaluated

/** Connected components over an edge DataFrame — replaces the
  * reference's driver-memory networkx clustering
  * (oagdedupe cluster/cluster.py:45-81), which cannot hold 10^10-node
  * graphs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) expressed
  * as DataFrame self-joins + aggregations:
  *
  *   large-star: every node points its LARGER neighbors at the minimum
  *               of its neighborhood (incl. itself);
  *   small-star: every node points its smaller neighbors (and itself)
  *               at the minimum of its smaller neighborhood.
  *
  * Converges in O(log n) rounds; each round is two shuffles on node id.
  * Per-superstep the edge set is localCheckpoint'ed (lineage cut —
  * iterative joins otherwise stack exponentially growing plans) and
  * convergence is detected by an order-insensitive (count, xor-of-hash)
  * fingerprint — one tiny agg per round, the "convergence checkpointed
  * per superstep" demanded by the north rule. A superstep's checkpoint
  * is released as soon as the next one is fingerprinted.
  *
  * Two paths, chosen by one bounded read of the normalized edge set:
  *   - driver (at most [[EdgesPerPartition]] edges, string / long / int
  *     ids): [[DriverStars]] runs the same rounds over the read rows in
  *     driver memory — same `(id, component)` rows, same superstep
  *     trail, no per-round Spark job;
  *   - distributed: the superstep loop below, for graphs that do not
  *     fit the driver.
  * With `GRAFT_VERBOSE=1` each run logs its path, edge count and
  * rounds as one `[cc]` line.
  */
object ConnectedComponents {

  final case class Superstep(round: Int, edges: Long, fingerprint: Long)

  /** Target edges per shuffle partition during the iteration. Each
    * superstep is ~6 exchanges; sizing partitions to the LIVE edge
    * count (known free from the convergence fingerprint) keeps a
    * 10^10-edge graph at thousands of partitions while a thresholded
    * 10^4-edge graph collapses to a handful — without this, a small
    * graph pays cpus×4 near-empty tasks per exchange per round, and
    * scheduling overhead DOMINATES (measured: q13 at sf0.1 took 46 s
    * at local[32]/128 partitions vs 19 s at local[8]/32 — more cores
    * made it slower).
    *
    * Also the driver-path threshold: at or below it every exchange of
    * the distributed loop already runs at width 1, i.e. on one core,
    * so running the rounds in driver memory gives up no parallelism
    * and drops only the per-round jobs and barriers. */
  val EdgesPerPartition = 200000L

  /** Rounds after which a run that has not converged fails. */
  private[cluster] val MaxRounds = 50

  /** @param edges DataFrame with columns (id_l, id_r); ids any orderable
    *              atomic type (string conv_ids or long indices).
    * @return (id, component) where component = min member id, plus the
    *         supersteps metric trail.
    *
    * Registration: a driver-path run leaves no storage registered (its
    * result is a local frame). A distributed run leaves its final
    * round's checkpoint registered, because the returned frame reads
    * it lazily; nothing releases it but the ContextCleaner.
    */
  def run(edges: DataFrame): (DataFrame, Seq[Superstep]) =
    runWith(edges, driverThreshold = EdgesPerPartition)

  /** [[run]] with the driver/distributed choice exposed: a normalized
    * edge set of at most `driverThreshold` edges runs on the driver,
    * a larger one on the distributed loop (`-1` forces the loop). */
  private[cluster] def runWith(edges: DataFrame, driverThreshold: Long)
      : (DataFrame, Seq[Superstep]) = {
    // normalize once: undirected, canonical a<b, deduped — evaluated
    // once with no storage pinned, so the bounded read and the loop
    // share its shuffle output and the caller's plan is not re-derived
    val e0 = Evaluated.once(edges
      .select(col("id_l").as("a"), col("id_r").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct())
    val idType = e0.schema("a").dataType
    // one bounded read picks the path: at most driverThreshold + 1 rows
    // ever reach the driver, and a read that stops short of that is
    // the whole edge set
    val small =
      if (driverThreshold < 0 || !DriverStars.supports(idType)) None
      else Some(e0.limit(Math.toIntExact(driverThreshold + 1)).collect())
        .filter(_.length <= driverThreshold)
    val (path, (members, steps)) = small match {
      case Some(rows) =>
        "driver" -> DriverStars.run(rows, idType, e0.sparkSession)
      case None => "distributed" -> loop(e0)
    }
    graft.Verbose.log("cc")(
      s"path=$path edges=${steps.head.edges} rounds=${steps.size - 1}")
    (members, steps)
  }

  /** The alternating large-star/small-star loop over a normalized
    * (undirected, canonical, deduped) edge set. Each round's star
    * width comes from the live edge count (see [[EdgesPerPartition]]),
    * capped at the session's shuffle width, and is passed to the stars
    * as explicit repartition widths — the session conf is read, never
    * set, so concurrent queries on the same session keep their own
    * shuffle width. */
  private def loop(e0: DataFrame): (DataFrame, Seq[Superstep]) = {
    val outerPartitions =
      e0.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong
    // LAZY checkpoints: every materialized edge set is immediately
    // fingerprinted, and that aggregation is the action that computes
    // the checkpoint's final stage and stores its blocks. Under AQE
    // `localCheckpoint(eager = false)` is not free: taking the plan's
    // RDD runs the superstep's shuffle stages at call time, in their
    // own SQL execution (6–7 jobs per superstep on a 100-edge graph), and
    // the fingerprint then runs only the final stage. The eager form
    // would run that final stage twice (materialization job AND
    // fingerprint job). Graphs small enough for those per-superstep
    // jobs and barriers to be the whole cost take the driver path.
    // Tried and dropped: folding the fingerprint into an eager
    // checkpoint with `Dataset.observe` cut attach_batch from 8 to 5
    // SQL executions and 43 to 40 jobs, but CC wall time stayed the
    // same (2.95 vs 2.92 s).
    def materialize(df: DataFrame): DataFrame =
      df.localCheckpoint(eager = false)
    var e = materialize(e0)
    var fp = fingerprint(e)
    val steps =
      scala.collection.mutable.ArrayBuffer(Superstep(0, fp._1, fp._2))
    var round = 0
    var converged = false
    while (!converged && round < MaxRounds) {
      round += 1
      val width = math.max(1L,
        math.min(outerPartitions, fp._1 / EdgesPerPartition + 1)).toInt
      val next = materialize(smallStar(largeStar(e, width), width))
      val nfp = fingerprint(next)
      release(e) // superseded: `next` is computed and checkpointed
      converged = nfp == fp
      fp = nfp
      e = next
      steps += Superstep(round, fp._1, fp._2)
    }
    require(converged, s"CC did not converge in $MaxRounds rounds")

    // converged edge set is a star: (member, root). Roots appear only on
    // the right; add them as their own component members.
    val members = e.select(col("b").as("id"), col("b").as("component"))
      .unionByName(e.select(col("a").as("id"), col("b").as("component")))
      .distinct()
    (members, steps.toSeq)
  }

  /** Large-star: for each node u, link every strictly larger neighbor to
    * min(N(u) ∪ u). Output is NOT deduped here: the only consumer is
    * [[smallStar]], whose orientation step starts with a `distinct()`
    * and whose min-aggregation is duplicate-insensitive — the former
    * trailing `distinct()` was a full extra exchange per superstep for
    * rows the next operator dedupes anyway (guide §2.4).
    */
  private def largeStar(e: DataFrame, width: Int): DataFrame = {
    // one explicit exchange on the star key: the min-aggregation AND
    // the sym⋈m join both cluster by `a`, so hash-partitioning sym once
    // serves both (guide §2.4 "two operations keyed the same way can
    // share one exchange"; the repartition subtree is identical in both
    // consumers, so ReuseExchange shuffles it once)
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .repartition(width, col("a"))
    val m = sym.groupBy(col("a"))
      .agg(min(col("b")).as("_mn"))
      .select(col("a"), least(col("a"), col("_mn")).as("m"))
    sym.join(m, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Small-star: orient edges large→small; link all smaller neighbors
    * (and u itself) to the minimum.
    */
  private def smallStar(e: DataFrame, width: Int): DataFrame = {
    // same shared-exchange shape as [[largeStar]]: partitioning by `u`
    // satisfies the (u, v) distinct, the min-aggregation and the join,
    // so the orientation shuffles once; the only other exchange is the
    // final (a, b) distinct that the convergence fingerprint requires
    // (the fingerprint is a multiset hash — dup rows would break the
    // converged-set comparison)
    val oriented = e
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .repartition(width, col("u"))
      .distinct()
    val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
    oriented.join(m, "u")
      .select(col("v").as("a"), col("m").as("b"))
      .unionByName(m.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b"))
      .distinct()
  }

  /** Order-insensitive edge-set fingerprint: (count, xor of row hashes)
    * — collision-safe enough for a convergence check, one aggregation.
    */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("c"),
      coalesce(bit_xor(xxhash64(col("a"), col("b"))), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** DuckDB oracle: transitive-closure min-propagation via recursive CTE
    * over a CTE named `edges(id_l, id_r)` — fine at oracle scale, the
    * Spark path above is the scale path.
    */
  def oracleSql: String =
    """sym AS (
      |  SELECT id_l AS u, id_r AS v FROM edges
      |  UNION SELECT id_r, id_l FROM edges
      |),
      |walk(u, c) AS (
      |  SELECT u, u FROM sym
      |  UNION
      |  SELECT s.u, w.c FROM sym s JOIN walk w ON s.v = w.u
      |)
      |SELECT u AS id, min(c) AS component FROM walk GROUP BY u""".stripMargin
}
