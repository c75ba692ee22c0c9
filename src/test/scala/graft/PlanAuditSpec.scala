package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.normalize.Normalize
import graft.sim.Distances
import graft.synth.Transcripts

/** Executable plan audits — the `.explain`-and-iterate claims in
  * SCALE.md/BENCH.md pinned as regression tests so a future change
  * that breaks a plan shape fails CI, not a benchmark run.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("parquet scan prunes to the selected columns (ReadSchema)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-plan").toString + "/records"
    Normalize.normalize(Transcripts.transcripts(spark, sfDir))
      .write.parquet(dir)
    val plan = spark.read.parquet(dir)
      .select("conv_id", "n_turns")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<conv_id:string,n_turns:int>"),
      s"projection did not reach the scan:\n$plan")
  }

  test("similarity scoring over hydrated pairs is map-only (no Exchange)") {
    import spark.implicits._
    val recs = Seq(
      ("a", "alpha beta", "u a", "alpha beta gamma"),
      ("b", "alpha bets", "u t", "alpha bets gamma"))
      .toDF("conv_id", "head_text", "role_seq", "full_text")
    val hydrated = Distances.hydrate(
      Seq(("a", "b")).toDF("id_l", "id_r"), recs, Distances.featureAttrs)
      .localCheckpoint()
    val plan = Distances.featuresFromHydrated(hydrated)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"scoring kernel introduced a shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"scoring kernel fell out of codegen into a UDF:\n$plan")
  }

  test("capped candidate self-join plans without a cartesian product") {
    val recs = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
    val plan = graft.block.Blocking.candidatePairs(recs,
      Seq(graft.block.BoundScheme(graft.block.FirstNChars(8), "head_text")),
      "conv_id", 100)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"blocking self-join degenerated to a cartesian:\n$plan")
  }

  test("candidate-pair generators join only through the cap left_semi " +
    "(no self-join, no per-band join)") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.block.{Blocking, BoundScheme, FirstNChars}
    import graft.text.TextOps
    object Aqe extends AdaptiveSparkPlanHelper
    // inputs materialized so the audit sees only the candidate-pair
    // plan (normalize itself legitimately joins orders ⋈ lineitem)
    val recs = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
      .localCheckpoint()
    val docs = TextOps.corpus(spark, sfDir).localCheckpoint()
    val generators = Seq(
      "blocking" -> Blocking.candidatePairs(recs,
        Seq(BoundScheme(FirstNChars(8), "head_text")), "conv_id", 100),
      "minhash" -> TextOps.minhashCandidates(docs),
      "simhash" -> TextOps.simhashHammingPairs(docs),
      "embedding lsh" -> graft.emb.EmbeddingOps.lshNearDup(
        graft.emb.EmbeddingOps.embeddings(spark, sfDir)))
    generators.foreach { case (name, df) =>
      assert(df.collect().nonEmpty, s"$name emitted no pairs")
      val plan = df.queryExecution.executedPlan // final adaptive plan
      val joins = Aqe.collect(plan) { case j: BaseJoinExec => j.joinType }
      assert(joins == Seq(LeftSemi),
        s"$name pair generation joins beyond the cap semi-join:\n$plan")
    }
  }

  test("exact-dup groups plan carries no Window (de-skewed agg + join)") {
    import spark.implicits._
    val c = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val plan = graft.text.TextOps.exactDupGroups(c)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"exactDupGroups regressed to a window over content_hash:\n$plan")
  }

  test("chunking is map-only (explode, no Exchange) and " +
    "sorted-neighborhood carries no Window") {
    import spark.implicits._
    val docs = Seq((1L, (1 to 200).map("t" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val chunkPlan = graft.text.TextOps.chunk(docs)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      s"chunking introduced a shuffle:\n$chunkPlan")
    val sn = graft.block.Blocking.sortedNeighborhoodPairs(
      Normalize.normalize(Transcripts.transcripts(spark, sfDir)),
      org.apache.spark.sql.functions.col("head_text"))
    assert(!sn.queryExecution.executedPlan.toString.contains("Window"),
      "sorted-neighborhood rank fell back to a window")
  }

  test("simhash signatures hash each token exactly once (md5 node count)") {
    import spark.implicits._
    // count md5 EXPRESSION NODES in the optimized plan tree (string
    // rendering truncates wide aggregate lists, so grep would lie):
    // if CollapseProject ever re-inlines the hash projection into the
    // 16/64 majority-vote aggregates, the count jumps and this fails.
    def md5Nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect {
          case e if e.prettyName == "md5" => e
        }.size).sum
      }.sum
    val c = Seq((1L, "a b a"), (2L, "")).toDF("doc_id", "text")
    assert(md5Nodes(graft.text.TextOps.simhash(c)) == 1,
      "simhash regressed to per-bit re-hashing")
    assert(md5Nodes(graft.text.TextOps.simhash64(c)) == 1,
      "simhash64 regressed to per-bit re-hashing")
  }

  test("brute-force ANN top-k is two-phase — no corpus-sized window partition") {
    val q31 = SparkEntry.queries("q31_ann_topk")(spark, sfDir)
    val plan = q31.queryExecution.executedPlan.toString
    // phase 1 partitions by (query_id, spark_partition_id()): every
    // window partition is bounded by a scan partition, never the corpus
    assert(plan.contains("_pid"),
      s"local top-k phase (partition-bounded window) missing:\n$plan")
    assert(plan.contains("_lr"),
      s"local-rank filter missing — global window sees the corpus:\n$plan")
    assert(q31.count() > 0)
  }

  test("learner stats batch is map-only + one grouped count — " +
    "no Join, no Window") {
    val recs = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
    import spark.implicits._
    val labels = Seq(("a", "b", 1)).toDF("id_l", "id_r", "label")
    val learner = new graft.block.Learner(recs, labels,
      graft.normalize.Normalize.blockingAttributes)
    val full = learner.statsPlan(
      Seq(Seq("first_nchars_4_head_text", "acronym_tool_set")))
      .queryExecution.executedPlan.toString
    learner.unpersist()
    // audit only the batch plan ABOVE the cached signature table — the
    // InMemoryRelation rendering includes its one-time child plan
    // (normalize legitimately has a window + join)
    val plan = full.split("InMemoryRelation")(0)
    assert(plan.contains("InMemoryTableScan"),
      s"stats batch does not read the cached signature table:\n$full")
    assert(!plan.contains("Join"),
      s"learner stats batch re-grew a corpus-scale join:\n$plan")
    assert(!plan.contains("Window"),
      s"learner stats batch ranks via a window:\n$plan")
  }

  test("learner stats batch plans to the same expression count for 3 " +
    "or 100 candidates") {
    val recs = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
    import spark.implicits._
    val labels = Seq(("a", "b", 1)).toDF("id_l", "id_r", "label")
    val learner = new graft.block.Learner(recs, labels,
      graft.normalize.Normalize.blockingAttributes)
    // candidates travel as a literal: the plan must not grow a
    // subtree per candidate
    def nodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    val pairs = learner.schemes.map(_.name).combinations(2).toSeq
    val (few, many) = (nodes(learner.statsPlan(pairs.take(3))),
      nodes(learner.statsPlan(pairs.take(100))))
    learner.unpersist()
    assert(few == many,
      s"stats batch expression count grows with candidates: $few vs $many")
  }

  test("budget chunk emitter plans 1 and 8 conjunctions to the same " +
    "exchanges, joining only through the cap left_semi") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.block.{Blocking, Schemes}
    object Aqe extends AdaptiveSparkPlanHelper
    val recs = Normalize.normalize(Transcripts.transcripts(spark, sfDir))
      .localCheckpoint()
    val schemes = Schemes.forAttributes(Normalize.blockingAttributes)
    val eight = (0 until 8).map(i => Seq(schemes(i), schemes(i + 11)))
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      Aqe.collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size
    val one = Blocking.chunkPairs(recs, eight.take(1))
    val all = Blocking.chunkPairs(recs, eight)
    assert(exchanges(one) > 0 && exchanges(one) == exchanges(all),
      s"chunk exchanges grow with conjunctions:\n${all.queryExecution.executedPlan}")
    assert(all.collect().nonEmpty, "chunk emitted no pairs")
    val joins = Aqe.collect(all.queryExecution.executedPlan) {
      case j: BaseJoinExec => j.joinType }
    assert(joins == Seq(LeftSemi),
      s"chunk pair generation joins beyond the cap semi-join:\n" +
        all.queryExecution.executedPlan)
  }

  test("zip-join and ordered-result plans carry no unpartitioned Window") {
    // q17/q48 rank via range-partitioned zipWithIndex — the plan must
    // not contain a WindowExec at all (an unpartitioned row_number
    // would collapse the corpus onto one task)
    val q17 = SparkEntry.queries("q17_zip_join")(spark, sfDir)
    assert(!q17.queryExecution.executedPlan.toString.contains("Window"),
      "q17 rank fell back to a window")
    assert(q17.count() > 0)
    val q48 = SparkEntry.queries("q48_ordered_result")(spark, sfDir)
    assert(!q48.queryExecution.executedPlan.toString.contains("Window"),
      "q48 rank fell back to a window")
    // ranks are 1..n, dense and unique
    import org.apache.spark.sql.functions.{col, countDistinct, max => smax}
    val r = q48.agg(countDistinct(col("rn")), smax(col("rn")),
      count(lit(1))).head()
    assert(r.getLong(0) == r.getLong(2) && r.getInt(1).toLong == r.getLong(2))
  }
}
