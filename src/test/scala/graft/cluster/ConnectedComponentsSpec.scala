package graft.cluster

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

class ConnectedComponentsSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** reference spec: nx.connected_components (cluster/cluster.py:45-81). */
  private def bruteForce(edges: Seq[(String, String)]): Map[String, String] = {
    val adj = scala.collection.mutable.Map.empty[String, Set[String]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val comp = scala.collection.mutable.Map.empty[String, String]
    nodes.foreach { n =>
      if (!comp.contains(n)) {
        var frontier = Set(n); var seen = Set(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).diff(seen)
          seen ++= frontier
        }
        val root = seen.min
        seen.foreach(m => comp(m) = root)
      }
    }
    comp.toMap
  }

  private def sparkCC(edges: Seq[(String, String)]): Map[String, String] = {
    val df = edges.toDF("id_l", "id_r")
    val (members, _) = ConnectedComponents.run(df)
    members.collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  test("simple chain + triangle + isolated pair") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"),
      ("f", "g"), ("g", "h"), ("h", "i"))
    assert(sparkCC(edges) == bruteForce(edges))
  }

  test("self loops and duplicate edges are ignored") {
    val edges = Seq(("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"))
    assert(sparkCC(edges) == Map("a" -> "a", "b" -> "a"))
  }

  test("property: equals brute-force CC on seeded random graphs") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val edges = Seq.fill(20)((f"n${rnd.nextInt(26)}%02d",
        f"n${rnd.nextInt(26)}%02d")).filter(e => e._1 != e._2)
      assert(sparkCC(edges) == bruteForce(edges))
    }
  }

  test("dictionary-encoded path (forced) equals the direct string path " +
    "and brute force") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(30)((f"n${rnd.nextInt(30)}%02d",
      f"n${rnd.nextInt(30)}%02d")).filter(e => e._1 != e._2)
    val df = edges.toDF("id_l", "id_r")
    // encodeThreshold = 0 forces the dict-encode path a big graph takes
    val (enc, encSteps) = ConnectedComponents.run(df, encodeThreshold = 0L)
    val got = enc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == bruteForce(edges))
    assert(got == sparkCC(edges)) // direct path, same components
    assert(encSteps.nonEmpty)
  }

  test("reliable checkpoints produce identical components") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_l", "id_r")
    val (local, _) = ConnectedComponents.run(edges)
    val (reliable, _) = ConnectedComponents.run(edges,
      reliableCheckpoints = true)
    assert(reliable.collect().toSet == local.collect().toSet)
  }

  test("superstep trail is recorded and converges") {
    val chain = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val (members, steps) = ConnectedComponents.run(chain.toDF("id_l", "id_r"))
    assert(steps.size >= 2)
    assert(steps.last.fingerprint == steps(steps.size - 2).fingerprint)
    val comps = members.collect().map(_.getString(1)).distinct
    assert(comps.toSeq == Seq("n00"))
  }

  test("CC leaves the session's shuffle width alone for concurrent queries") {
    val key = "spark.sql.shuffle.partitions"
    assert(spark.conf.get(key) == "4")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val running = new java.util.concurrent.atomic.AtomicBoolean(true)
    val poller = new Thread(() =>
      while (running.get()) seen.add(spark.conf.get(key)))
    poller.start()
    try {
      val chain = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
      val (members, _) = ConnectedComponents.run(chain.toDF("id_l", "id_r"))
      assert(members.collect().map(_.getString(1)).distinct.toSeq == Seq("n00"))
    } finally {
      running.set(false)
      poller.join()
    }
    assert(seen.size == 1 && seen.contains("4"),
      s"a concurrent reader saw widths $seen")
  }

  test("a run leaves only its final round's checkpoint registered") {
    val chain = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    // string path: the final round; dictionary-encoded path (forced by
    // encodeThreshold 0): the final round plus the id dictionary, which
    // the lazy decode of the result still reads
    for ((threshold, kept) <-
           Seq(ConnectedComponents.EncodeEdgeThreshold -> 1, 0L -> 2)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val (members, steps) = ConnectedComponents.run(
        chain.toDF("id_l", "id_r"), encodeThreshold = threshold)
      val got = members.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val added = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(got == bruteForce(chain))
      assert(added.size == kept, s"encodeThreshold $threshold: " +
        s"${steps.size - 1} rounds left ${added.size} persistent RDDs")
    }
  }
}
