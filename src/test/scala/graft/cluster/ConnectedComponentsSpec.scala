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

  /** The distributed superstep loop, forced: without `driverThreshold
    * = -1` a graph this small runs on the driver. */
  private def distributedCC(df: org.apache.spark.sql.DataFrame) =
    ConnectedComponents.runWith(df, driverThreshold = -1L)

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
      val (members, _) = distributedCC(chain.toDF("id_l", "id_r"))
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
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (members, steps) = distributedCC(chain.toDF("id_l", "id_r"))
    val got = members.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(got == bruteForce(chain))
    assert(added.size == 1,
      s"${steps.size - 1} rounds left ${added.size} persistent RDDs")
  }

  /** Both paths on one edge frame: members, schema and trail must agree. */
  private def assertPathsAgree(df: org.apache.spark.sql.DataFrame,
                               what: String): Int = {
    val (dMembers, dSteps) = ConnectedComponents.run(df)
    val (sMembers, sSteps) = distributedCC(df)
    assert(dMembers.schema == sMembers.schema, what)
    assert(dMembers.collect().toSet == sMembers.collect().toSet, what)
    assert(dSteps == sSteps, what)
    dSteps.size - 1
  }

  test("driver path equals the distributed path: members, schema, trail") {
    val rnd = new scala.util.Random(2024)
    // "Ａ" (U+FF21) sorts before "😀" (U+1F600) in UTF-8 bytes, as
    // Spark compares strings, but after it in Java's UTF-16 order
    assert("Ａ".compareTo("😀") > 0)
    val prefixes = Seq("a", "Ａ", "😀", "é", "z")
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (nEdges <- Seq(5, 60, 400, 2000)) {
      val nNodes = nEdges * 6 / 5 + 2
      val ends = Seq.fill(nEdges)((rnd.nextInt(nNodes), rnd.nextInt(nNodes)))
      val strings = ends.map { case (x, y) =>
        (prefixes(x % prefixes.size) + x, prefixes(y % prefixes.size) + y)
      }
      rounds += assertPathsAgree(strings.toDF("id_l", "id_r"),
        s"string ids, $nEdges edges")
      val longs = ends.map { case (x, y) =>
        ((x - nNodes / 2) * 7919L, (y - nNodes / 2) * 7919L)
      }
      rounds += assertPathsAgree(longs.toDF("id_l", "id_r"),
        s"long ids, $nEdges edges")
    }
    // a shuffled-label chain needs the most rounds
    val perm = rnd.shuffle((0 to 300).toList)
    val chain = perm.zip(perm.tail).map { case (x, y) =>
      (prefixes(x % prefixes.size) + x, prefixes(y % prefixes.size) + y)
    }
    rounds += assertPathsAgree(chain.toDF("id_l", "id_r"), "shuffled chain")
    assert(rounds.max >= 4, s"rounds $rounds")
    val empty = Seq.empty[(String, String)].toDF("id_l", "id_r")
    assert(assertPathsAgree(empty, "no edges") == 1)
    val loops = Seq(("x", "x"), ("😀", "😀")).toDF("id_l", "id_r")
    assert(assertPathsAgree(loops, "self loops only") == 1)
    val utf8 = Seq(("😀", "Ａ")).toDF("id_l", "id_r")
    assert(ConnectedComponents.run(utf8)._1.collect().map(_.getString(1))
      .distinct.toSeq == Seq("Ａ"))
  }

  test("a driver-path run leaves no checkpoint and runs no per-round job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val chain = (0 until 40).map(i => (f"n$i%02d", f"n${i + 1}%02d"))
    val df = chain.toDF("id_l", "id_r")
    // jobs started inside run() and the members collect, told apart by
    // a local property; a sentinel job proves the (asynchronous)
    // listener bus has delivered every earlier one
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.spec")).foreach {
          case "cc" => jobs.incrementAndGet()
          case "sentinel" => drained.countDown()
          case _ =>
        }
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    val (got, steps) = try {
      sc.setLocalProperty("graft.spec", "cc")
      val (members, steps) = ConnectedComponents.run(df)
      val got = members.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      sc.setLocalProperty("graft.spec", "sentinel")
      spark.range(1).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (got, steps)
    } finally {
      sc.setLocalProperty("graft.spec", null)
      sc.removeSparkListener(listener)
    }
    assert(got == bruteForce(chain))
    assert(steps.size >= 3)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    // 2 jobs, whatever the round count (7 here): the normalize's
    // shuffle-map stage and one bounded read; the distributed loop adds
    // 8–9 jobs per round
    assert(jobs.get <= 2, s"${jobs.get} jobs for ${steps.size - 1} rounds")
  }

  test("the driver threshold counts normalized edges, not raw rows") {
    val threshold = 6L
    // 9 raw rows — a duplicate, a reversed and a self-loop edge among
    // them — normalize to exactly `threshold` edges
    val atThreshold = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"),
      ("c", "c"), ("c", "d"), ("x", "y"), ("y", "z"), ("p", "q"))
    val overThreshold = atThreshold :+ ("q" -> "r")
    val sc = spark.sparkContext
    // at the threshold: the driver path, nothing registered; one edge
    // over: the distributed loop, its final round registered. The
    // trail must equal the other path's (`otherPath` forces it).
    for ((edges, kept, otherPath) <- Seq(
           (atThreshold, 0, -1L), (overThreshold, 1, threshold + 1))) {
      val df = edges.toDF("id_l", "id_r")
      val before = sc.getPersistentRDDs.keySet
      val (members, steps) = ConnectedComponents.runWith(df, threshold)
      val got = members.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val added = sc.getPersistentRDDs.keySet -- before
      assert(got == bruteForce(edges))
      assert(steps.head.edges == threshold + kept)
      assert(added.size == kept, s"${steps.head.edges} edges left " +
        s"${added.size} persistent RDDs")
      assert(steps == ConnectedComponents.runWith(df, otherPath)._2)
    }
  }
}
