package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-singleton). */
object SparkSessionFixture {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSuite {
  lazy val spark: SparkSession = SparkSessionFixture.spark

  /** Run `body`, counting the jobs it starts and the distinct SQL
    * executions they belong to (told apart by a local property; a
    * sentinel job afterwards proves the asynchronous listener bus has
    * delivered every earlier job). */
  def counting[T](body: => T): (T, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          p.getProperty("graft.spec") match {
            case "counted" =>
              jobs.incrementAndGet()
              Option(p.getProperty("spark.sql.execution.id")).foreach(execs.add)
            case "sentinel" => drained.countDown()
            case _ =>
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.spec", "counted")
      val t = body
      sc.setLocalProperty("graft.spec", "sentinel")
      spark.range(1).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (t, jobs.get, execs.size)
    } finally {
      sc.setLocalProperty("graft.spec", null)
      sc.removeSparkListener(listener)
    }
  }
}
