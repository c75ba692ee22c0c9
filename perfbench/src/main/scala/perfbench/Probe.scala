package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job seen while tracing: when it started and ended
  * (wall-clock ms, the same clock as [[Span]]), its stages, and the
  * long call site of its result stage (used to charge jobs submitted
  * from a known place, e.g. the TF-IDF prewarm, to their own layer). */
final case class JobRec(id: Int, startMs: Long, endMs: Long,
                        stages: Set[Int], callSite: String)

/** One finished task: the stage it ran in and its cost. */
final case class TaskRec(stage: Int, durationMs: Long, runMs: Long,
                         cpuNs: Long, shuffleWriteBytes: Long,
                         spillBytes: Long)

/** A traced interval around one call into a layer. */
final case class Span(layer: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def contains(t: Long): Boolean = t >= startMs && t < endMs
}

/** Spark listener behind every measurement the benchmark makes.
  *
  * Always on (cheap running sums): shuffle bytes written, and the live
  * bytes (memory + disk) of cached, persisted and checkpointed RDD
  * blocks, with their peak since the last [[resetPeak]]. A block leaves
  * the live set when an update reports it empty or its RDD is
  * unpersisted.
  *
  * Traced runs additionally keep every job and task record, so
  * per-layer figures can be charged to the span a job started in.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private var shuffleWrite = 0L
  private val liveBlocks = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L
  private var peakBytes = 0L

  @volatile var recording = false
  /** nanoseconds spent keeping traced records */
  private var traceNs = 0L
  private val jobStarts = mutable.HashMap.empty[Int, (Long, Set[Int], String)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  sc.addSparkListener(this)

  /** Block until every event posted so far has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  /** Restart the peak from the bytes live now. Garbage from earlier
    * work is collected first, so blocks of unreachable checkpoints do
    * not count: a JVM GC lets Spark's ContextCleaner unpersist them. */
  def resetPeak(): Unit = {
    System.gc()
    Thread.sleep(300)
    drain()
    synchronized { peakBytes = liveBytes }
  }

  /** Drop the traced job and task records. */
  def clearTrace(): Unit = {
    drain()
    synchronized {
      jobStarts.clear(); jobs.clear(); tasks.clear(); traceNs = 0L
    }
  }

  def shuffleWriteBytes: Long = { drain(); synchronized(shuffleWrite) }
  def peakCachedBytes: Long = { drain(); synchronized(peakBytes) }

  /** Jobs and tasks recorded since the last [[clearTrace]], and the
    * seconds spent recording them. */
  def traced: (Seq[JobRec], Seq[TaskRec], Double) = {
    drain()
    synchronized((jobs.toList, tasks.toList, traceNs / 1e9))
  }

  private def timedRecord(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    traceNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording) synchronized(timedRecord {
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).details
      jobStarts(e.jobId) = (e.time, e.stageIds.toSet, site)
    })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, stages, site) =>
      timedRecord(jobs += JobRec(e.jobId, t0, e.time, stages, site))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      if (recording) timedRecord {
        tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val name = info.blockId.name
      val size = info.memSize + info.diskSize
      liveBytes -= liveBlocks.getOrElse(name, 0L)
      if (info.storageLevel.isValid && size > 0) {
        liveBlocks(name) = size
        liveBytes += size
      } else liveBlocks.remove(name)
      peakBytes = math.max(peakBytes, liveBytes)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      val prefix = s"rdd_${e.rddId}_"
      liveBlocks.keys.filter(_.startsWith(prefix)).toList.foreach { k =>
        liveBytes -= liveBlocks.remove(k).getOrElse(0L)
      }
    }
}
