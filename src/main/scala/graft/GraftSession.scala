package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session builder: every graft main and the test fixture
  * get their session here, so they all run under the same settings.
  *
  * `local[cores]`, shuffle partitions = cores, AQE on, UTC session time
  * zone, no UI, log level WARN. The streaming checkpoint checksum is off:
  * Spark 4.1's ChecksumCheckpointFileManager deadlocks the state-store
  * commit under rapid micro-batches (tasks park forever in
  * `ChecksumCheckpointFileManager.awaitResult` while its worker threads
  * sit idle — seen with [[graft.streaming.StreamingDedupe]]'s TTL state);
  * the checksum is a corruption-detection layer, not a semantics one.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, otherwise the machine's processor count. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
