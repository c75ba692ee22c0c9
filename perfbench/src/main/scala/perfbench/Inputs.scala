package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Input tables in the shape the library ingests: the TPC-H-style
  * `orders` and `lineitem` parquet files that `graft.synth.Transcripts`
  * turns into conversations (one per order, one turn per line item,
  * every 10th order planted again as a near-duplicate `d<k>`).
  *
  * The value distributions reproduce the sf0.001 and sf0.01 tables the
  * library is developed against (measured figures in perfbench/README.md):
  * 4 line items per order placed on uniformly drawn orders, so the
  * items-per-order count is Poisson(4) and ~1.8% of orders have none
  * and produce no conversation; part keys in [0, orders × 2/15),
  * supplier keys in [0, orders / 150), customer keys in
  * [0, orders / 10), line numbers 1–7 drawn per item, quantities 1–50,
  * uniform flags and priorities, order dates over 1995-01-01 …
  * 2001-08-01 and ship dates over 1995-01-02 … 2001-11-04. Below 1,500
  * orders (sf0.001) the key ranges stay at sf0.001's 200 parts and 10
  * suppliers: shrinking them further would make unrelated turns far
  * more alike than in any real table.
  *
  * The corpus is fixed: every run writes it from [[CorpusSeed]], so a
  * given size always gives byte-identical tables.
  */
object Inputs {

  /** the one seed every corpus is generated from */
  val CorpusSeed = 20240101L

  /** @param itemsPerOrder orders with 0, 1, 2, … line items */
  final case class Tables(dir: String, liveOrders: Int, dupKeys: Int,
                          itemsPerOrder: Seq[Int]) {
    /** conversations the transcripts layer derives: one per live
      * order plus one planted near-duplicate per live key k % 10 == 0 */
    def conversations: Int = liveOrders + dupKeys
  }

  private val priorities =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val day = 86400000L
  private def utcMillis(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * day
  private val shipFrom = utcMillis(1995, 1, 2)
  private val shipDays = 2498 // through 2001-11-04
  private val orderFrom = utcMillis(1995, 1, 1)
  private val orderDays = 2404 // through 2001-08-01

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  private val lineitemSchema = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  /** Write `orders.parquet` and `lineitem.parquet` for `nOrders` orders
    * under `dir` (overwriting) and return their sizes. */
  def write(spark: SparkSession, dir: String, nOrders: Int): Tables = {
    val rnd = new SplittableRandom(CorpusSeed)
    val nItems = nOrders * 4
    val parts = math.max(nOrders * 2 / 15, 200)
    val supps = math.max(nOrders / 150, 10)
    val itemCount = new Array[Int](nOrders)
    val items = Array.fill(nItems) {
      val okey = rnd.nextInt(nOrders)
      itemCount(okey) += 1
      val qty = (1 + rnd.nextInt(50)).toDouble
      Row(okey.toLong, rnd.nextInt(parts).toLong,
        rnd.nextInt(supps).toLong, 1 + rnd.nextInt(7), qty,
        (90000 + rnd.nextInt(10410000)) / 100.0,
        rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        "ANR".charAt(rnd.nextInt(3)).toString,
        "FO".charAt(rnd.nextInt(2)).toString,
        new Timestamp(shipFrom + rnd.nextInt(shipDays + 1) * day))
    }
    val orders = Array.tabulate(nOrders) { k =>
      Row(k.toLong, rnd.nextInt(math.max(nOrders / 10, 1)).toLong,
        "FOP".charAt(rnd.nextInt(3)).toString,
        (100000 + rnd.nextInt(49900000)) / 100.0,
        new Timestamp(orderFrom + rnd.nextInt(orderDays + 1) * day),
        priorities(rnd.nextInt(priorities.length)))
    }
    def save(rows: Array[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/$name.parquet")
    save(orders, ordersSchema, "orders")
    save(items, lineitemSchema, "lineitem")
    val live = (0 until nOrders).filter(itemCount(_) > 0)
    val histogram = new Array[Int](itemCount.max + 1)
    itemCount.foreach(n => histogram(n) += 1)
    Tables(dir, live.size, live.count(_ % 10 == 0), histogram.toSeq)
  }
}
