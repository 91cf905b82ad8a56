package graftbench

import java.sql.{Date, Timestamp}
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded TPC-H-shaped inputs. Every value is a pure function of the seed
  * and the row id (xxhash64 over both), so the same seed gives the same
  * bytes on every run and every core count.
  */
object Data {

  private val Words = Seq("furious", "sly", "careful", "blithe", "quick", "fluffy",
    "slow", "quiet", "ruthless", "thin", "close", "dogged", "daring", "brave",
    "stealthy", "permanent", "enticing", "idle", "busy", "regular", "final",
    "ironic", "even", "bold", "silent", "pending", "express", "unusual")

  private def h(seed: Long, salt: Int): Column = xxhash64(col("id"), lit(seed), lit(salt))
  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pmod(h(seed, salt), lit(values.size)) + 1).cast("int"))
  private def words(seed: Long, salt: Int, n: Int): Column =
    concat_ws(" ", (0 until n).map(i => pick(seed, salt + i, Words)): _*)

  /** `lineitem`, 4 lines per order, with `dt` = ship year (the partition). */
  def lineitem(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(rows).select(
      ((col("id") / 4).cast("long") * 4 + 1).as("l_orderkey"),
      (pmod(h(seed, 1), lit(20000)) + 1).as("l_partkey"),
      (pmod(h(seed, 2), lit(1000)) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, 3), lit(50)) + 1).cast("double").as("l_quantity"),
      round(pmod(h(seed, 4), lit(10000000)) / 100.0 + 900, 2).as("l_extendedprice"),
      (pmod(h(seed, 5), lit(11)) / 100.0).as("l_discount"),
      (pmod(h(seed, 6), lit(9)) / 100.0).as("l_tax"),
      pick(seed, 7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 8, Seq("F", "O")).as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), pmod(h(seed, 9), lit(2520)).cast("int")).as("l_shipdate"),
      date_add(lit("1992-01-31").cast("date"), pmod(h(seed, 10), lit(2466)).cast("int")).as("l_commitdate"),
      date_add(lit("1992-01-04").cast("date"), pmod(h(seed, 11), lit(2526)).cast("int")).as("l_receiptdate"),
      pick(seed, 12, Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")).as("l_shipinstruct"),
      pick(seed, 13, Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")).as("l_shipmode"),
      words(seed, 14, 4).as("l_comment"))
      .withColumn("dt", year(col("l_shipdate")))

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val FirstOrderDate: Date = Date.valueOf("1992-01-01")
  val OrderDateSpan = 2406

  /** `orders`, keys `1, 5, 9, ...` (TPC-H style sparse keys). */
  def orders(spark: SparkSession, rows: Long, seed: Long): DataFrame =
    spark.range(rows).select(
      (col("id") * 4 + 1).as("o_orderkey"),
      (pmod(h(seed, 21), lit(15000)) + 1).as("o_custkey"),
      pick(seed, 22, Statuses).as("o_orderstatus"),
      round(pmod(h(seed, 23), lit(50000000)) / 100.0 + 900, 2).as("o_totalprice"),
      date_add(lit(FirstOrderDate), pmod(h(seed, 24), lit(OrderDateSpan)).cast("int")).as("o_orderdate"),
      pick(seed, 25, Priorities).as("o_orderpriority"),
      concat(lit("Clerk#"), lpad(pmod(h(seed, 26), lit(1000)).cast("string"), 9, "0")).as("o_clerk"),
      lit(0).as("o_shippriority"),
      words(seed, 27, 5).as("o_comment"))

  val OrderColumns: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority", "o_clerk", "o_shippriority", "o_comment")

  /** Change-log schema: the order image, then `op` (I | U | D), `scn` and
    * `updated_at`.
    */
  val ChangeSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType),
    StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType),
    StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType),
    StructField("op", StringType, nullable = false),
    StructField("scn", LongType, nullable = false),
    StructField("updated_at", TimestampType, nullable = false)))

  /** The MERGE a CDC cycle runs against `target` for one change batch
    * registered as the temp view `cdc_batch`.
    */
  def mergeSql(target: String): String = {
    val rest = OrderColumns.tail
    s"""MERGE INTO $target t USING cdc_batch s ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED AND s.op = 'D' THEN DELETE
       |WHEN MATCHED THEN UPDATE SET ${rest.map(c => s"$c = s.$c").mkString(", ")}
       |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (${OrderColumns.mkString(", ")})
       |  VALUES (${OrderColumns.map("s." + _).mkString(", ")})""".stripMargin
  }
}

/** One `orders` row as the driver-side model holds it. */
final case class Order(key: Long, custkey: Long, status: String, totalprice: Double,
    orderdate: Date, priority: String, clerk: String, shippriority: Int, comment: String) {
  def toRow: Row = Row(key, custkey, status, totalprice, orderdate, priority, clerk,
    shippriority, comment)
}

object Order {
  def fromRow(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getDate(4), r.getString(5), r.getString(6), r.getInt(7), r.getString(8))
}

/** One change-log row: `op` is I, U or D; `image` is the row after the
  * change (for D, the row being deleted).
  */
final case class Change(op: String, image: Order, scn: Long) {
  def toRow: Row = Row.fromSeq(image.toRow.toSeq ++
    Seq(op, scn, new Timestamp(Change.EpochMs + scn)))
}

object Change { val EpochMs: Long = 1700000000000L }

/** The expected table state: the initial rows with every change batch
  * replayed in order, under the same semantics as [[Data.mergeSql]]:
  * D removes the key (a no-op when absent), I and U upsert the image.
  */
final class Model(initial: Iterable[Order]) {
  val rows: mutable.HashMap[Long, Order] = mutable.HashMap.from(initial.map(o => o.key -> o))

  def apply(batch: Seq[Change]): Unit = batch.foreach {
    case Change("D", o, _) => rows.remove(o.key)
    case Change(_, o, _)   => rows.update(o.key, o)
  }

  def get(key: Long): Option[Order] = rows.get(key)

  /** (row count, sum of o_totalprice) over `[from, from + days)`. */
  def rangeAggregate(from: Date, days: Int): (Long, Double) = {
    val lo = from.toLocalDate
    val hi = lo.plusDays(days.toLong)
    var n = 0L
    var sum = 0.0
    rows.valuesIterator.foreach { o =>
      val d = o.orderdate.toLocalDate
      if (!d.isBefore(lo) && d.isBefore(hi)) { n += 1; sum += o.totalprice }
    }
    (n, sum)
  }
}

/** Seeded change-log generator: `batchRows` draws per batch, 70% update,
  * 20% insert, 10% delete, at most one change per key per batch (a MERGE
  * source must not match a target row twice). Update and delete keys come
  * from the recently changed keys half the time and uniformly from the
  * live keys otherwise, so churn concentrates the way CDC traffic does.
  */
final class ChangeGen(initial: Iterable[Order], seed: Long, batchRows: Int) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val live = mutable.ArrayBuffer.from(initial.map(_.key))
  private val slot = mutable.HashMap.from(live.zipWithIndex)
  private val images = mutable.HashMap.from(initial.map(o => o.key -> o))
  private val recent = new Array[Long](4096)
  private var recentN = 0L
  private var nextKey = if (live.isEmpty) 1L else live.max + 4
  private var scn = 0L

  /** Keys changed most recently (newest last), at most `n`. */
  def recentKeys(n: Int): Seq[Long] = {
    val k = math.min(n.toLong, math.min(recentN, recent.length.toLong)).toInt
    (0 until k).map(i => recent(((recentN - k + i) % recent.length).toInt))
  }

  def randomLiveKey(r: java.util.SplittableRandom): Long = live(r.nextInt(live.size))

  private def remember(k: Long): Unit = {
    recent((recentN % recent.length).toInt) = k
    recentN += 1
  }

  private def drop(k: Long): Unit = slot.remove(k).foreach { i =>
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; slot(last) = i }
  }

  private def pickExisting(taken: mutable.Set[Long]): Option[Long] = {
    val fromRecent = recentN > 0 && rnd.nextInt(2) == 0
    val k = if (fromRecent) {
      val span = math.min(recentN, recent.length.toLong).toInt
      recent(((recentN - 1 - rnd.nextInt(span)) % recent.length).toInt)
    } else live(rnd.nextInt(live.size))
    if (slot.contains(k) && !taken(k)) Some(k) else None
  }

  private def price(): Double = (900 * 100 + rnd.nextInt(50000000)) / 100.0

  def nextBatch(): Seq[Change] = {
    val taken = mutable.HashSet.empty[Long]
    val out = Seq.newBuilder[Change]
    (0 until batchRows).foreach { _ =>
      val p = rnd.nextInt(100)
      val change =
        if (p < 20 || live.isEmpty) {
          val k = nextKey
          nextKey += 4
          val o = Order(k, 1L + rnd.nextInt(15000), "O", price(),
            Date.valueOf(Data.FirstOrderDate.toLocalDate.plusDays(rnd.nextInt(Data.OrderDateSpan).toLong)),
            Data.Priorities(rnd.nextInt(Data.Priorities.size)),
            f"Clerk#${rnd.nextInt(1000)}%09d", 0, s"inserted at ${scn + 1}")
          Some(Change("I", o, 0L))
        } else pickExisting(taken).map { k =>
          val cur = images(k)
          if (p < 90) Change("U", cur.copy(status = Data.Statuses(rnd.nextInt(3)),
            totalprice = price(), comment = s"updated at ${scn + 1}"), 0L)
          else Change("D", cur, 0L)
        }
      change.foreach { c =>
        scn += 1
        val k = c.image.key
        taken += k
        c.op match {
          case "D" => drop(k); images.remove(k)
          case "I" => slot(k) = live.size; live += k; images(k) = c.image; remember(k)
          case _   => images(k) = c.image; remember(k)
        }
        out += c.copy(scn = scn)
      }
    }
    out.result()
  }
}
