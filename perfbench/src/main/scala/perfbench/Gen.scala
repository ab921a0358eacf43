package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One micro-batch of the generated backlog, as rows over the
  * `graft.tx.TxReplay` column contracts.
  */
final case class Trigger(left: Vector[Row], right: Vector[Row], ends: Vector[Row]) {
  def events: Int = left.size + right.size
}

/** A seeded CDC backlog: the orders/lineitem change stream sliced into
  * commit-contiguous triggers, each delivering its ENDs in commit order.
  */
final case class Backlog(leftSchema: StructType, rightSchema: StructType,
                         endSchema: StructType, triggers: Vector[Trigger]) {
  def events: Long = triggers.iterator.map(_.events.toLong).sum
  def leftDf(spark: SparkSession, rows: Seq[Row]): DataFrame = frame(spark, rows, leftSchema)
  def rightDf(spark: SparkSession, rows: Seq[Row]): DataFrame = frame(spark, rows, rightSchema)
  def endsDf(spark: SparkSession, rows: Seq[Row]): DataFrame = frame(spark, rows, endSchema)
  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}

/** The benchmark's input generator. It builds the change stream the way
  * `graft.TxQueries` does (orders are the left stream, lineitem the right,
  * `R` return flags are line deletes, line ids pack linenumber, partkey and
  * suppkey), and adds four seeded properties the engines' costs depend on:
  *
  *  - transaction sizes vary: 1 to `MaxTxOrders` orders, uniform, so the
  *    mean is TxQueries' 10 orders per transaction and the smallest is the
  *    reference's single-order transaction (FIXTURES.md section 2);
  *  - `UpdateShare` of the data events are updates that re-touch orders and
  *    lines of earlier transactions, with keys chosen with skew, so keys live
  *    in many transactions (FIXTURES.md section 5, scenario 3) and
  *    compaction sees superseded versions;
  *  - `StragglerShare` of the data events arrive one trigger after their
  *    transaction's END, so the watermark stalls behind them;
  *  - ENDs are delivered in commit-LSN order, both engines' transport
  *    assumption.
  *
  * The size range's shape, both shares and the key skew are provisional:
  * no reference trace gives them. perfbench/NOTES.md lists each figure with
  * its source.
  */
object Gen {
  val Orders = 1500
  val EventsPerTrigger = 1800
  val MaxTxOrders = 19
  val UpdateShare = 0.15
  val StragglerShare = 0.005

  private val endSchema = StructType(Seq(
    StructField("tx_id", LongType), StructField("commit_lsn", LongType),
    StructField("expected_left", LongType), StructField("expected_right", LongType)))

  def build(spark: SparkSession, dataDir: String, seed: Long): Backlog = {
    val ordersDf = graft.Tables.orders(spark, dataDir).select(
      col("o_orderkey").as("key"),
      struct(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority")).as("row"))
    val linesDf = graft.Tables.lineitem(spark, dataDir).select(
      col("l_orderkey").as("key"),
      expr("(CAST(l_linenumber AS BIGINT) * 100000 + l_partkey) * 1000 + l_suppkey")
        .as("line_id"),
      when(col("l_returnflag") === "R", "d").otherwise("c").as("op"),
      struct(col("l_partkey"), col("l_quantity"), col("l_extendedprice")).as("row"))
    val leftRowType = ordersDf.schema("row").dataType
    val rightRowType = linesDf.schema("row").dataType
    val orders = ordersDf.orderBy("key").limit(Orders).collect()
      .map(r => (r.getLong(0), r.getStruct(1)))
    val linesOf: Map[Long, Array[(Long, String, Row)]] = linesDf
      .filter(col("key") <= orders.last._1).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getString(2), r.getStruct(3))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sortBy(_._1) }

    val rnd = new scala.util.Random(seed)
    var lsn = 0L
    val txs = ArrayBuffer.empty[(Vector[Row], Vector[Row], Row)]
    val inserted = ArrayBuffer.empty[Long] // order keys of earlier transactions
    val leftNow = mutable.HashMap.empty[Long, Row]
    val lineNow = mutable.HashMap.empty[(Long, Long), Row]
    var i = 0
    while (i < orders.length) {
      val txId = txs.size.toLong + 1
      val size = 1 + rnd.nextInt(MaxTxOrders)
      val batch = orders.slice(i, i + size)
      i += size
      val left = ArrayBuffer.empty[Row]
      val right = ArrayBuffer.empty[Row]
      def next(): Long = { lsn += 1; lsn }
      batch.foreach { case (k, row) =>
        left += Row(k, "c", next(), txId, row); leftNow(k) = row
        linesOf.getOrElse(k, Array.empty).foreach { case (id, op, lrow) =>
          right += Row(k, id, op, next(), txId, lrow); lineNow((k, id)) = lrow
        }
      }
      // updates of earlier transactions' keys: key index u^2-skewed toward
      // the oldest orders, one touch per key and side per transaction
      val nUpdates = {
        val inserts = left.size + right.size
        (0 until inserts).count(_ => rnd.nextDouble() < UpdateShare / (1 - UpdateShare))
      }
      val touchedLeft = mutable.HashSet.empty[Long]
      val touchedLine = mutable.HashSet.empty[(Long, Long)]
      if (inserted.nonEmpty) (0 until nUpdates).foreach { _ =>
        val u = rnd.nextDouble()
        val k = inserted((u * u * inserted.size).toInt)
        val lines = linesOf.getOrElse(k, Array.empty)
        if (lines.isEmpty || rnd.nextBoolean()) {
          if (touchedLeft.add(k)) {
            val old = leftNow(k)
            val row = Row(old.getLong(0), Seq("O", "F", "P")(rnd.nextInt(3)),
              math.round(old.getDouble(2) * (0.9 + 0.2 * rnd.nextDouble()) * 100) / 100.0,
              old.get(3), old.getString(4))
            left += Row(k, "u", next(), txId, row); leftNow(k) = row
          }
        } else {
          val id = lines(rnd.nextInt(lines.length))._1
          if (touchedLine.add((k, id))) {
            val old = lineNow((k, id))
            val qty = old.getDouble(1) + 1 + rnd.nextInt(5)
            val row = Row(old.getLong(0), qty,
              math.round(old.getDouble(2) / old.getDouble(1) * qty * 100) / 100.0)
            right += Row(k, id, "u", next(), txId, row); lineNow((k, id)) = row
          }
        }
      }
      batch.foreach { case (k, _) => inserted += k }
      txs += ((left.toVector, right.toVector,
        Row(txId, next(), left.size.toLong, right.size.toLong)))
    }

    // commit-contiguous triggers of about EventsPerTrigger data events
    val slices = ArrayBuffer.empty[ArrayBuffer[(Vector[Row], Vector[Row], Row)]]
    var n = EventsPerTrigger
    txs.foreach { tx =>
      if (n >= EventsPerTrigger) { slices += ArrayBuffer.empty; n = 0 }
      slices.last += tx
      n += tx._1.size + tx._2.size
    }
    // stragglers: data events moved one trigger past their END (never out
    // of the last trigger, so every transaction completes)
    var lateLeft = Vector.empty[Row]
    var lateRight = Vector.empty[Row]
    val triggers = slices.zipWithIndex.map { case (s, t) =>
      val last = t == slices.size - 1
      def straggles(r: Row): Boolean = !last && rnd.nextDouble() < StragglerShare
      val (sl, kl) = s.flatMap(_._1).partition(straggles)
      val (sr, kr) = s.flatMap(_._2).partition(straggles)
      val trig = Trigger(lateLeft ++ kl, lateRight ++ kr, s.map(_._3).toVector)
      lateLeft = sl.toVector
      lateRight = sr.toVector
      trig
    }.toVector

    val leftSchema = StructType(Seq(StructField("key", LongType), StructField("op", StringType),
      StructField("lsn", LongType), StructField("tx_id", LongType),
      StructField("row", leftRowType)))
    val rightSchema = StructType(Seq(StructField("key", LongType),
      StructField("line_id", LongType), StructField("op", StringType),
      StructField("lsn", LongType), StructField("tx_id", LongType),
      StructField("row", rightRowType)))
    Backlog(leftSchema, rightSchema, endSchema, triggers)
  }
}
