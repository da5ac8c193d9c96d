package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

// Payload shapes of the CDC fixture (orders as the left stream, order lines
// as the right stream, one END per transaction).
case class ORow(o_custkey: Long, o_orderstatus: String)
case class LRow(l_partkey: Long, l_quantity: Double)
case class Ev(stream: String, key: Long, line_id: Long, op: String, lsn: Long,
              tx_id: Long, orow: ORow, lrow: LRow, commit_lsn: Long,
              expected_left: Long, expected_right: Long)
case class LeftEv(key: Long, op: String, lsn: Long, tx_id: Long, row: ORow)
case class RightEv(key: Long, line_id: Long, op: String, lsn: Long, tx_id: Long, row: LRow)
case class EndEv(tx_id: Long, commit_lsn: Long, expected_left: Long, expected_right: Long)

/** One transaction of the fixture: its data events and its END event. */
final case class Tx(id: Long, data: Vector[Ev], end: Ev)

/** The transactional CDC fixture, synthesised from the TPC-H-like orders and
  * lineitem tables exactly as the repository's throughput mains do: each
  * order is a left (header) event, each line a right event (returned lines
  * are deletes), ten consecutive orders form one transaction, and a
  * transaction commits at LSN 1,000,000 + tx id. Only the first
  * `transactions` transactions of the tables are used.
  */
object TxFixture {
  val Documents = Seq("key", "commit_lsn", "row", "lines", "deleted")

  def load(spark: SparkSession, dataDir: String, transactions: Int): Vector[Tx] = {
    import spark.implicits._
    val orders = graft.Tables.orders(spark, dataDir).filter(expr(s"o_orderkey div 10 < $transactions"))
    val lineitem = graft.Tables.lineitem(spark, dataDir).filter(expr(s"l_orderkey div 10 < $transactions"))
    val nullO = lit(null).cast("struct<o_custkey:bigint,o_orderstatus:string>")
    val nullL = lit(null).cast("struct<l_partkey:bigint,l_quantity:double>")
    val left = orders.select(lit("l").as("stream"), col("o_orderkey").as("key"),
      lit(-1L).as("line_id"), lit("c").as("op"), (col("o_orderkey") * 100).as("lsn"),
      expr("o_orderkey div 10").as("tx_id"),
      struct(col("o_custkey").cast("bigint").as("o_custkey"), col("o_orderstatus")).as("orow"),
      nullL.as("lrow"))
    val right = lineitem.select(lit("r").as("stream"), col("l_orderkey").as("key"),
      expr("(CAST(l_linenumber AS BIGINT) * 100000 + l_partkey) * 1000 + l_suppkey").as("line_id"),
      when(col("l_returnflag") === "R", "d").otherwise("c").as("op"),
      expr("(CAST(l_linenumber AS BIGINT) * 100000 + l_partkey) * 1000 + l_suppkey").as("lsn"),
      expr("l_orderkey div 10").as("tx_id"), nullO.as("orow"),
      struct(col("l_partkey").cast("bigint").as("l_partkey"),
        col("l_quantity").cast("double").as("l_quantity")).as("lrow"))
    val base = left.unionByName(right)
      .withColumn("commit_lsn", lit(-1L))
      .withColumn("expected_left", lit(-1L))
      .withColumn("expected_right", lit(-1L))
    val events = base.as[Ev].collect()
    events.groupBy(_.tx_id).toVector.sortBy(_._1).map { case (tx, evs) =>
      // data events in source (LSN) order within the transaction
      val data = evs.sortBy(e => (e.stream, e.key, e.lsn)).toVector
      val nl = data.count(_.stream == "l").toLong
      val end = Ev("t", -1L, -1L, null, -1L, tx, null, null, 1000000L + tx, nl, data.size - nl)
      Tx(tx, data, end)
    }
  }

  /** The seeded choice of late data events: each data event is late with
    * probability `share`. END events are never late, so ENDs stay in commit
    * order — the engines' transport contract.
    */
  def lateEvents(txs: Seq[Tx], seed: Long, share: Double): Set[Ev] = {
    val rnd = new Random(seed ^ 0x1a7e5L)
    txs.iterator.flatMap(_.data).filter(_ => rnd.nextDouble() < share).toSet
  }

  def leftDf(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.filter(_.stream == "l").map(e => LeftEv(e.key, e.op, e.lsn, e.tx_id, e.orow)).toDF()
  }

  def rightDf(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.filter(_.stream == "r")
      .map(e => RightEv(e.key, e.line_id, e.op, e.lsn, e.tx_id, e.lrow)).toDF()
  }

  def endsDf(spark: SparkSession, evs: Seq[Ev]): DataFrame = {
    import spark.implicits._
    evs.filter(_.stream == "t")
      .map(e => EndEv(e.tx_id, e.commit_lsn, e.expected_left, e.expected_right)).toDF()
  }

  /** The one-shot reference: `TxReplay.replay` over the whole fixture,
    * as (key, commit_lsn) → document hash.
    */
  def reference(spark: SparkSession, txs: Seq[Tx]): Map[(Long, Long), Int] = {
    val all = txs.flatMap(t => t.data :+ t.end)
    val docs = graft.tx.TxReplay.replay(leftDf(spark, all), rightDf(spark, all), endsDf(spark, all))
    val rows = docs.select(Documents.map(col): _*).collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) -> Fingerprint.rowHash(r)).toMap
    require(m.size == rows.length, "reference replay emitted a (key, commit_lsn) twice")
    m
  }

  /** Checks emitted documents against the reference. Returns the number of
    * failures (documents missing, emitted more than once, unexpected or
    * different) and one line per kind of failure.
    */
  def check(emitted: Seq[Row], expected: Map[(Long, Long), Int]): (Long, Seq[String]) = {
    val byKey = emitted.groupBy(r => (r.getLong(0), r.getLong(1)))
    val missing = expected.keys.count(k => !byKey.contains(k))
    val twice = byKey.values.count(_.size > 1)
    val unexpected = byKey.keys.count(k => !expected.contains(k))
    val differ = byKey.count { case (k, rs) =>
      expected.get(k).exists(h => Fingerprint.rowHash(rs.head) != h)
    }
    val msgs = Seq(
      "documents missing" -> missing, "documents emitted more than once" -> twice,
      "unexpected documents" -> unexpected, "documents differing from the replay" -> differ)
      .collect { case (what, n) if n > 0 => s"$n $what" }
    ((missing + twice + unexpected + differ).toLong, msgs)
  }
}
