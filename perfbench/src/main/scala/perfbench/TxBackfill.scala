package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.streaming.TxReplayStream

/** tx_backfill: catch-up after a connector outage. The whole CDC fixture
  * goes through `TxReplayStream.processBatch` in a few large,
  * commit-contiguous triggers (closed loop: each trigger starts when the
  * previous one returns). A seeded small share of data events arrives one
  * trigger late. A whole untimed pass warms up; timed passes then repeat,
  * each on a fresh state root, until the measuring time is used up; every
  * timed pass is checked against the one-shot `TxReplay.replay` of the
  * fixture.
  */
object TxBackfill {
  val Triggers = 3
  val Transactions = 500
  val LateShare = 0.0005

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // the first 500 transactions of sf0.01 (~25k events)
    val txs = TxFixture.load(spark, ctx.dataDir, Transactions)
    val late = TxFixture.lateEvents(txs, ctx.seed, LateShare)
    // commit-contiguous slices by transaction; a late event moves to the
    // next slice (the last slice has nowhere later to go)
    val per = (txs.size + Triggers - 1) / Triggers
    val slices = txs.grouped(per).toVector
    val evs = slices.indices.map { i =>
      val own = slices(i).flatMap(t => t.data.filterNot(e => late(e) && i < slices.size - 1) :+ t.end)
      val carried = if (i == 0) Vector.empty else slices(i - 1).flatMap(_.data.filter(late))
      own ++ carried
    }
    def frames(e: Seq[Ev]): (DataFrame, DataFrame, DataFrame) =
      (TxFixture.leftDf(spark, e), TxFixture.rightDf(spark, e), TxFixture.endsDf(spark, e))
    val nEvents = txs.map(_.data.size.toLong).sum

    // warm-up: one whole pass on a throwaway state root; after a single
    // small trigger the first timed pass still ran ~25% slower than the
    // next, while the JIT compiled the engine's paths
    val warmRoot = ctx.workDir.resolve("warmup-state")
    val warm = new TxReplayStream(spark, warmRoot.toString)
    evs.map(frames).foreach { case (l, r, e) =>
      warm.processBatch(l, r, e).select(TxFixture.Documents.map(col): _*).collect()
    }
    Main.deleteTree(warmRoot)
    val setupS = (System.currentTimeMillis() - ctx.processStart) / 1e3

    val ops = mutable.ArrayBuffer.empty[Op]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val passMs = mutable.ArrayBuffer.empty[Double]
    val passDocs = mutable.ArrayBuffer.empty[Seq[Row]]
    var thrown = 0L
    var triggersRun = 0L
    var errors = Seq.empty[String]
    var stateBytes = 0L
    var liveSegments = 0L
    val clock = new PassClock(ctx.seconds)
    var pass = 0
    while (clock.another()) {
      val root = ctx.workDir.resolve(s"state-$pass")
      val engine = new TxReplayStream(spark, root.toString)
      val ts = evs.map(frames)
      val docs = mutable.ArrayBuffer.empty[Row]
      var loopMs = 0.0
      ts.zipWithIndex.foreach { case ((left, right, ends), i) =>
        val start = System.currentTimeMillis()
        val (rows, ms) = Main.timed {
          try engine.processBatch(left, right, ends)
            .select(TxFixture.Documents.map(col): _*).collect().toSeq
          catch {
            case e: Exception =>
              thrown += 1
              errors :+= s"trigger $i of pass $pass threw: $e"
              Seq.empty[Row]
          }
        }
        ops += Op(s"$pass-$i", s"pass $pass trigger $i", Layers.Streaming, start,
          System.currentTimeMillis(), 0L, ms.toLong)
        System.err.println(f"perfbench: pass $pass trigger $i $ms%.0f ms")
        triggersRun += 1
        loopMs += ms
        batchMs += ms
        docs ++= rows
      }
      clock.passDone()
      passMs += loopMs
      passDocs += docs.toSeq
      stateBytes = Main.bytesUnder(root)
      liveSegments = Seq("left", "right").map(s => engine.liveSegments(s).values.map(_.size).sum).sum
      Main.deleteTree(root)
      pass += 1
    }

    // correctness, outside the timed loop
    val expected = TxFixture.reference(spark, txs)
    var failedDocs = 0L
    passDocs.zipWithIndex.foreach { case (docs, p) =>
      val (n, msgs) = TxFixture.check(docs, expected)
      failedDocs += n
      errors ++= msgs.map(m => s"pass $p: $m")
    }
    val allDocs = passDocs.map(_.size).sum
    val distinct = passDocs.map(_.map(r => (r.getLong(0), r.getLong(1))).distinct.size).sum

    val layers = ctx.trace.map { tr =>
      val base = tr.summarize("tx_backfill", ops.toSeq, byCallSite = true, ctx.traceOut)
      base ++ Map(
        "graft.streaming.batch_events_p50" -> nEvents.toDouble / Triggers,
        "graft.streaming.rows_read_per_event" ->
          base("harness.records_read") / (nEvents.toDouble * pass),
        "graft.streaming.state_bytes_written" -> base("harness.bytes_written") / pass,
        "graft.streaming.live_segments" -> liveSegments.toDouble,
        "graft.streaming.write_amplification" -> allDocs.toDouble / distinct)
    }.getOrElse(Map.empty)

    Outcome(
      attempted = triggersRun + expected.size.toLong * pass,
      failed = thrown + failedDocs,
      errors = errors,
      setupS = setupS,
      throughput = nEvents / (Stats.median(passMs.toSeq) / 1e3),
      latenciesMs = batchMs.toSeq,
      passS = Stats.median(passMs.toSeq) / 1e3,
      stateBytes = stateBytes,
      layers = layers)
  }
}
