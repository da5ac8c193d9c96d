package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkEntry

/** One query of the sweep: its layer and its golden fingerprint. */
final case class SweepQuery(name: String, layer: String, golden: Fingerprint)

/** query_sweep: batch time-to-result over a fixed set of
  * `SparkEntry.queries`. Set-up runs every query once and checks its output
  * against its golden fingerprint (which also builds the segment stores the
  * index queries probe, and compiles the plans); timed passes then run the
  * set, each in its own seeded order and each query materialised with a
  * `noop` write, until the measuring time is used up, and at least
  * `MinPasses` of them. The operation is a query, and its latency the
  * median of its timed runs; a pass over the whole set, the batch
  * surface's time to result, is the sum of those medians, so one slow
  * query run moves neither figure.
  */
object QuerySweep {
  val File = "queries.tsv"
  // a query's median needs three runs of it, more than the passes that
  // fit in the default measuring time
  val MinPasses = 3

  def load(benchDir: Path): Seq[SweepQuery] =
    Files.readAllLines(benchDir.resolve(File)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t') match {
        case Array(n, l, f) => SweepQuery(n, l, Fingerprint.parse(f))
        case other => throw new IllegalArgumentException(s"bad line in $File: ${other.mkString(" ")}")
      })

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val qs = load(ctx.benchDir)
    val unknown = qs.map(_.name).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    require(qs.forall(q => Layers.all.contains(q.layer)), "query with an unknown layer")
    var errors = Seq.empty[String]
    val failed = mutable.LinkedHashSet.empty[String]

    /** One query, timed: (constructor ms, noop-write ms); None if it threw. */
    def materialize(q: SweepQuery): Option[(Double, Double)] =
      try {
        val (df, buildMs) = Main.timed(SparkEntry.queries(q.name)(spark, ctx.dataDir))
        val (_, execMs) = Main.timed(df.write.mode("overwrite").format("noop").save())
        System.err.println(f"perfbench: ${q.name} build $buildMs%.0f ms, exec $execMs%.0f ms")
        Some((buildMs, execMs))
      } catch {
        case e: Exception =>
          if (failed.add(q.name)) errors :+= s"${q.name} threw: $e"
          None
      } finally spark.catalog.clearCache() // outside the timed window

    // set-up, untimed: every query once, fingerprinted — this checks each
    // output against its golden, builds the segment stores the index
    // queries probe, and compiles the plans the timed passes run
    val rnd = new Random(ctx.seed)
    rnd.shuffle(qs).foreach { q =>
      val t0 = System.nanoTime()
      try {
        val fp = Fingerprint.of(SparkEntry.queries(q.name)(spark, ctx.dataDir))
        if (fp != q.golden && failed.add(q.name))
          errors :+= s"${q.name}: fingerprint ${fp.render} != golden ${q.golden.render}"
      } catch {
        case e: Exception =>
          if (failed.add(q.name)) errors :+= s"${q.name} threw while fingerprinting: $e"
      } finally spark.catalog.clearCache()
      System.err.println(f"perfbench: set-up ${q.name} ${(System.nanoTime() - t0) / 1e6}%.0f ms")
    }
    val setupS = (System.currentTimeMillis() - ctx.processStart) / 1e3

    val times = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val ops = mutable.ArrayBuffer.empty[Op]
    val clock = new PassClock(ctx.seconds, MinPasses)
    var passes = 0
    var attempted = 0L
    while (clock.another()) {
      rnd.shuffle(qs).foreach { q =>
        val start = System.currentTimeMillis()
        attempted += 1
        materialize(q).foreach { t =>
          times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += t
          ops += Op(s"$passes-${q.name}", q.name, q.layer, start,
            start + (t._1 + t._2).toLong, t._1.toLong, t._2.toLong)
        }
      }
      passes += 1
      clock.passDone()
    }
    val queryMs = times.values.map(ts => Stats.median(ts.map(t => t._1 + t._2).toSeq)).toSeq

    val layers = ctx.trace.map { tr =>
      tr.summarize("query_sweep", ops.toSeq, byCallSite = false, ctx.traceOut)
    }.getOrElse(Map.empty)
    Outcome(
      attempted = attempted + qs.size,
      failed = failed.size.toLong,
      errors = errors,
      setupS = setupS,
      throughput = queryMs.size / (queryMs.sum / 1e3),
      latenciesMs = queryMs,
      passS = queryMs.sum / 1e3,
      stateBytes = Main.bytesUnder(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))),
      layers = layers)
  }
}
