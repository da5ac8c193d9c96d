package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Option[Trace],
                     dataDir: String, workDir: Path, benchDir: Path, traceOut: Option[Path]) {
  /** Epoch ms at which the JVM started: set-up time is counted from here. */
  val processStart: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** A workload's outcome: operations attempted and failed, the failures,
  * set-up time, work completed per second, the latency of each operation
  * (ms), the time one whole pass over the workload's input takes (s), the
  * bytes of state the engine left on disk and the per-layer figures (filled
  * only when traced).
  */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         setupS: Double, throughput: Double, latenciesMs: Seq[Double],
                         passS: Double, stateBytes: Long, layers: Map[String, Double])

/** Entry point: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  * --bench-dir DIR --work-dir DIR --out FILE [--trace-out FILE]`.
  * Writes one JSON object to `--out`: operations attempted and failed, the
  * failures, the metric values (end-to-end ones, or per-layer ones when
  * traced) and the notes on how they were taken. `run.py` wraps this with
  * the build, the process set-up and the units.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "tx_backfill" -> TxBackfill.run,
    "query_sweep" -> QuerySweep.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val run = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload: $workload"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts("out"))
    val spark = graft.Sessions.build("perfbench")
    System.err.println(s"perfbench: session ready after " +
      s"${System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime} ms")
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      if (traced) Some(Trace.install(spark.sparkContext)) else None,
      opts("bench-dir") + "/data/sf0.01", Paths.get(opts("work-dir")),
      Paths.get(opts("bench-dir")), opts.get("trace-out").map(Paths.get(_)))
    val outcome =
      try run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome(1, 1, Seq(s"workload threw: $e"), Double.NaN, Double.NaN, Nil, Double.NaN, 0L,
            Map.empty)
      }
    val e2e = Map("setup_s" -> outcome.setupS, "pass_s" -> outcome.passS)
    // the traced run's own end-to-end figures, for the tracing overhead
    if (traced) System.err.println(s"perfbench: end-to-end under tracing: $e2e")
    // the median and tail of a run's few operations are per-layer figures:
    // they moved with the host far more than the pass time, their sum
    val (tailPct, tailMs, beyond) = Stats.tail(outcome.latenciesMs)
    val metrics =
      if (traced) outcome.layers ++ Map(
        "harness.latency_p50_ms" -> Stats.median(outcome.latenciesMs),
        "harness.latency_tail_ms" -> tailMs,
        "harness.error_rate" -> outcome.failed.toDouble / math.max(1L, outcome.attempted),
        "harness.peak_rss_mb" -> peakRssMb(),
        "harness.state_bytes" -> outcome.stateBytes.toDouble,
        "harness.throughput_per_s" -> outcome.throughput)
      else e2e
    val notes = Map(
      "latency_samples" -> outcome.latenciesMs.size.toDouble,
      "latency_tail_pct" -> tailPct,
      "latency_tail_beyond" -> beyond.toDouble)
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val line = s"""{"attempted":${outcome.attempted},"failed":${outcome.failed},""" +
      s""""metrics":${obj(metrics)},"notes":${obj(notes)},"errors":""" +
      outcome.errors.map(Json.str).mkString("[", ",", "]") + "}"
    Files.writeString(out, line + "\n")
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Bytes of all regular files under `p`. */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      } finally s.close()
    }

  /** Runs `f`, returning its value and its wall time in ms. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }
}
