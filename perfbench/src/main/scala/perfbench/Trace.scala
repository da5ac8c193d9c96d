package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One harness operation: a query or a trigger. Times are
  * epoch milliseconds so they line up with Spark's listener events.
  */
final case class Op(id: String, name: String, layer: String,
                    start: Long, end: Long, buildMs: Long, execMs: Long)

/** Records a workload's span tree in memory: workload → operation → Spark
  * job → stage. Only the traced run installs it; the end-to-end runs carry
  * no listener that correctness does not need.
  */
final class Trace(sc: SparkContext) extends SparkListener {

  private final case class Job(id: Int, start: Long, var end: Long,
                               stageIds: Seq[Int], callSite: String)
  private final case class Stage(id: Int, attempt: Int, start: Long, end: Long, tasks: Int,
                                 runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
                                 inRecords: Long, shuffleBytes: Long, spillBytes: Long,
                                 outBytes: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val schedWaitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  // cached RDD bytes over time: (epoch ms, total bytes)
  private val cacheSamples = new ConcurrentLinkedQueue[(Long, Long)]()
  private val cacheBlocks = mutable.HashMap.empty[String, Long]
  private var cacheTotal = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")
    jobs.add(Job(e.jobId, e.time, -1L, e.stageIds, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val sub = stageSubmit.get((e.stageId, e.stageAttemptId))
    if (sub != 0L) schedWaitMs.merge(e.stageId, math.max(0L, e.taskInfo.launchTime - sub), _ + _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    val start = s.submissionTime.getOrElse(0L)
    stages.add(Stage(s.stageId, s.attemptNumber(), start, s.completionTime.getOrElse(start),
      s.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.inputMetrics.recordsRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      if (m == null) 0L else m.outputMetrics.bytesWritten))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cacheTotal += size - cacheBlocks.getOrElse(info.blockId.name, 0L)
      if (size == 0L) cacheBlocks.remove(info.blockId.name)
      else cacheBlocks(info.blockId.name) = size
      cacheSamples.add((System.currentTimeMillis(), cacheTotal))
    }
  }

  /** Waits until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.BenchAccess.waitForListeners(sc)

  /** Per-layer figures and the span tree for `ops`.
    *
    * A job belongs to the operation that was open when it started. Its
    * layer is the first layer frame of its call site when `byCallSite`,
    * otherwise the operation's layer; a call site with no layer frame also
    * falls back to the operation's layer.
    */
  def summarize(workload: String, ops: Seq[Op], byCallSite: Boolean,
                out: Option[Path]): Map[String, Double] = {
    drain()
    val stageById = stages.asScala.toSeq.groupBy(_.id)
    val jobList = jobs.asScala.toSeq.sortBy(_.start)
    val opOfJob: Map[Int, Op] = jobList.flatMap { j =>
      ops.find(o => j.start >= o.start && j.start <= o.end).map(j.id -> _)
    }.toMap
    def layerOf(j: Job): String = {
      val opLayer = opOfJob.get(j.id).map(_.layer).getOrElse("harness")
      if (byCallSite) Layers.ofCallSite(j.callSite).getOrElse(opLayer) else opLayer
    }

    val m = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers.all) {
      val lOps = ops.filter(_.layer == l)
      val lJobs = jobList.filter(j => opOfJob.contains(j.id) && layerOf(j) == l)
      val lStages = lJobs.flatMap(j => j.stageIds.flatMap(id => stageById.getOrElse(id, Nil)))
      val taskS = lStages.map(_.runMs).sum / 1e3
      val stageWall = unionMs(lStages.map(s => (s.start, s.end))) / 1e3
      val gap = lOps.map { o =>
        val js = jobList.filter(j => opOfJob.get(j.id).contains(o))
        (o.end - o.start) - unionMs(js.map(j => (math.max(j.start, o.start),
          math.min(if (j.end < 0) o.end else j.end, o.end))))
      }.sum / 1e3
      val cachePeak = lOps.map(o => cacheSamples.asScala
        .filter { case (t, _) => t >= o.start && t <= o.end }
        .map(_._2).maxOption.getOrElse(0L)).maxOption.getOrElse(0L)
      m(s"$l.wall_s") = lOps.map(o => o.end - o.start).sum / 1e3
      m(s"$l.build_s") = lOps.map(_.buildMs).sum / 1e3
      m(s"$l.exec_s") = lOps.map(_.execMs).sum / 1e3
      m(s"$l.driver_gap_s") = gap
      m(s"$l.jobs") = lJobs.size.toDouble
      m(s"$l.tasks") = lStages.map(_.tasks).sum.toDouble
      m(s"$l.task_s") = taskS
      m(s"$l.cpu_s") = lStages.map(_.cpuNs).sum / 1e9
      m(s"$l.gc_s") = lStages.map(_.gcMs).sum / 1e3
      m(s"$l.sched_wait_s") = lStages.map(s => schedWaitMs.getOrDefault(s.id, 0L)).sum / 1e3
      m(s"$l.busy_cores") = if (stageWall > 0) taskS / stageWall else 0.0
      m(s"$l.input_bytes") = lStages.map(_.inBytes).sum.toDouble
      m(s"$l.shuffle_bytes") = lStages.map(_.shuffleBytes).sum.toDouble
      m(s"$l.spill_bytes") = lStages.map(_.spillBytes).sum.toDouble
      m(s"$l.cache_bytes_peak") = cachePeak.toDouble
    }
    val opJobs = jobList.filter(j => opOfJob.contains(j.id))
    val opStages = opJobs.flatMap(j => j.stageIds.flatMap(id => stageById.getOrElse(id, Nil)))
    m("harness.records_read") = opStages.map(_.inRecords).sum.toDouble
    m("harness.bytes_written") = opStages.map(_.outBytes).sum.toDouble

    out.foreach(p => writeSpans(p, workload, ops, opJobs, opOfJob, layerOf, stageById))
    m.toMap
  }

  private def writeSpans(p: Path, workload: String, ops: Seq[Op], js: Seq[Job],
                         opOfJob: Map[Int, Op], layerOf: Job => String,
                         stageById: Map[Int, Seq[Stage]]): Unit = {
    val sb = new StringBuilder
    def span(id: String, parent: String, kind: String, name: String, start: Long, end: Long,
             counts: Seq[(String, Any)]): Unit = {
      if (sb.nonEmpty) sb.append(",\n")
      sb.append(s"""{"id":"$id","parent":${if (parent == null) "null" else "\"" + parent + "\""},""")
      sb.append(s""""kind":"$kind","name":${Json.str(name)},"start":$start,"end":$end""")
      counts.foreach { case (k, v) => sb.append(s""","$k":${Json.num(v)}""") }
      sb.append("}")
    }
    val wStart = ops.map(_.start).minOption.getOrElse(0L)
    val wEnd = ops.map(_.end).maxOption.getOrElse(0L)
    span("w", null, "workload", workload, wStart, wEnd, Nil)
    ops.foreach(o => span(s"op-${o.id}", "w", "operation", o.name, o.start, o.end,
      Seq("layer" -> o.layer, "build_ms" -> o.buildMs, "exec_ms" -> o.execMs)))
    js.foreach { j =>
      span(s"job-${j.id}", s"op-${opOfJob(j.id).id}", "job", s"job ${j.id}", j.start, j.end,
        Seq("layer" -> layerOf(j)))
      j.stageIds.flatMap(id => stageById.getOrElse(id, Nil)).foreach { s =>
        span(s"stage-${s.id}.${s.attempt}", s"job-${j.id}", "stage", s"stage ${s.id}",
          s.start, s.end, Seq("tasks" -> s.tasks, "task_ms" -> s.runMs,
            "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_bytes" -> s.inBytes,
            "shuffle_bytes" -> s.shuffleBytes, "spill_bytes" -> s.spillBytes))
      }
    }
    Files.createDirectories(p.getParent)
    Files.writeString(p, "[\n" + sb.toString + "\n]\n")
  }

  /** Total length of the union of [start, end] intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Trace {
  def install(sc: SparkContext): Trace = {
    val t = new Trace(sc)
    sc.addSparkListener(t)
    t
  }
}
