package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One benchmark-level span: a pass, or one query/phase inside it.
  * Times are epoch milliseconds, the clock Spark's listener events use.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long)

final case class JobRec(id: Int, start: Long, callSite: String,
    stageIds: Seq[Int]) { @volatile var end: Long = -1L }
final case class StageRec(id: Int, name: String, submitted: Long,
    completed: Long, shuffleMap: Boolean)
final case class TaskRec(stageId: Int, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, shuffleRecords: Long, spill: Long, peakMem: Long,
    failed: Boolean)

/** Records Spark's own listener events: jobs (named by their call
  * site), completed stages and finished tasks. Attached only while a
  * traced pass runs.
  */
final class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val shuffleMapStages = mutable.Set.empty[Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The result stage carries the job's call site as its name.
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).name
    jobs += JobRec(e.jobId, e.time, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stages += StageRec(s.stageId, s.name, s.submissionTime.getOrElse(-1L),
        s.completionTime.getOrElse(-1L), shuffleMapStages(s.stageId))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = i.failed || i.killed || e.reason != Success
    if (e.taskType == "ShuffleMapTask") shuffleMapStages += e.stageId
    tasks += (if (m == null)
      TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0, 0, 0,
        failed)
    else
      TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.diskBytesSpilled,
        m.peakExecutionMemory, failed))
  }

  /** True once every job seen so far has ended; the listener bus
    * delivers a job's task and stage events before its end event.
    */
  def drained: Boolean = synchronized(jobs.forall(_.end >= 0))

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); shuffleMapStages.clear()
  }
}

/** Counts the jobs and the completed stages since the last `clear`.
  * Cheap enough to stay attached to the untraced passes of a traced
  * run, whose counts then sit beside the traced passes' counts.
  */
final class JobCounter extends SparkListener {
  private var started, ended, completedStages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(started += 1)
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized(ended += 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(completedStages += 1)

  def jobs: Int = synchronized(started)
  def stages: Int = synchronized(completedStages)
  /** True once every job started since `clear` has ended. */
  def drained: Boolean = synchronized(ended >= started)
  def clear(): Unit = synchronized { started = 0; ended = 0; completedStages = 0 }
}

/** Listener records of one interval: the jobs started in it, and their
  * stages and tasks.
  */
final case class Counters(jobs: Seq[JobRec], stages: Seq[StageRec],
    tasks: Seq[TaskRec]) {
  def taskS: Double = tasks.map(_.runMs).sum / 1e3

  def metrics(lo: Long, hi: Long): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "spark.shuffle_records" -> tasks.map(_.shuffleRecords).sum.toDouble,
      "spark.spill_mb" -> tasks.map(_.spill).sum / mb,
      "spark.peak_exec_mem_mb" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / mb),
      "spark.task_failures" -> tasks.count(_.failed).toDouble,
      // Every shuffle Exchange of a final plan that runs is one
      // shuffle-map stage, also inside the plans a lineage cut runs
      // directly (which post no SQL plan event); reused exchanges do
      // not run again.
      "spark.exchanges" -> stages.count(_.shuffleMap).toDouble,
      "operators.cuts" -> jobs.count(j => Counters.fileOf(j.callSite) ==
        "Checkpointing.scala").toDouble,
      "spark.busy_s" ->
        Counters.union(tasks.map(t => (t.launch, t.finish)), lo, hi) / 1e3)
  }
}

object Counters {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (0L, 0L)
    clipped.foreach { case (a, b) =>
      if (a > ce) {
        total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    total + ce - cs
  }

  /** `"count at KCore.scala:123"` → `"KCore.scala"`. Matching on the
    * file, not the method, keeps the attribution when a call site's
    * method changes.
    */
  def fileOf(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    (if (at >= 0) callSite.substring(at + 4) else callSite).takeWhile(_ != ':')
  }
}

/** Turns a traced pass into per-layer numbers and spans.
  *
  * The span chain is pass → query or phase (the benchmark's own calls
  * into the program) → Spark job → stage. Jobs belong to the benchmark
  * span that was open when they started; their layer is the program
  * module of the source file Spark names as their call site.
  */
final class Analysis(rec: Recorder, layerOfFile: String => String) {
  import Counters.union

  def counters(lo: Long, hi: Long): Counters = rec.synchronized {
    val js = rec.jobs.filter(j => j.start >= lo && j.start <= hi).toSeq
    val stageIds = js.flatMap(_.stageIds).toSet
    Counters(js, rec.stages.filter(s => stageIds(s.id)).toSeq,
      rec.tasks.filter(t => stageIds(t.stageId)).toSeq)
  }

  /** Per-layer numbers of one traced pass whose query/phase spans are
    * `items`. Self times split the pass's wall time along the chain:
    * time in no query (`bench.self_s`), in a program call but no Spark
    * job (`graft.self_s`), in a job but no stage (`spark.job_self_s`),
    * in a stage but no task (`spark.stage_self_s`) and in tasks
    * (`spark.busy_s`).
    */
  def summarize(pass: Span, items: Seq[Span]): Map[String, Double] = {
    val (lo, hi) = (pass.start, pass.end)
    val c = counters(lo, hi)
    val wall = hi - lo
    val itemsMs = union(items.map(s => (s.start, s.end)), lo, hi)
    val jobsMs = union(c.jobs.map(j => (j.start, j.end)), lo, hi)
    val stagesMs = union(c.stages.map(s => (s.submitted, s.completed)), lo, hi)
    val tasksMs = union(c.tasks.map(t => (t.launch, t.finish)), lo, hi)
    val self = Map(
      "bench.self_s" -> math.max(0L, wall - itemsMs) / 1e3,
      "graft.self_s" -> math.max(0L, itemsMs - jobsMs) / 1e3,
      "spark.job_self_s" -> math.max(0L, jobsMs - stagesMs) / 1e3,
      "spark.stage_self_s" -> math.max(0L, stagesMs - tasksMs) / 1e3,
      "spark.driver_gap_s" -> (wall - tasksMs) / 1e3)
    val perItem = items.flatMap { s =>
      val ic = counters(s.start, s.end)
      Seq(s"${s.name}.s" -> (s.end - s.start) / 1e3,
        s"${s.name}.jobs" -> ic.jobs.size.toDouble,
        s"${s.name}.task_s" -> ic.taskS)
    }
    c.metrics(lo, hi) ++ self ++ perItem
  }

  /** The pass's spans for the trace file: the benchmark's own spans
    * plus one span per Spark job and per completed stage, each with
    * its counters.
    */
  def spans(pass: Span, items: Seq[Span], nextId: () => Int)
      : Seq[Map[String, Any]] = {
    def parentOf(t: Long): Int =
      items.find(s => t >= s.start && t <= s.end).map(_.id).getOrElse(pass.id)
    def span(id: Int, parent: Int, name: String, layer: String, start: Long,
        end: Long, c: Counters): Map[String, Any] =
      Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
        "start_ms" -> start, "end_ms" -> end, "counters" -> c.metrics(start, end))
    val c = counters(pass.start, pass.end)
    val bench = (pass +: items).map(s => span(s.id, s.parent, s.name,
      s.layer, s.start, s.end, counters(s.start, s.end)))
    val sparkSpans = c.jobs.flatMap { j =>
      val jid = nextId()
      val js = c.stages.filter(s => j.stageIds.contains(s.id))
      span(jid, parentOf(j.start), j.callSite,
        layerOfFile(Counters.fileOf(j.callSite)), j.start, j.end,
        Counters(Seq(j), js, c.tasks.filter(t => j.stageIds.contains(t.stageId)))) +:
        js.map(s => span(nextId(), jid, s.name, "spark", s.submitted,
          s.completed, Counters(Nil, Seq(s), c.tasks.filter(_.stageId == s.id))))
    }
    bench ++ sparkSpans
  }
}

object Analysis {
  /** Maps a source file name to the program module that holds it, read
    * from the checkout's source tree: `graft/<module>/X.scala` → module,
    * other program files → "graft", the benchmark's own files →
    * "bench", anything else → "spark".
    */
  def layerMap(srcRoot: File): String => String = {
    val m = mutable.Map.empty[String, String]
    def walk(dir: File, module: String): Unit =
      Option(dir.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
        if (f.isDirectory) walk(f, if (module == "graft") f.getName else module)
        else if (f.getName.endsWith(".scala")) m.getOrElseUpdate(f.getName, module)
      }
    walk(new File(srcRoot, "graft"), "graft")
    val bench = Set("Main.scala", "Workloads.scala")
    name => m.getOrElse(name, if (bench(name)) "bench" else "spark")
  }
}
