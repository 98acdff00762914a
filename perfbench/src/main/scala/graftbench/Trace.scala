package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is the enclosing span's
  * id (0 at the top); every Spark job launched while this is the innermost
  * open span carries the job group `span-<id>`.
  */
final class Span(val id: Int, val parent: Int, val name: String,
                 val layer: String, val startNs: Long) {
  var endNs: Long = startNs
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap()
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times the benchmark's calls into each layer. Durations are always
  * measured (they are the end-to-end figures); spans are kept, and Spark
  * jobs are tagged with the span's job group, only when tracing is on.
  * The benchmark drives graft from one client thread, so one stack
  * suffices.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val t0 = System.nanoTime()
  private val kept = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  /** Runs `f` as a span and returns its value with its wall seconds. */
  def timed[A](name: String, layer: String, attrs: (String, Any)*)(f: => A): (A, Double) = {
    val s = new Span(nextId, stack.headOption.fold(0)(_.id), name, layer, System.nanoTime())
    nextId += 1
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    if (enabled) {
      kept += s
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    }
    stack = s :: stack
    try {
      val a = f
      s.endNs = System.nanoTime()
      (a, s.seconds)
    } finally {
      if (s.endNs == s.startNs) s.endNs = System.nanoTime()
      stack = stack.tail
      if (enabled) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def span[A](name: String, layer: String, attrs: (String, Any)*)(f: => A): A =
    timed(name, layer, attrs: _*)(f)._1

  def toJson: Map[String, Any] = {
    listener.foreach(_ => org.apache.spark.graftbench.ListenerBus.drain(sc))
    Map(
      "spans" -> kept.map { s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
          "start_s" -> (s.startNs - t0) / 1e9, "dur_s" -> s.seconds,
          "attrs" -> s.attrs)
      },
      "jobs" -> listener.fold(Seq.empty[Map[String, Any]])(_.jobsJson))
  }
}

/** Collects Spark's own job, stage and task counters, keyed by the job
  * group the [[Tracer]] set, for attribution to spans afterwards.
  */
final class JobListener extends SparkListener {
  private final class Stage {
    var tasks = 0; var wallMs = 0L; var maxTaskMs = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var result = 0L
  }
  private final class Job(val group: String, val stageIds: Seq[Int]) { var wallMs = 0L; var start = 0L }
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(g, e.stageIds); j.start = e.time
    jobs(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => j.wallMs = e.time - j.start)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage)
    s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new Stage)
    val m = i.taskMetrics
    s.tasks += i.numTasks
    s.wallMs += (for (a <- i.submissionTime; b <- i.completionTime) yield b - a).getOrElse(0L)
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.result += m.resultSize
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized {
    // a stage reused by a later job is skipped there: it belongs to the
    // first job that lists it
    val owner = mutable.HashMap[Int, Int]()
    jobs.foreach { case (id, j) => j.stageIds.foreach(sid => owner.getOrElseUpdate(sid, id)) }
    jobs.toSeq.map { case (id, j) =>
      val done = j.stageIds.filter(owner.get(_).contains(id))
        .flatMap(sid => stages.get(sid).filter(_.tasks > 0).map(sid -> _))
      Map("id" -> id, "group" -> j.group, "wall_s" -> j.wallMs / 1e3,
        "stages" -> done.map { case (sid, s) =>
          Map("id" -> sid, "tasks" -> s.tasks, "wall_s" -> s.wallMs / 1e3,
            "max_task_s" -> s.maxTaskMs / 1e3, "run_s" -> s.runMs / 1e3,
            "cpu_s" -> s.cpuNs / 1e9, "shuffle_read_b" -> s.shuffleRead,
            "shuffle_write_b" -> s.shuffleWrite, "spill_b" -> s.spill,
            "result_b" -> s.result)
        })
    }
  }
}
