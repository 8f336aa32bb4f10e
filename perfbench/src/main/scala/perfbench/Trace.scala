package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around each call the benchmark makes into an engine module. Kept
  * in memory and written once when the run ends. While `enabled` is off,
  * `span` only runs its body. */
final class Tracer(runId: String) {
  var enabled = false
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Self seconds per layer (span name prefix before the first dot): a
    * span's duration minus the part its child spans cover. */
  def layerSelf: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (layer, ss) => layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum }
  }

  def write(path: Path): Unit = if (spans.nonEmpty) {
    val lines = spans.sortBy(_.id).map { s =>
      Json.render(Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark scheduler counters, read as differences between two snapshots. */
final case class CounterSnap(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0) {
  def -(o: CounterSnap): CounterSnap = CounterSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead, spill - o.spill)
  def +(o: CounterSnap): CounterSnap = CounterSnap(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill)
}

/** Per-task samples of one stage: duration and shuffle bytes read. */
final case class StageTasks(stageId: Int, durationsMs: Seq[Long], shuffleRead: Seq[Long])

final class Counters(sc: SparkContext) extends SparkListener {
  @volatile private var cur = CounterSnap()
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur = cur.copy(jobs = cur.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur = cur.copy(stages = cur.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val rd = m.shuffleReadMetrics.totalBytesRead
      cur = cur.copy(tasks = cur.tasks + 1, cpuNs = cur.cpuNs + m.executorCpuTime,
        runMs = cur.runMs + m.executorRunTime, gcMs = cur.gcMs + m.jvmGCTime,
        shuffleWrite = cur.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = cur.shuffleRead + rd,
        spill = cur.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        ((e.taskInfo.duration, rd))
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(): CounterSnap = { org.apache.spark.PerfbenchBus.drain(sc); synchronized(cur) }

  /** Stages completed since `sinceStage` (exclusive), with their tasks. */
  def stagesAfter(sinceStage: Int): Seq[StageTasks] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      stageTasks.toSeq.filter(_._1 > sinceStage).sortBy(_._1)
        .map { case (id, ts) => StageTasks(id, ts.map(_._1).toSeq, ts.map(_._2).toSeq) }
    }
  }

  def lastStageId: Int = { org.apache.spark.PerfbenchBus.drain(sc); synchronized {
    if (stageTasks.isEmpty) -1 else stageTasks.keys.max } }
}
