package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine counters summed over every task and job the listener saw. */
final case class Engine(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuMs: Double = 0, gcMs: Double = 0, shuffleWrite: Long = 0, spill: Long = 0,
    input: Long = 0, output: Long = 0) {
  def -(o: Engine): Engine = Engine(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuMs - o.cpuMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, spill - o.spill,
    input - o.input, output - o.output)
  def +(o: Engine): Engine = Engine(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite, spill + o.spill,
    input + o.input, output + o.output)
}

/** The engine layer's view, attached only in traced passes. */
final class EngineListener extends SparkListener {
  @volatile private var c = Engine()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart.put(e.jobId, e.time)
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m == null) c = c.copy(tasks = c.tasks + 1)
    else c = c + Engine(tasks = 1, cpuMs = m.executorCpuTime / 1e6, gcMs = m.jvmGCTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled,
      input = m.inputMetrics.bytesRead, output = m.outputMetrics.bytesWritten)
  }

  def snapshot(spark: SparkSession): Engine = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    synchronized(c)
  }

  /** Wall time of [t0, t1] (epoch ms) not covered by any job that ran in it. */
  def gapMs(t0: Long, t1: Long): Double = synchronized {
    val in = intervals.filter { case (s, e) => e >= t0 && s <= t1 }
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }.sortBy(_._1)
    var covered = 0L
    var end = t0
    in.foreach { case (s, e) =>
      val from = math.max(s, end)
      if (e > from) { covered += e - from; end = e }
    }
    (t1 - t0) - covered
  }
}

/** Spans around the benchmark's calls into each layer. Kept in memory and
  * written with the result when the run ends; recording is off outside
  * traced passes, where `span` is a plain call. */
object Trace {
  final case class Span(id: Int, parent: Int, op: Long, name: String,
      startMs: Double, endMs: Double)

  @volatile var on = false
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var opId = 0L

  /** A new operation id; spans opened under it share it. */
  def newOp(): Long = { opId += 1; opId }

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val s = Clock.ms(t0)
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, opId, name, s, Clock.ms(t0))
    }
  }

  /** Summed duration of spans with this name. */
  def total(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => s.endMs - s.startMs).sum

  def count(name: String): Int = spans.count(_.name == name)

  def json: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
