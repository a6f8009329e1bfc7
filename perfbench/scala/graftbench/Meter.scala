package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Times the workload's operations. Untraced runs time every operation
  * bare. Traced runs alternate rounds as bare, traced, traced, bare, …:
  * traced rounds attach the engine listener and record spans, so one run
  * gives the per-layer numbers and the tracing overhead against its own
  * bare rounds, with as many bare rounds before as after the traced ones. */
final class Meter(ctx: Ctx) {
  val bare = ArrayBuffer[Double]()
  val traced = ArrayBuffer[Double]()
  val byKind = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val byName = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val cpuByName = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val failures = ArrayBuffer[String]()
  private var tracing = false
  private var listener: EngineListener = _
  private var engine = Engine()
  private var gapMs = 0.0
  private var tracedOps = 0
  var tracedRounds = 0
  /** Engine counters of each operation's first traced execution: fixed for
    * a seed, so they diff exactly across commits. */
  val firstCounters = mutable.LinkedHashMap[String, Engine]()

  def round(r: Int): Unit = if (ctx.traced) {
    val want = r % 4 == 1 || r % 4 == 2
    if (want && !tracing) {
      listener = new EngineListener
      ctx.spark.sparkContext.addSparkListener(listener)
    } else if (!want && tracing) {
      listener.snapshot(ctx.spark)
      ctx.spark.sparkContext.removeSparkListener(listener)
    }
    if (want) tracedRounds += 1
    tracing = want
    Trace.on = want
  }

  def stop(): Unit = { round(0); Trace.on = false }

  /** Runs one timed operation of `kind` (named `name` for its counters). A
    * throw counts as a failed operation and is not a latency sample. */
  def op(kind: String, name: String)(body: => Unit): Unit = {
    Trace.newOp()
    val before = if (tracing) listener.snapshot(ctx.spark) else null
    val c0 = Cpu.engineNs
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { Trace.span(kind)(body); true } catch {
      case e: Throwable =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
    val ms = Clock.ms(t0)
    val cpu = (Cpu.engineNs - c0) / 1e6
    if (ok) {
      (if (tracing) traced else bare) += ms
      if (!tracing) {
        byKind.getOrElseUpdate(kind, ArrayBuffer()) += ms
        byName.getOrElseUpdate(name, ArrayBuffer()) += ms
        cpuByName.getOrElseUpdate(name, ArrayBuffer()) += cpu
      }
    }
    if (tracing) {
      val d = listener.snapshot(ctx.spark) - before
      engine = engine + d
      gapMs += listener.gapMs(w0, System.currentTimeMillis())
      tracedOps += 1
      if (!firstCounters.contains(name)) firstCounters(name) = d
    }
  }

  def attempted: Long = bare.size + traced.size + failures.size

  /** Geometric mean, over the workload's operations, of each operation's
    * median engine CPU time (gated) and median latency (sidecar only). */
  def e2e: Seq[(String, Double, String)] = Seq(
    ("op_cpu_ms", Loop.geomeanOfMedians(cpuByName), "ms"),
    ("op_geomean_ms", Loop.geomeanOfMedians(byName), "ms"))

  def summary(wallMs: Double): Seq[(String, Any)] = Loop.summary(bare.toSeq, wallMs)

  def p50(kind: String): Double = byKind.get(kind).map(b => Stats.median(b.toSeq)).getOrElse(0.0)

  /** Engine layer, per traced operation, plus the tracing overhead. */
  def engineLayer: Seq[(String, Double, String)] = {
    val n = math.max(1, tracedOps).toDouble
    val overhead =
      if (traced.isEmpty || bare.isEmpty) 0.0
      else (Stats.median(traced.toSeq) / Stats.median(bare.toSeq) - 1) * 100
    Seq(
      ("spark.jobs", engine.jobs / n, "jobs/op"),
      ("spark.stages", engine.stages / n, "stages/op"),
      ("spark.tasks", engine.tasks / n, "tasks/op"),
      ("spark.driver_gap_ms", gapMs / n, "ms/op"),
      ("spark.executor_cpu_ms", engine.cpuMs / n, "ms/op"),
      ("spark.gc_ms", engine.gcMs / n, "ms/op"),
      ("spark.shuffle_write_bytes", engine.shuffleWrite / n, "B/op"),
      ("spark.spill_bytes", engine.spill / n, "B/op"),
      ("spark.input_bytes", engine.input / n, "B/op"),
      ("spark.output_bytes", engine.output / n, "B/op"),
      ("trace.op_p50_ms", if (traced.isEmpty) 0.0 else Stats.median(traced.toSeq), "ms"),
      ("trace.bare_op_p50_ms", if (bare.isEmpty) 0.0 else Stats.median(bare.toSeq), "ms"),
      ("trace.overhead_pct", overhead, "%"))
  }

  /** Each operation's timed samples, as [wall ms, engine CPU ms]. */
  def samplesJson: Map[String, Seq[Seq[Double]]] = byName.map { case (k, v) =>
    k -> v.indices.map(i => Seq(v(i), cpuByName(k)(i)))
  }.toMap

  def countersJson: Map[String, Map[String, Any]] = firstCounters.map { case (k, e) =>
    k -> Map[String, Any]("jobs" -> e.jobs, "stages" -> e.stages, "tasks" -> e.tasks,
      "shuffle_write_bytes" -> e.shuffleWrite, "spill_bytes" -> e.spill,
      "input_bytes" -> e.input, "output_bytes" -> e.output)
  }.toMap
}
