package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** What one workload run measured: operation counts, the correctness
  * checks it made, its end-to-end metrics and (traced runs) its per-layer
  * metrics and spans. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    e2e: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    extra: Seq[(String, Any)] = Nil)

final case class Ctx(spark: SparkSession, data: String, work: String, seed: Long,
    seconds: Double, traced: Boolean, inject: Boolean) {
  val rng = new scala.util.Random(seed)
}

object Session {
  /** The session `graft.Bench` runs: extensions, AQE may resize cached
    * plans, UTC, one shuffle partition per core. */
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.ensure(spark)
    spark
  }

  def conf(spark: SparkSession): Seq[(String, Any)] = Seq(
    "master" -> spark.sparkContext.master,
    "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" ->
      spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"),
    "spark.sql.extensions" -> spark.conf.get("spark.sql.extensions"),
    "spark.sql.codegen.cache.maxEntries" ->
      sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "default"),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "java.io.tmpdir" -> sys.props("java.io.tmpdir"))
}

/** CPU time of this JVM's threads except the JIT compiler's: the process
  * CPU time less the scheduler's run time of the compiler threads
  * (`/proc/self/task/<tid>/schedstat`). The compiler threads are fixed at
  * start (`-XX:-UseDynamicNumberOfCompilerThreads`), so they are listed
  * once. Without `/proc` it is the process CPU time. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(f: java.io.File): String =
    try Files.readString(f.toPath).trim catch { case _: java.io.IOException => "" }

  private lazy val jitThreads: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten
      .filter(t => read(new java.io.File(t, "comm")).contains("CompilerThre"))
      .map(new java.io.File(_, "schedstat"))

  def jitNs: Long = jitThreads.map(f => read(f).takeWhile(_ != ' ')).filter(_.nonEmpty).map(_.toLong).sum

  def engineNs: Long = os.getProcessCpuTime - jitNs
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Seconds since the JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it
    * (nearest rank), with that percentile and the sample count. */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) return (s.lastOption.getOrElse(Double.NaN), 100, n)
    var p = 100 * (n - 10) / n
    def rank(p: Int) = math.max(1, math.ceil(p / 100.0 * n).toInt)
    while (p > 0 && n - rank(p) < 10) p -= 1
    (s(rank(p) - 1), p, n)
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Driver live heap after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Minimal JSON writer for the result file (no extra dependency). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: java.math.BigDecimal => n.toPlainString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
          case (_: String, _) => true
          case _ => false
        } =>
      kv.map { case (k: String, x) => str(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case p: Product => p.productIterator.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), apply(v))
}

object Files2 {
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }
  def fresh(path: String): String = {
    val f = new java.io.File(path)
    rm(f); f.mkdirs(); f.getAbsolutePath
  }
}

/** Loop helpers shared by the workloads: whole rounds of a seeded,
  * shuffled operation list, first a fixed number untimed to warm the JVM,
  * then timed until the time budget is spent. */
object Loop {
  /** One round's wall and engine CPU totals, in ms. */
  private def once(r: Int, round: Int => Unit): (Double, Double) = {
    val c0 = Cpu.engineNs
    val (_, ms) = Clock.time(round(r))
    (ms, (Cpu.engineNs - c0) / 1e6)
  }

  /** Runs `n` untimed warm-up rounds; returns each round's totals. */
  def warm(n: Int)(round: Int => Unit): Seq[(Double, Double)] = (0 until n).map(once(_, round))

  /** Timed rounds: at least two, so each operation has two samples even
    * when one round outlasts the time budget (`table_dml`). A traced run
    * takes four (bare, traced, traced, bare), so that its tracing overhead
    * is not a warm-up trend. `--seconds 0` takes none: the run that makes
    * the class archive times nothing. */
  def minRounds(ctx: Ctx): Int = if (ctx.seconds <= 0) 0 else if (ctx.traced) 4 else 2

  /** Runs timed rounds until the time budget is spent and at least
    * `minRounds` ran; returns each round's totals. */
  def timed(ctx: Ctx)(round: Int => Unit): Seq[(Double, Double)] = {
    val t0 = System.nanoTime()
    val totals = ArrayBuffer[(Double, Double)]()
    while (totals.size < minRounds(ctx) || Clock.ms(t0) < ctx.seconds * 1000)
      totals += once(totals.size, round)
    totals.toSeq
  }

  def geomeanOfMedians(byOp: collection.Map[String, ArrayBuffer[Double]]): Double =
    Stats.geomean(byOp.values.map(b => Stats.median(b.toSeq)).toSeq)

  /** Median, tail (with its percentile and sample count) and throughput,
    * recorded in the sidecar. */
  def summary(samples: Seq[Double], wallMs: Double): Seq[(String, Any)] = {
    val (t, p, n) = Stats.tail(samples)
    Seq("op_p50_ms" -> Stats.median(samples), "op_tail_ms" -> t, "tail_percentile" -> p,
      "samples" -> n, "ops_per_s" -> n / (wallMs / 1000))
  }
}
