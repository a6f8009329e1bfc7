package graftbench

/** One benchmark run in this JVM:
  *
  *   graftbench.Main --workload query_mix|table_dml|train --seed N
  *     --seconds S --trace 0|1 --data DIR --work DIR --out FILE [--inject 1]
  *
  * `--data` holds the inputs `perfbench/gen.py` made from the seed; the
  * result (metrics, checks, per-layer numbers, spans) goes to `--out` as
  * JSON. `--inject 1` plants one wrong expected value (self-test only). */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Session.build(Runtime.getRuntime.availableProcessors)
    val sessionS = Clock.sinceJvmStart
    val ctx = Ctx(spark, o("data"), o("work"), o("seed").toLong, o("seconds").toDouble,
      o.get("trace").contains("1"), o.get("inject").contains("1"))
    val meter = new Meter(ctx)
    val out = o("workload") match {
      case "query_mix" => QueryMix.run(ctx, meter)
      case "table_dml" => TableDml.run(ctx, meter)
      // both workloads' untimed rounds, for the class archive (--seconds 0)
      case "train" => QueryMix.run(ctx, meter); TableDml.run(ctx, meter)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val heap = Stats.liveHeapMb()
    Json.write(o("out"), Seq(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "e2e" -> (out.e2e :+ ("heap_live_mb", heap, "MB")).map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) },
      "layers" -> (out.layers ++ (if (ctx.traced) meter.engineLayer else Nil))
        .map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) },
      "counters" -> meter.countersJson,
      "samples" -> meter.samplesJson,
      "conf" -> Session.conf(spark),
      "extra" -> (("session_s" -> sessionS) +: out.extra),
      "spans" -> (if (ctx.traced) Trace.json else Nil)))
    spark.stop()
  }
}
