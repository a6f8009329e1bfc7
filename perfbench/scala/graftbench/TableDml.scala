package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.streaming.StreamOps
import graft.tables.TxTable

/** `table_dml`: a seeded sequence of SQL statements against a private
  * 16-file events TxTable and one aggregate materialized view over it, plus
  * a `stream` step: one new event file drained with `Trigger.AvailableNow`
  * through the stateful counter→rate operator (transformWithState, RocksDB
  * state) into a TxTable sink, restarting from its checkpoint. One client
  * in a closed loop. The final table is checked against a replay of the
  * same statements on an in-memory model, the view against a full
  * recompute of its defining query, and the rate table against its batch
  * twin `q_win_lag` over the files drained so far. */
object TableDml {
  final case class Ev(user: Long, kind: String, value: Double)
  final case class Stmt(kind: String, sql: String, apply: Vector[Ev] => (Vector[Ev], Long))

  val Types = Seq("click", "error", "purchase", "signup", "view")
  val Writes = Set("insert", "merge", "update", "delete")
  /** One round: these kinds in a seeded order, then `Tail` in order, so
    * that OPTIMIZE always finds the two fresh insert files to compact and
    * REFRESH always folds in one round's writes, leaving the view fresh
    * for the check at the end. */
  val Round = Seq("merge", "update", "delete", "select", "select", "stream")
  val Tail = Seq("insert", "insert", "optimize", "refresh")
  /** The cold round is the only untimed one. Round totals fall for about
    * three rounds (4-core host: 11.0 s, 9.4, 7.3, then 6-7 s), REFRESH the
    * longest, but the time all of the benchmark's runs may take together
    * affords no warm-up round beyond the cold one, and two timed rounds. */
  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def dbl(v: Double) = s"CAST($v AS DOUBLE)"

  def run(ctx: Ctx, meter: Meter): Outcome = {
    val spark = ctx.spark
    val rng = ctx.rng
    val events = spark.read.parquet(s"${ctx.data}/events.parquet")
      .select(col("user_id"), col("event_type"), col("value"))
    val users = events.agg(max("user_id")).head().getLong(0) + 1
    val viewSql = (root: String) =>
      "SELECT user_id, event_type, count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS v_sum " +
        s"FROM txtable.`$root` GROUP BY user_id, event_type"

    // set-up: the 16-file table (TableOps.eventsTableRoot's layout) and its view
    val dir = Files2.fresh(s"${ctx.work}/dml")
    val root = s"$dir/events"
    val mv = s"$dir/mv"
    val (_, prepareMs) = Clock.time {
      new TxTable(root, Seq("user_id"))
        .append(spark, events.repartitionByRange(16, col("user_id")))
      spark.sql(s"CREATE MATERIALIZED VIEW txtable.`$mv` TBLPROPERTIES('statCols'='user_id') AS " +
        viewSql(root))
    }
    val q = s"txtable.`$root`"

    // the stream step's input: staged event files, moved one per step
    val staged = new java.io.File(s"${ctx.data}/stream/events.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val streamDir = Files2.fresh(s"$dir/stream")
    val srcDir = Files2.fresh(s"$streamDir/events.parquet")
    val rates = new TxTable(s"$dir/rates", Seq("user_id"))
    var drained = 0
    val streamProgress = ArrayBuffer[StreamingQueryProgress]()
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", spark.read.parquet(staged.head.getPath).schema("ts").dataType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def drainNext(): Seq[StreamingQueryProgress] = {
      val f = staged(drained)
      java.nio.file.Files.copy(f.toPath, new java.io.File(srcDir, f.getName).toPath)
      drained += 1
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
      val events = StreamOps.normalizeEvents(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir))
      val sq = StreamOps.txTableSink(StreamOps.counterToRateTws(events).toDF(), rates, "rates",
        s"$dir/rates_checkpoint").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      sq.exception.foreach(e => throw e)
      sq.recentProgress.toSeq
    }
    var model = events.collect().map(r => Ev(r.getLong(0), r.getString(1), r.getDouble(2))).toVector

    def gen(kind: String): Stmt = kind match {
      case "insert" =>
        val rows = Seq.fill(5)(Ev(rng.nextLong(users), Types(rng.nextInt(5)), rng.nextInt(50000) / 100.0))
        Stmt(kind, s"INSERT INTO $q VALUES " +
          rows.map(e => s"(CAST(${e.user} AS BIGINT), '${e.kind}', ${dbl(e.value)})").mkString(", "),
          m => (m ++ rows, rows.size))
      case "merge" =>
        val keys = Seq.fill(4)((rng.nextLong(users + 5), Types(rng.nextInt(5)))).distinct
        val src = keys.map { case (u, t) => Ev(u, t, rng.nextInt(50000) / 100.0) }
        val using = src.map(e => s"SELECT CAST(${e.user} AS BIGINT) AS user_id, '${e.kind}' AS event_type, " +
          s"${dbl(e.value)} AS value").mkString(" UNION ALL ")
        Stmt(kind, s"MERGE INTO $q AS t USING ($using) AS s " +
          "ON t.user_id = s.user_id AND t.event_type = s.event_type " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
          // the engine's keyed upsert: every target row of a matched key is
          // replaced by that key's source row (q_sql_table_merge_multikey)
          m => {
            val keys = src.map(e => (e.user, e.kind)).toSet
            val (matched, kept) = m.partition(e => keys((e.user, e.kind)))
            (kept ++ src, matched.size.toLong + src.size)
          })
      case "update" =>
        val lo = rng.nextLong(users)
        Stmt(kind, s"UPDATE $q SET value = value + 1 WHERE user_id BETWEEN $lo AND ${lo + 2}",
          m => {
            var n = 0L
            (m.map(e => if (e.user >= lo && e.user <= lo + 2) { n += 1; e.copy(value = e.value + 1) } else e), n)
          })
      case "delete" =>
        val u = rng.nextLong(users)
        Stmt(kind, s"DELETE FROM $q WHERE user_id = $u",
          m => { val (gone, kept) = m.partition(_.user == u); (kept, gone.size) })
      case "select" =>
        val lo = rng.nextLong(users)
        Stmt(kind, s"SELECT event_type, count(*) AS n, sum(value) AS v FROM $q " +
          s"WHERE user_id BETWEEN $lo AND ${lo + 9} GROUP BY event_type", m => (m, 0L))
      case "refresh" => Stmt(kind, s"REFRESH MATERIALIZED VIEW txtable.`$mv`", m => (m, 0L))
      // compacts the small files the inserts left, and keeps the 16 range
      // files that band pruning works on
      case "optimize" => Stmt(kind, s"OPTIMIZE $q SMALLER THAN 100", m => (m, 0L))
      case "stream" => Stmt(kind, "", m => (m, 0L))
    }

    val refreshModes = mutable.Map[String, Int]()
    val pruned = ArrayBuffer[(Int, Int)]()
    val parseMs = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
    var userRows = 0L
    def exec(s: Stmt): Unit = if (s.kind == "stream") {
      val ps = Trace.span("stream.drain")(drainNext())
      if (Trace.on) streamProgress ++= ps
    } else {
      if (Trace.on) {
        val (_, ms) = Clock.time(Trace.span("sql.parse")(spark.sessionState.sqlParser.parsePlan(s.sql)))
        parseMs.getOrElseUpdate(s.kind, ArrayBuffer()) += ms
      }
      val rows = Trace.span(s"sql.${s.kind}")(spark.sql(s.sql).collect())
      s.kind match {
        case "refresh" => rows.headOption.foreach(r => refreshModes(r.getString(0)) =
          refreshModes.getOrElse(r.getString(0), 0) + 1)
        case "select" => graft.sources.TxBatchSource.pruneOf(root).foreach(pruned += _)
        case _ =>
      }
    }
    def step(kind: String, timed: Boolean): Unit = if (kind != "stream" || drained < staged.size) {
      val s = gen(kind)
      var ok = false
      if (timed) meter.op(if (Writes(kind)) "write" else kind, kind) { exec(s); ok = true }
      else { exec(s); ok = true }
      if (ok) { val (m, n) = s.apply(model); model = m; userRows += n }
    }

    // the cold round
    val roundKinds = () => rng.shuffle(Round) ++ Tail
    val (_, coldMs) = Clock.time(roundKinds().foreach(step(_, timed = false)))
    val setupS = Clock.sinceJvmStart
    val table = TxTable.open(root)
    val versionStart = table.detail().version
    val bytesStart = dirBytes(s"$root/data")
    userRows = 0L

    val roundMs = Loop.timed(ctx) { r =>
      meter.round(r)
      roundKinds().foreach(step(_, timed = true))
    }
    val rounds = roundMs.size
    val wall = roundMs.map(_._1).sum
    meter.stop()

    // checks (untimed): view == full recompute, table == model replay;
    // the last round's REFRESH left the view fresh
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val view = rowsOf(spark.sql(s"SELECT user_id, event_type, n, v_sum FROM txtable.`$mv`"))
    val recompute0 = rowsOf(spark.sql(s"SELECT user_id, event_type, n, v_sum FROM (${viewSql(root)})"))
    val recompute = if (ctx.inject) recompute0.updated(0, recompute0.head + "x") else recompute0
    val actual = spark.sql(s"SELECT user_id, event_type, value FROM $q").collect()
      .map(r => Ev(r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sortBy(e => (e.user, e.kind, e.value))
    val expected = model.sortBy(e => (e.user, e.kind, e.value))
    val streamed = rowsOf(rates.read(spark).select("user_id", "event_id", "delta", "dt_us"))
    val twin = rowsOf(SparkEntry.queries("q_win_lag")(spark, streamDir)
      .filter(col("delta").isNotNull).select("user_id", "event_id", "delta", "dt_us"))
    val checks = Seq(
      ("table_dml.view_equals_recompute", view == recompute,
        s"${view.size} view rows vs ${recompute.size} recomputed"),
      ("table_dml.table_equals_model", actual == expected,
        s"${actual.size} table rows vs ${expected.size} model rows"),
      ("table_dml.stream_equals_batch_twin", streamed == twin && twin.nonEmpty,
        s"${streamed.size} streamed vs ${twin.size} batch rows over $drained files"))

    val layers = if (!ctx.traced) Nil else {
      val hist = table.history().filter(_.version > versionStart)
      val commits = math.max(1, hist.size).toDouble
      val written = dirBytes(s"$root/data") - bytesStart
      val kinds = Seq("insert", "merge", "update", "delete", "select", "refresh", "optimize")
      kinds.map(k => (s"sql.$k.parse_ms", parseMs.get(k).map(b => Stats.median(b.toSeq)).getOrElse(0.0), "ms")) ++
        Seq(("tables.files_added_per_commit", hist.map(_.addedFiles).sum / commits, "files/commit"),
          ("tables.files_removed_per_commit", hist.map(_.removedFiles).sum / commits, "files/commit"),
          ("tables.live_files_end", table.detail().numFiles.toDouble, "files"),
          ("tables.bytes_written_per_user_byte",
            if (userRows == 0) 0.0 else written.toDouble / (userRows * 24.0), "ratio"),
          ("sources.files_scanned_ratio",
            if (pruned.isEmpty) 0.0 else pruned.map(_._1).sum.toDouble / pruned.map(_._2).sum, "ratio"),
          ("tables.refresh_incremental", refreshModes.getOrElse("incremental", 0).toDouble, "count"),
          ("tables.refresh_full", refreshModes.filter(_._1 != "incremental").values.sum.toDouble, "count"),
          ("dml.write_p50_ms", meter.p50("write"), "ms"),
          ("dml.read_p50_ms", meter.p50("select"), "ms"),
          ("dml.refresh_p50_ms", meter.p50("refresh"), "ms")) ++
        streamLayer(streamProgress.toSeq)
    }
    Outcome(
      attempted = meter.attempted,
      failed = meter.failures.size,
      checks = checks,
      e2e = meter.e2e :+ ("setup_s", setupS, "s"),
      layers = layers,
      extra = Seq("rounds" -> rounds, "failures" -> meter.failures.toSeq,
        "prepare_ms" -> prepareMs, "cold_ms" -> coldMs,
        "timed_rounds" -> roundMs,
        "p50_by_kind_ms" -> meter.byKind.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
        "refresh_modes" -> refreshModes.toMap, "stream_files_drained" -> drained) ++ meter.summary(wall))
  }

  private val Phases = Seq("latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
    "addBatch" -> "add_batch", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")

  /** Per-batch p50 of each micro-batch phase and of rows/s, and the state
    * store of the counter→rate operator, over the traced stream steps. */
  def streamLayer(ps: Seq[StreamingQueryProgress]): Seq[(String, Double, String)] = {
    val data = ps.filter(_.numInputRows > 0)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val ops = data.flatMap(_.stateOperators.toSeq)
    Phases.map { case (k, m) =>
      (s"stream.${m}_ms", p50(data.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))), "ms")
    } ++ Seq(
      ("stream.batch_p50_ms", p50(data.map(_.durationMs.get("triggerExecution").doubleValue)), "ms"),
      ("stream.rows_per_s", p50(data.map(_.processedRowsPerSecond)), "rows/s"),
      ("stream.state_rows", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      ("stream.state_memory_bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "B"),
      ("stream.state_commit_ms", p50(ops.map(_.commitTimeMs.toDouble)), "ms"))
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new java.io.File(path))
  }
}
