package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** Spark jobs per SQL DML statement on a declared 16-range-file table —
  * the statement kinds the `table_dml` benchmark workload runs (band
  * UPDATE, point DELETE, composite-key MERGE, OPTIMIZE … SMALLER THAN).
  * Job counts do not move with host noise, so they are the first
  * regression signal for the row-level DML pipeline: every bound below
  * is the count the pipeline runs today, pinned as an upper bound. A
  * statement that starts paying a footer-inference job, an emptiness
  * probe or a second classification pass fails here by name. */
class DmlJobCountSpec extends AnyFunSuite with SparkFixture {

  /** 3200 rows, user_id 0..319 (10 rows each), range-partitioned into 16
    * files of 20 users — a declared table (the first append declares). */
  private def table(): TxTable = {
    Tables.ensure(spark)
    val t = new TxTable(Files.createTempDirectory("graft_dmljobs").toString,
      Seq("user_id"))
    val kinds = array(Seq("click", "error", "purchase", "signup", "view").map(lit): _*)
    t.append(spark, spark.range(0, 3200).select(
        (col("id") % 320).as("user_id"),
        element_at(kinds, (col("id") % 5 + 1).cast("int")).as("event_type"),
        (col("id") % 997 / 4.0).as("value"))
      .repartitionByRange(16, col("user_id")))
    t
  }

  /** (jobs, stage names) one statement schedules: the jobs carrying the
    * statement's own job group, so a late event of an earlier statement
    * is never counted. Listener delivery is asynchronous: wait until the
    * count stops moving. */
  private def jobsOf(sql: String): (Int, Seq[String]) = {
    val group = s"dml-jobs-${java.util.UUID.randomUUID()}"
    val names = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          j.stageInfos.headOption.foreach(s => names.add(s.name))
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, sql)
    try spark.sql(sql).collect()
    finally {
      spark.sparkContext.clearJobGroup()
      var last = -1
      while (jobs.get != last) { last = jobs.get; Thread.sleep(100) }
      spark.sparkContext.removeSparkListener(l)
    }
    (jobs.get, names.toArray(Array.empty[String]).toSeq)
  }

  private def statements(t: TxTable): Seq[(String, String)] = {
    val q = s"txtable.`${t.root}`"
    val src = Seq((41L, "click", 1.5), (42L, "view", 2.5), (400L, "error", 3.5))
      .map { case (u, k, v) =>
        s"SELECT CAST($u AS BIGINT) AS user_id, '$k' AS event_type, CAST($v AS DOUBLE) AS value"
      }.mkString(" UNION ALL ")
    Seq(
      "band UPDATE" -> s"UPDATE $q SET value = value + 1 WHERE user_id BETWEEN 40 AND 42",
      "point DELETE" -> s"DELETE FROM $q WHERE user_id = 77",
      "composite-key MERGE" -> (s"MERGE INTO $q AS t USING ($src) AS s " +
        "ON t.user_id = s.user_id AND t.event_type = s.event_type " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
      "INSERT" -> s"INSERT INTO $q VALUES (CAST(5 AS BIGINT), 'click', CAST(1.0 AS DOUBLE))",
      "INSERT" -> s"INSERT INTO $q VALUES (CAST(6 AS BIGINT), 'view', CAST(2.0 AS DOUBLE))",
      "OPTIMIZE SMALLER THAN" -> s"OPTIMIZE $q SMALLER THAN 100")
  }

  test("job count per DML statement on a declared 16-range-file table") {
    // one untimed pass settles the session's first-use jobs
    statements(table()).foreach { case (_, sql) => spark.sql(sql).collect() }
    val t = table()
    assert(t.snapshot().files.size == 16 && t.snapshot().meta.nonEmpty)
    val bounds = Map("band UPDATE" -> 1, "point DELETE" -> 1,
      "composite-key MERGE" -> 5, "OPTIMIZE SMALLER THAN" -> 3)
    val seen = statements(t).map { case (kind, sql) => (kind, jobsOf(sql)) }
    seen.filter { case (kind, _) => bounds.contains(kind) }.foreach {
      case (kind, (n, stages)) =>
        assert(n >= 1 && n <= bounds(kind),
          s"$kind ran $n jobs (bound ${bounds(kind)}): ${stages.mkString("; ")}")
    }
    // the statements did what they say: OPTIMIZE packed the two inserts
    assert(t.snapshot().files.size <= 17, s"${t.snapshot().files.size} live files")
    assert(t.read(spark).filter(col("user_id") === 77).count() == 0)
  }
}
