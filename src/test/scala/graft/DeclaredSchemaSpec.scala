package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tables.TxTable

/** First-write schema declaration + the snapshot memo (round 15): every
  * table BORN through append/overwrite carries its schema in the
  * manifest from commit 1 — the lakehouse contract that lets every read
  * plan under the declaration instead of firing a footer-inference job
  * (at manifest scale: one log line vs a million parquet footers), and
  * lets later appends evolve through the same add/widen rules with
  * conflicts refused at WRITE time. Pins: the declaration exists and
  * matches, a read schedules NO inference job, append-to-append
  * evolution still widens/NULL-backfills (the old mergeSchema-at-read
  * outcome, now by declaration), a conflicting type refuses loudly, and
  * the process-wide snapshot memo can never serve a deleted-and-
  * re-created table's old state (the (size, mtime) stamp guard). */
class DeclaredSchemaSpec extends AnyFunSuite with SparkFixture {

  private def rows(lo: Long, hi: Long) =
    spark.range(lo, hi).toDF("user_id").withColumn("v", col("user_id") * 3 % 50)

  test("an append-born table declares the frame's schema at commit 1") {
    val t = new TxTable(Files.createTempDirectory("graft_decl1").toString, Seq("user_id"))
    t.append(spark, rows(0, 20))
    val meta = t.snapshot().meta
    assert(meta.nonEmpty, "first append must declare the schema")
    assert(meta.get.schema.fieldNames.toSeq == Seq("user_id", "v"))
  }

  test("a declared-schema read schedules no footer-inference job") {
    val t = new TxTable(Files.createTempDirectory("graft_decl2").toString, Seq("user_id"))
    t.append(spark, rows(0, 50).repartition(4))
    t.read(spark).count() // settle the session's first-use jobs
    val names = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    // the top frame of each job's call site: a footer-inference job is
    // scheduled from inside a DataFrameReader call, a write from a
    // DataFrameWriter one
    val sites = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        j.stageInfos.foreach(s => names.add(s.name))
        j.stageInfos.headOption.foreach(s => sites.add(s.details.linesIterator
          .toSeq.headOption.getOrElse(""))); ()
      }
    }
    def inferenceJobs(body: => Unit): Seq[String] = {
      sites.clear()
      body
      Thread.sleep(500) // let the listener bus drain
      sites.toArray(Array.empty[String]).toSeq.filter(_.contains("DataFrameReader"))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val n = t.read(spark).count()
      Thread.sleep(500) // let the listener bus drain
      assert(n == 50)
      // a mergeSchema read schedules a footer-merge job whose call site
      // is the `.parquet(...)` line inside TxTable — the declared read
      // must go straight to the count job(s)
      val snap = names.toArray(Array.empty[String]).toSeq
      assert(snap.nonEmpty, "listener saw no jobs")
      assert(!snap.exists(_.startsWith("parquet at Tx")),
        s"declared read must plan from the manifest schema, saw: $snap")
      // the maintenance and DML rewrites read their candidates under the
      // declaration too: an OPTIMIZE and a MERGE schedule no inference
      val packed = inferenceJobs {
        assert(t.compact(spark, smallRows = 1000).rewrittenFiles == 4); ()
      }
      assert(packed.isEmpty, s"OPTIMIZE must read small files declared, saw: $packed")
      val src = spark.range(10, 15).toDF("user_id").withColumn("v", lit(-1L))
      val merged = inferenceJobs { t.merge(spark, src, "user_id"); () }
      assert(merged.isEmpty, s"MERGE must read candidates declared, saw: $merged")
      assert(t.read(spark).count() == 50)
      assert(t.read(spark).filter(col("v") === -1L).count() == 5)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("append-to-append evolution: new column NULL-backfills, conflict refuses") {
    val t = new TxTable(Files.createTempDirectory("graft_decl3").toString, Seq("user_id"))
    t.append(spark, rows(0, 10))
    t.append(spark, rows(10, 15).withColumn("extra", lit("x")))
    val df = t.read(spark)
    assert(df.columns.toSeq == Seq("user_id", "v", "extra"))
    assert(df.filter(col("extra").isNull).count() == 10, "old rows NULL-backfill")
    assert(df.filter(col("extra") === "x").count() == 5)
    assert(t.snapshot().meta.get.schema.fieldNames.contains("extra"),
      "the evolved declaration rides the append commit")
    val bad = rows(20, 22).withColumn("extra", lit(7.5)) // string vs double
    val e = intercept[IllegalArgumentException](t.append(spark, bad))
    assert(e.getMessage.contains("extra"),
      s"type conflict must refuse naming the column, got: ${e.getMessage}")
  }

  test("the snapshot memo never serves a deleted-and-re-created table's old state") {
    val root = Files.createTempDirectory("graft_decl4").toString
    val t1 = new TxTable(root, Seq("user_id"))
    t1.append(spark, rows(0, 30))
    assert(t1.snapshot().files.nonEmpty) // populate the memo
    assert(t1.read(spark).count() == 30)
    // wipe and re-create AT THE SAME PATH with different content
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(root))
    val t2 = new TxTable(root, Seq("user_id"))
    t2.append(spark, rows(100, 105))
    assert(t2.snapshot().files.nonEmpty)
    assert(t2.read(spark).count() == 5,
      "the re-created table must read its own content, not the memoized old state")
    assert(t2.read(spark).agg(min(col("user_id"))).head().getLong(0) == 100)
  }
}
