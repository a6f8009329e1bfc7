package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSig, SimHashSig}
import graft.operators.{ConnectedComponents, MinHashLsh, SetSimilarity, StarContraction}

/** Direct calls into the `functions` and `operators` layers over the
  * generated documents and embeddings (traced `query_mix` runs only). */
object Kernels {
  private def best(runs: Int)(body: => Unit): Double = {
    body // warm
    (1 to runs).map(_ => Clock.time(body)._2).min
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def probe(ctx: Ctx): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"${ctx.data}/documents.parquet").select("doc_id", "text")
    val emb = spark.read.parquet(s"${ctx.data}/embeddings.parquet").select("vec_id", "embedding")
    val copies = 20
    val manyDocs = docs.withColumn("c", explode(sequence(lit(1), lit(copies))))
      .select((col("doc_id") * copies + col("c")).as("doc_id"), col("text")).cache()
    val nMany = manyDocs.count().toDouble
    val sets = docs.select(col("doc_id"), expr("char_ngram_hashes(text, 3)").as("ws")).cache()
    val pairs = sets.filter(col("doc_id") < 200).as("a")
      .join(sets.filter(col("doc_id") < 200).as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.ws").as("wa"), col("b.ws").as("wb")).cache()
    val nPairs = pairs.count().toDouble
    val vecPairs = emb.filter(col("vec_id") < 200).as("a").crossJoin(emb.as("b"))
      .select(col("a.embedding").as("ea"), col("b.embedding").as("eb")).cache()
    val nVec = vecPairs.count().toDouble
    val words = manyDocs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    def rate(rows: Double, ms: Double) = rows / (ms / 1000)
    val fn = Seq(
      ("functions.char_ngram_hashes.rows_per_s",
        rate(nMany, best(2)(noop(manyDocs.select(expr("char_ngram_hashes(text, 3)")))))),
      ("functions.sorted_jaccard_bp.rows_per_s",
        rate(nPairs, best(2)(noop(pairs.select(expr("sorted_jaccard_bp(wa, wb)")))))),
      ("functions.minhash.rows_per_s",
        rate(nMany, best(2)(noop(words.groupBy("doc_id").agg(MinHashSig.minhash32(col("w"))))))),
      ("functions.simhash.rows_per_s",
        rate(nMany, best(2)(noop(words.groupBy("doc_id").agg(SimHashSig.simhash64(col("w"))))))),
      ("functions.float_dot.rows_per_s",
        rate(nVec, best(2)(noop(vecPairs.select(expr("float_dot(ea, eb)")))))))
      .map { case (k, v) => (k, v, "rows/s") }

    val wordSets = docs.select(col("doc_id"),
      expr("array_sort(transform(array_distinct(split(text, ' ')), w -> xxhash64(w)))").as("ws"))
    val vertices = docs.select("doc_id")
    val edges = SetSimilarity.exactJaccardPairs(wordSets, minBp = 8000L)
      .select("da", "db").cache()
    edges.count()
    def op(name: String)(body: => Long): Seq[(String, Double, String)] = {
      body // warm
      val l = new EngineListener
      spark.sparkContext.addSparkListener(l)
      val before = l.snapshot(spark)
      val ms = Clock.time(body)._2
      val jobs = (l.snapshot(spark) - before).jobs
      spark.sparkContext.removeSparkListener(l)
      Seq((s"operators.$name.ms", ms, "ms"), (s"operators.$name.jobs", jobs.toDouble, "jobs"))
    }
    val ops =
      op("exact_jaccard")(SetSimilarity.exactJaccardPairs(wordSets, minBp = 8000L).count()) ++
        op("lsh_near_dup")(MinHashLsh.nearDupPairs(docs, minBp = 8000L).count()) ++
        op("cc_min_label")(ConnectedComponents.minLabel(vertices, "doc_id", edges, "da", "db").count()) ++
        op("star_contraction")(StarContraction.components(vertices, "doc_id", edges, "da", "db").count())
    val candidates = MinHashLsh.candidateKeys(MinHashLsh.signatures(docs)).count()
    val confirmed = MinHashLsh.nearDupPairs(docs, minBp = 8000L).count()
    Seq(manyDocs, sets, pairs, vecPairs, edges).foreach(_.unpersist(blocking = true))
    fn ++ ops :+ ("operators.lsh.confirmed_per_candidate",
      if (candidates == 0) 0.0 else confirmed.toDouble / candidates, "ratio")
  }
}
