package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SparkEntry
import graft.queries.Stores

/** A batch workload: a fixed query set over one corpus, run as a closed
  * loop with one client. Each pass visits every query once, in an order
  * the seed permutes. */
final class Batch(data: String, val names: Seq[String], stores: Seq[String], kernelData: Option[String]) {

  private val queries = SparkEntry.queries

  /** The persisted stores a workload may derive, by store kind: the ones
    * some workload reads. */
  private val storeCalls: Map[String, (SparkSession, String) => Any] = Map(
    "pairs" -> ((s, d) => Stores.docPairs(s, d)),
    "clusters" -> ((s, d) => Stores.docClusters(s, d)))

  private def clear(spark: SparkSession): Unit = {
    graft.ops.Staged.releaseAll()
    spark.catalog.clearCache()
  }

  /** Derive every store this workload reads; seconds per store kind. */
  def deriveStores(spark: SparkSession): Seq[(String, Double)] =
    stores.map { kind =>
      val t0 = System.nanoTime()
      storeCalls(kind)(spark, data)
      clear(spark)
      kind -> (System.nanoTime() - t0) / 1e9
    }

  /** Warm calls to the same stores, which must only load. */
  def loadStores(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    stores.foreach { kind => storeCalls(kind)(spark, data); clear(spark) }
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed check pass: every query once, in name order, its result
    * written for the output checks. Returns the names that failed. */
  def checkPass(spark: SparkSession, out: String): Seq[String] = {
    val failed = names.filterNot { name =>
      clear(spark)
      try {
        queries(name)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] check pass: $name failed: $e"); false
      }
    }
    clear(spark)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$out/oracle_sql.json", oracle)
    failed
  }

  /** Untimed: every query once more, as the timed phase runs it. The
    * second execution of a query is still markedly slower than the third
    * while the JIT compiles, so timing starts at the third. */
  def warmPass(spark: SparkSession): Unit =
    names.foreach { name => clear(spark); runOne(spark, name, None, 0L) }

  /** One query, built and materialized with a `noop` write. */
  private def runOne(spark: SparkSession, name: String, tr: Option[Trace], runSpan: Long): Boolean =
    try {
      tr match {
        case None =>
          queries(name)(spark, data).write.format("noop").mode("overwrite").save()
        case Some(t) =>
          val traceId = t.newTrace()
          t.span(spark, s"query:$name", runSpan, traceId) { q =>
            val df: DataFrame = t.span(spark, "build", q, traceId)(_ => queries(name)(spark, data))
            t.span(spark, "execute", q, traceId)(_ => df.write.format("noop").mode("overwrite").save())
          }
      }
      true
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e"); false
    }

  private def storeListing(): Map[String, Long] =
    Option(new File(Stores.root).listFiles()).toSeq.flatten
      .map(f => f.getName -> f.lastModified()).toMap

  /** One timed phase: `passes` whole passes. Caches are cleared before
    * each query, outside the timer. */
  def timed(spark: SparkSession, seed: Long, passes: Int, tr: Option[Trace], runSpan: Long): Json.Obj = {
    val rng = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer.empty[Json.Obj]
    val before = storeListing()
    val gc0 = Jvm.gcMs
    var failed = 0
    for (pass <- 0 until passes; name <- rng.shuffle(names)) {
      clear(spark)
      val t0 = System.nanoTime()
      val ok = runOne(spark, name, tr, runSpan)
      val dt = (System.nanoTime() - t0) / 1e9
      if (!ok) failed += 1
      samples += Json.Obj("query" -> name, "pass" -> pass, "s" -> dt, "ok" -> ok)
    }
    clear(spark)
    val gcS = (Jvm.gcMs - gc0) / 1000.0
    val after = storeListing()
    val published = after.count { case (k, m) => !before.get(k).contains(m) }
    Json.Obj("attempted" -> samples.size, "failed" -> failed, "samples" -> samples.toSeq,
      "gc_s" -> gcS, "heap_mb" -> Jvm.retainedHeapMb(), "store_publishes" -> published)
  }

  /** Native-function projections over cached, pre-tokenized documents and
    * over the embeddings of `kernelData`: seconds per function, best of
    * three. */
  def kernelTimes(spark: SparkSession): Seq[(String, Double)] =
    kernelData.toSeq.flatMap { data =>
      import org.apache.spark.sql.functions.expr
      graft.functions.GraftFunctions.register(spark)
      val docs = graft.Tables.documents(spark, data)
        .select(expr("split(lower(text), ' ')").as("tokens")).cache()
      val embs = graft.Tables.embeddings(spark, data)
        .select(expr("transform(embedding, x -> cast(x as double))").as("v")).cache()
      docs.count(); embs.count()
      def time(df: DataFrame, e: String): Double = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.select(expr(e)).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val out = Seq(
        "minhash_sigs" -> time(docs, "minhash_sigs(tokens, 64)"),
        "simhash_sig" -> time(docs, "simhash_sig(tokens)"),
        "winnow_fps" -> time(docs, "winnow_fps(tokens, 4)"),
        "ngram_hashes" -> time(docs, "ngram_hashes(tokens, 3)"),
        "token_entropy" -> time(docs, "token_entropy(tokens)"),
        "array_dot" -> time(embs, "array_dot(v, v)"))
      docs.unpersist(); embs.unpersist()
      out
    }
}
