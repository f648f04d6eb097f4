package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Profiling harness for the streaming-ingest constant (VERDICT r8
  * task 5): `streaming_ingest_keyed` costs ~17 s at x1 while its
  * growth is a healthy 1.15× — so the cost is per-RUN constant, not
  * data. This main decomposes that constant on the bench's exact
  * shape (sf0.1 documents, pre-seeded corpus + key table, AvailableNow
  * drain):
  *
  *   - `stream_b2` — the bench case verbatim (maxFilesPerTrigger=16
  *     over a 32-file input → 2 micro-batches)
  *   - `stream_b1` — same drain in ONE batch (mfpt=32): the b2−b1 gap
  *     is the marginal cost of a batch boundary (plan re-analysis +
  *     checkpoint commit + second heal-free pass)
  *   - `stream_noop` — identical stream machinery with a count()-only
  *     foreachBatch: the floor Structured Streaming itself imposes at
  *     this input size (offset log, file listing, commit fsyncs)
  *   - `batch_b2` — the SAME per-batch code (ingestNearDupKeyedBatch)
  *     driven directly, twice, no streaming machinery: stream_b2 −
  *     batch_b2 is what the machinery adds on top of the real work
  *
  * For `stream_b2` and `batch_b2` the line also carries
  * `jobs_per_batch` (Spark jobs started during the case per
  * micro-batch — the streaming counterpart of the pipeline
  * benchmark's `pipeline.jobs_per_batch`) and `input_rows_per_row`
  * (input rows the batches' evaluations produced per input row: the
  * stream's summed `numInputRows`, or a counter on the directly driven
  * batches; 1.0 when each batch is evaluated once).
  *
  * Usage: runMain graft.StreamProfile [sfDir] — prints one JSON line.
  */
object StreamProfile {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** `body`'s result and the Spark jobs started (on any thread) while it
    * ran. The listener bus is asynchronous: a marker job run after
    * `body`, delivered in order, flushes it.
    */
  private def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("graft.profile.marker") == marker))
          flushed.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setLocalProperty("graft.profile.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.profile.marker", null)
      flushed.await(60, java.util.concurrent.TimeUnit.SECONDS)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-stream-profile")
    import graft.ops.Dedup
    val docs = Tables.documents(spark, sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft-sprof").toString

    def seed(tag: String): (String, String, String, String) = {
      val base = s"$dir/$tag"
      docs.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$base/corpus")
      Dedup.corpusBandKeys(spark.read.parquet(s"$base/corpus"), "doc_id",
          "text", numHashes = 16, bands = 4)
        .write.mode("overwrite").parquet(s"$base/keys")
      docs.select((col("doc_id") + lit(10000000000L)).as("doc_id"),
          col("text"))
        .repartition(32).write.mode("overwrite").parquet(s"$base/in")
      (s"$base/in", s"$base/corpus", s"$base/keys", s"$base/chk")
    }

    val nDocs = docs.count().toDouble
    // case tag -> (jobs per batch, input rows per row)
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]

    def streamRun(tag: String, mfpt: Int): Double = {
      val (in, corpus, keys, chk) = seed(tag)
      val schema = spark.read.parquet(in).schema
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      val (t, jobs) = jobsDuring(spark)(time {
        q = graft.streaming.EventStreams.ingestNearDupKeyed(spark, schema,
            in, corpus, keys, chk, "doc_id", "text", threshold = 0.95,
            numHashes = 16, bands = 4, maxFilesPerTrigger = mfpt)
        q.awaitTermination()
      })
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      counts(tag) = (jobs.toDouble / math.max(batches.length, 1),
        batches.map(_.numInputRows).sum / nDocs)
      t
    }

    def noopRun(tag: String, mfpt: Int): Double = {
      val (in, _, _, chk) = seed(tag)
      val schema = spark.read.parquet(in).schema
      time {
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", mfpt).parquet(in)
          .writeStream
          .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
          .option("checkpointLocation", chk)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
    }

    def batchRun(tag: String, nBatches: Int): Double = {
      val (in, corpus, keys, _) = seed(tag)
      val input = spark.read.parquet(in)
      val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
      // each batch is a frame over an RDD, as a stream's micro-batch is;
      // the counter sees every row each evaluation of a batch produces
      val evaluated = spark.sparkContext.longAccumulator(s"graft.profile.$tag")
      val batches = (0 until nBatches).map { i =>
        val b = input.where(pmod(col("doc_id"), lit(nBatches)) === i)
        spark.createDataFrame(
          b.rdd.map { r => evaluated.add(1); r }, b.schema)
      }
      val (t, jobs) = jobsDuring(spark)(time {
        batches.foreach { b =>
          graft.streaming.EventStreams.ingestNearDupKeyedBatch(spark, b,
            corpus, keys, "doc_id", "text", threshold = 0.95,
            numHashes = 16, bands = 4, healed)
        }
      })
      counts(tag) = (jobs.toDouble / nBatches, evaluated.sum / nDocs)
      t
    }

    val results = Seq(
      "stream_b2" -> streamRun("s2", 16),
      "stream_b1" -> streamRun("s1", 32),
      "stream_noop_b2" -> noopRun("n2", 16),
      "stream_noop_b1" -> noopRun("n1", 32),
      "batch_b2" -> batchRun("b2", 2),
      "batch_b1" -> batchRun("b1", 1))
    try {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      Files.walk(Path.of(dir)).sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    } catch { case scala.util.control.NonFatal(_) => }
    val js = results.map { case (k, v) => s""""$k":${Bench.fmt(v)}""" }
      .mkString("{", ",", "}")
    def perCase(f: ((Double, Double)) => Double): String =
      Seq("stream_b2" -> "s2", "batch_b2" -> "b2")
        .map { case (name, tag) => s""""$name":${Bench.fmt(f(counts(tag)))}""" }
        .mkString("{", ",", "}")
    spark.stop()
    println(s"""{"profile":"streaming_ingest_keyed","sf":"$sfDir","cases":$js,""" +
      s""""jobs_per_batch":${perCase(_._1)},""" +
      s""""input_rows_per_row":${perCase(_._2)}}""")
  }
}
