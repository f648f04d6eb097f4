package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.EventStreams

/** Structured-Streaming module (SURVEY.md §2.10 T1–T5): incremental
  * micro-batch copy with checkpointed offsets, watermarked windows, and
  * stateful sessionization — each checked against its batch twin.
  */
class StreamingSpec extends SparkSuite {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("incrementalCopy processes files once and resumes from the checkpoint") {
    import spark.implicits._
    val in = tmp("stream-in")
    val out = tmp("stream-out")
    val ckpt = tmp("stream-ckpt")

    val first = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    first.write.mode("append").parquet(in)

    EventStreams.incrementalCopy(spark, first.schema, in, out, ckpt)
      .awaitTermination()
    assert(spark.read.parquet(out).count() === 2)

    // New file arrives; rerun picks up ONLY the new offsets (cursor T2/T3).
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(in)
    EventStreams.incrementalCopy(spark, first.schema, in, out, ckpt)
      .awaitTermination()
    val rows = spark.read.parquet(out)
    assert(rows.count() === 3) // no reprocessing of files 1-2
    assert(rows.select("id").as[Long].collect().sorted === Array(1L, 2L, 3L))
  }

  test("windowedCounts matches the batch tumbling-window aggregation") {
    val events = Tables.events(spark, sfDir)
    // file stream sources read directories, not single files
    val inDir = tmp("stream-events")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(inDir, "events.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val streamed = EventStreams.runToMemory(
      spark,
      EventStreams.windowedCounts(
        // the stream reads the RAW file, whose ts type differs from the
        // normalized Tables.events schema — withEventTime folds both
        spark.readStream
          .schema(spark.read.parquet(s"$inDir/events.parquet").schema)
          .parquet(inDir),
        window = "15 minutes", watermark = "0 seconds"),
      name = "windowed_counts")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

    val batch = EventStreams.withEventTime(events)
      .groupBy(window(col("event_time"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

    // both sides share withEventTime, so a shared regression could empty
    // both and the mutual exceptAll would pass vacuously
    assert(batch.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("StreamingProcessor enriches incrementally with checkpointed offsets") {
    import spark.implicits._
    val in = tmp("sp-in")
    val out = tmp("sp-out")
    val ckpt = tmp("sp-ckpt")

    // the batch twin's input contract: one JSON ARRAY of {url} objects
    // per file (Sources.urlList / the reference's list format)
    Seq("""[{"url": "http://a/1"}, {"url": "http://a/2"}]""")
      .toDF("value").coalesce(1).write.mode("append").text(in)
    graft.streaming.StreamingProcessor.start(spark, in, out, ckpt,
      () => new graft.enrich.SyntheticFetcher).awaitTermination()
    val first = spark.read.parquet(s"$out/shards")
    assert(first.count() === 2)
    assert(first.columns.contains("media_type") &&
      first.columns.contains("micro_batch_id"))
    // one shard file per micro-batch, like the batch processor's batches
    def shardFiles = new java.io.File(s"$out/shards").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(shardFiles === 1)

    // a new file arrives: only it is processed on resume
    Seq("""[{"url": "http://a/3"}]""")
      .toDF("value").coalesce(1).write.mode("append").text(in)
    graft.streaming.StreamingProcessor.start(spark, in, out, ckpt,
      () => new graft.enrich.SyntheticFetcher).awaitTermination()
    val after = spark.read.parquet(s"$out/shards")
    assert(after.count() === 3)
    assert(shardFiles === 2)
    assert(after.select("url").as[String].collect().sorted ===
      Array("http://a/1", "http://a/2", "http://a/3"))
  }

  test("streamingDedup drops in-watermark duplicates across micro-batches") {
    import spark.implicits._
    val in = tmp("dedup-in")
    val schema = "doc_key STRING, ts LONG"
    // batch 1: two distinct keys; batch 2 (same event times): one dup + one new
    Seq(("a", 1000000000000L), ("b", 1000000001000L))
      .toDF("doc_key", "ts").coalesce(1).write.mode("append").parquet(in)
    Seq(("a", 1000000002000L), ("c", 1000000003000L))
      .toDF("doc_key", "ts").coalesce(1).write.mode("append").parquet(in)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
    val out = EventStreams.runToMemory(spark,
      EventStreams.streamingDedup(stream, Seq("doc_key")),
      name = "dedup_stream", outputMode = "append")
    assert(out.select("doc_key").as[String].collect().sorted ===
      Array("a", "b", "c"))
  }

  test("session_window aggregation agrees with the q35 lag-based count") {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    val viaWindow = EventStreams.sessionWindows(events)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_events").as("n_events"))
    val viaLag = graft.queries.EventQueries.all("q35_sessionization")(spark, sfDir)
    val joined = viaLag.join(viaWindow.withColumnRenamed("n_sessions", "w_sessions")
        .withColumnRenamed("n_events", "w_events"), Seq("user_id"))
    // the inner join must cover EVERY q35 user, or a sessionWindows
    // regression that drops users (or all rows) passes `bad === 0`
    // vacuously over the shrunken join
    val nUsers = viaLag.count()
    assert(nUsers > 0 && joined.count() === nUsers)
    val bad = joined.where($"n_sessions" =!= $"w_sessions" ||
      $"n_events" =!= $"w_events").count()
    assert(bad === 0)
  }

  test("exactly-once mode: a replayed batch overwrites instead of duplicating") {
    import spark.implicits._
    val in = tmp("eo-in")
    val out = tmp("eo-out")

    Seq("""[{"url": "http://b/1"}, {"url": "http://b/2"}]""")
      .toDF("value").coalesce(1).write.mode("append").text(in)
    graft.streaming.StreamingProcessor.start(spark, in, out, tmp("eo-ckpt1"),
      () => new graft.enrich.SyntheticFetcher, exactlyOnce = true)
      .awaitTermination()
    assert(spark.read.parquet(s"$out/shards").count() === 2)

    // lost checkpoint → the same files replay as batch 0 again; the
    // idempotent sink replaces rather than appends
    graft.streaming.StreamingProcessor.start(spark, in, out, tmp("eo-ckpt2"),
      () => new graft.enrich.SyntheticFetcher, exactlyOnce = true)
      .awaitTermination()
    val rows = spark.read.parquet(s"$out/shards")
    assert(rows.count() === 2)
    assert(rows.columns.contains("micro_batch_id")) // partition column
  }

  test("streamingFunnel in batch mode matches Temporal.funnel exactly") {
    import spark.implicits._
    val events = Tables.events(spark, sfDir)
    val stages = Seq("signup", "view", "purchase")
    val streaming = EventStreams.streamingFunnel(spark, events, stages)
      .select($"user_id",
        element_at($"stage_ts", 1).as("t1"),
        element_at($"stage_ts", 2).as("t2"),
        element_at($"stage_ts", 3).as("t3"))
      // a user can complete repeatedly in the streaming op; the batch
      // funnel reports only the earliest completion per user
      .groupBy($"user_id")
      .agg(min(struct($"t1", $"t2", $"t3")).as("c"))
      .select($"user_id", $"c.t1", $"c.t2", $"c.t3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.ops.Temporal.funnel(events, "user_id", "ts",
        "event_type", stages)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streaming === batch)
  }

  test("streamingFunnel expires an abandoned key's partial state after the event-time TTL") {
    import org.apache.spark.sql.streaming.Trigger
    val in = tmp("funnel-ttl-in")
    val stages = Seq("signup", "view")
    val schema = "user_id LONG, ts LONG, event_id LONG, event_type STRING"
    val outSchema = "user_id LONG, stage_ts ARRAY<LONG>"
    val T0 = 1600000000L * 1000000000L // epoch-ns base
    def sec(s: Long): Long = T0 + s * 1000000000L

    def run(ckpt: String, out: String, ttlMs: Long): Unit =
      graft.streaming.EventStreams.streamingFunnel(spark,
          spark.readStream.schema(schema).parquet(in), stages, ttlMs)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def completions(out: String): Seq[Long] =
      spark.read.schema(outSchema).parquet(out)
        .select("user_id").collect().map(_.getLong(0)).toSeq

    val (ckptShort, outShort) = (tmp("funnel-ttl-ck1"), tmp("funnel-ttl-out1"))
    val (ckptLong, outLong) = (tmp("funnel-ttl-ck2"), tmp("funnel-ttl-out2"))
    def both(): Unit = { run(ckptShort, outShort, ttlMs = 1000L)   // 1 s
                         run(ckptLong, outLong, ttlMs = 3600L * 1000) } // 1 h

    import spark.implicits._
    def arrive(rows: (Long, Long, Long, String)*): Unit = {
      rows.toDF("user_id", "ts", "event_id", "event_type")
        .coalesce(1).write.mode("append").parquet(in)
      both()
    }
    // run 1: user 1 reaches stage 1 at T0 and stalls (timer: T0+ttl)
    arrive((1L, sec(0), 1L, "signup"))
    // run 2: unrelated traffic at T0+10s — commits watermark T0+10s
    arrive((99L, sec(10), 2L, "signup"))
    // run 3: watermark (T0+10s) now exceeds the short variant's T0+1s
    // deadline → its timeout sweep removes user 1's prefix; the 1 h
    // deadline is untouched
    arrive((98L, sec(20), 3L, "signup"))
    // run 4: user 1 finally converts — counts only where state survived
    arrive((1L, sec(30), 4L, "view"))

    assert(completions(outLong) === Seq(1L))  // within the 1 h window
    assert(completions(outShort).isEmpty)      // partial progress expired
  }

  test("ingestDedup grows the corpus duplicate-free across micro-batches and restarts") {
    import spark.implicits._
    val in = tmp("ingest-in")
    val corpus = tmp("ingest-corpus") + "/data" // must not pre-exist
    val ckpt = tmp("ingest-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def run(): Unit = graft.streaming.EventStreams
      .ingestDedup(spark, schema, in, corpus, ckpt, "doc_id", "text")
      .awaitTermination()
    def state(): Map[String, Long] =
      spark.read.parquet(corpus).select($"text", $"doc_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2).min }

    // batch 1: one in-batch duplicate → corpus gets the lowest-id copy
    Seq((10L, "alpha"), (11L, "alpha"), (12L, "beta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    assert(state() === Map("alpha" -> 10L, "beta" -> 12L))

    // batch 2 (separate run, resumed checkpoint): a corpus duplicate is
    // dropped, new content lands
    Seq((20L, "alpha"), (21L, "gamma"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    val s2 = state()
    assert(s2 === Map("alpha" -> 10L, "beta" -> 12L, "gamma" -> 21L))
    assert(spark.read.parquet(corpus).count() === 3) // no duplicate rows at all
  }

  test("ingestDedup: contentless (null-text) rows land once ever and replay-filter") {
    import spark.implicits._
    // incrementalDedup's md5 anti-join keeps null-text rows by
    // documented op design (null never equi-joins) — at INGEST a
    // replayed contentless row would re-append forever. The gate's
    // rule: all contentless docs are ONE duplicate class (exactDedup's
    // null grouping), so at most one lands and replays add zero rows.
    val in = tmp("nulltext-in")
    val corpus = tmp("nulltext-corpus") + "/data"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def run(ck: String): Unit = graft.streaming.EventStreams
      .ingestDedup(spark, schema, in, corpus, ck, "doc_id", "text")
      .awaitTermination()
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, null),
      org.apache.spark.sql.Row(2L, "hello world"),
      org.apache.spark.sql.Row(3L, null))
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("append").parquet(in)
    run(tmp("nulltext-ckpt"))
    def ids(): Set[Long] = spark.read.parquet(corpus).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids() === Set(1L, 2L)) // in-batch: nulls collapse to lowest id
    run(tmp("nulltext-ckpt2")) // full replay: no growth, null included
    assert(ids() === Set(1L, 2L))
    // a later contentless doc is a duplicate of the stored one
    Seq((9L, null.asInstanceOf[String]), (10L, "fresh content"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run(tmp("nulltext-ckpt3"))
    assert(ids() === Set(1L, 2L, 10L))
  }

  test("ingestDedupBloom keeps the corpus duplicate-free with a live filter across batches and restarts") {
    import spark.implicits._
    val in = tmp("bloom-in")
    val corpus = tmp("bloom-corpus") + "/data"
    val ckpt = tmp("bloom-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    // tiny filter + huge fpp: false positives everywhere, re-verification
    // must still keep the corpus exact
    def run(): Unit = graft.streaming.EventStreams
      .ingestDedupBloom(spark, schema, in, corpus, ckpt, "doc_id", "text",
        expectedCorpusItems = 8L, fpp = 0.5, maxFilesPerTrigger = 1)
      .awaitTermination()
    def state(): Map[String, Long] =
      spark.read.parquet(corpus).select($"text", $"doc_id").collect()
        .map(r => r.getString(0) -> r.getLong(1)).groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2).min }

    // two files → two sequential micro-batches in ONE run: the second
    // batch's duplicate of the first batch's append is caught by the
    // live (driver-updated) filter + verification, not the seed
    Seq((10L, "alpha"), (11L, "alpha"), (12L, "beta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((20L, "alpha"), (21L, "gamma"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    assert(state() === Map("alpha" -> 10L, "beta" -> 12L, "gamma" -> 21L))
    assert(spark.read.parquet(corpus).count() === 3)

    // restart (fresh filter reseeded from the corpus): replay-shaped dup
    // dropped, new content lands
    Seq((30L, "beta"), (31L, "delta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    assert(state() === Map("alpha" -> 10L, "beta" -> 12L,
      "gamma" -> 21L, "delta" -> 31L))
    assert(spark.read.parquet(corpus).count() === 4)
  }

  test("ingestDecontaminated drops bench-overlapping docs across batches, once-computed shingles") {
    import spark.implicits._
    val in = tmp("decon-in")
    val bench = tmp("decon-bench") + "/data"
    val out = tmp("decon-out") + "/data"
    val ckpt = tmp("decon-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    Seq((900L, "leaked question about the meaning of life"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(bench)
    def run(): Unit = graft.streaming.EventStreams
      .ingestDecontaminated(spark, schema, in, bench, out, ckpt,
        "doc_id", "text", n = 3)
      .awaitTermination()
    def ids(): Set[Long] =
      spark.read.parquet(out).select($"doc_id")
        .collect().map(_.getLong(0)).toSet

    // two files → two micro-batches in one run; each batch carries one
    // contaminated doc (a 3-gram shared with the bench) and one clean
    Seq(
      (1L, "some leaked question about nothing in particular"), // "leaked question about" → flagged
      (2L, "entirely original content with fresh words"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq(
      (3L, "pondering the meaning of life daily"),              // "the meaning of" → flagged
      (4L, "another clean document nothing shared here"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    run()
    assert(ids() === Set(2L, 4L))

    // the once-computed shingle cache must not outlive its query —
    // repeated gate launches in a long-lived session would otherwise
    // accumulate leaked cached storage. The listener unpersists async
    // (listener bus + non-blocking unpersist), so poll briefly; compare
    // against the pre-run snapshot (the context may hold other caches).
    def leaked(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(cachedBefore.toSet)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (leaked().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty,
      "shingle cache leaked after query termination")
  }

  test("a gate whose launch throws rethrows and releases its cached frame") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val bench = tmp("decon-fail-bench") + "/data"
    val missingIn = tmp("decon-fail-in") + "/absent"
    val ckpt = tmp("decon-fail-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    Seq((900L, "leaked question about the meaning of life"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(bench)
    // a fresh frame with the gate's plan: its storageLevel reports
    // whether the CacheManager still holds the gate's shingle cache
    def shingles() = graft.ops.Decontamination
      .benchShingles(spark.read.parquet(bench), "text", 3)
    // the probe is not vacuous: a cached copy is visible through it
    val probe = shingles().persist()
    assert(shingles().storageLevel !== StorageLevel.NONE)
    probe.unpersist(blocking = true)
    assert(shingles().storageLevel === StorageLevel.NONE)

    // the file-stream reader checks inDir when the stream is defined,
    // after the gate has persisted and materialized its shingles
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      EventStreams.ingestDecontaminated(spark, schema, missingIn, bench,
        tmp("decon-fail-out") + "/data", ckpt, "doc_id", "text", n = 3)
    }
    assert(e.getMessage.contains("absent"), e.getMessage)
    assert(shingles().storageLevel === StorageLevel.NONE,
      "shingle cache leaked after a failed launch")
  }

  test("monitorDrift scores each batch against the reference; drifted batch spikes") {
    import spark.implicits._
    val in = tmp("drift-in")
    val ref = tmp("drift-ref") + "/data"
    val out = tmp("drift-out") + "/data"
    val mon = tmp("drift-mon") + "/data"
    val ckpt = tmp("drift-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    Seq((100L, "alpha beta gamma alpha"), (101L, "beta gamma alpha beta"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(ref)
    // batch 0 speaks the reference dialect; batch 1 is fully off-dist
    Seq((1L, "alpha beta gamma"), (2L, "beta alpha gamma"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, "zeta eta theta"), (4L, "iota kappa lambda"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    graft.streaming.EventStreams
      .monitorDrift(spark, schema, in, ref, out, mon, ckpt, "text",
        maxFilesPerTrigger = 1)
      .awaitTermination()
    // all data flowed through (observe-only monitor)
    assert(spark.read.parquet(out).count() === 4)
    val tvs = spark.read.parquet(mon)
      .collect().map(r => r.getAs[Long]("batch_id") -> r.getAs[Double]("tv"))
      .toMap
    assert(tvs.size === 2)
    // the off-distribution batch shares NO feature with the reference →
    // TV = 1 exactly; the in-dialect batch sits well below it
    assert(tvs(1L) === 1.0, s"off-dist batch tv=${tvs(1L)}")
    assert(tvs(0L) < 0.7, s"in-dialect batch tv=${tvs(0L)}")
  }

  test("ingestImportanceGated keeps on-domain docs across batches, models fit once") {
    import spark.implicits._
    val in = tmp("dsir-in")
    val target = tmp("dsir-target") + "/data"
    val raw = tmp("dsir-raw") + "/data"
    val out = tmp("dsir-out") + "/data"
    val ckpt = tmp("dsir-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    // target dialect: alpha/beta/gamma; raw reference: an even mix
    Seq((100L, "alpha beta gamma alpha beta"), (101L, "beta gamma alpha"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(target)
    Seq((200L, "alpha beta gamma"), (201L, "zeta eta theta iota"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(raw)
    // batch 1 and batch 2 each carry one on-domain and one off-domain doc
    Seq((1L, "alpha beta gamma beta"), (2L, "zeta eta theta kappa"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, "beta alpha gamma"), (4L, "iota theta eta zeta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    graft.streaming.EventStreams
      .ingestImportanceGated(spark, schema, in, target, raw, out, ckpt,
        "doc_id", "text", minLogw = 0.0, buckets = 10000)
      .awaitTermination()
    val kept = spark.read.parquet(out).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L), s"got $kept")
    // both model caches released after termination (async listener)
    def leaked(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(cachedBefore.toSet)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (leaked().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty,
      "importance model cache leaked after query termination")
  }

  test("ingestClassified keeps only keep-label predictions, model trained once") {
    import spark.implicits._
    val in = tmp("nb-in")
    val train = tmp("nb-train") + "/data"
    val out = tmp("nb-out") + "/data"
    val ckpt = tmp("nb-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    // labeled reference: "good" = alpha/beta dialect, "bad" = zeta/eta
    Seq((100L, "good", "alpha beta alpha beta gamma"),
        (101L, "good", "beta alpha gamma"),
        (102L, "bad", "zeta eta zeta theta"),
        (103L, "bad", "eta zeta theta"))
      .toDF("doc_id", "lang", "text").write.mode("overwrite").parquet(train)
    // two micro-batches, each with one good-looking and one bad-looking doc
    Seq((1L, "alpha beta gamma alpha"), (2L, "zeta eta theta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    Seq((3L, "beta gamma alpha"), (4L, "theta zeta eta eta"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    graft.streaming.EventStreams
      .ingestClassified(spark, schema, in, train, out, ckpt,
        "doc_id", "lang", "text", keepLabels = Seq("good"))
      .awaitTermination()
    val kept = spark.read.parquet(out).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L), s"got $kept")
    // model caches released after termination (async listener)
    def leaked(): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(cachedBefore.toSet)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (leaked().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty,
      "NB model cache leaked after query termination")
  }

  test("ingestNearDupKeyed drops planted paraphrases and keeps the key table current") {
    import spark.implicits._
    val in = tmp("keyed-in")
    val corpus = tmp("keyed-corpus") + "/data"
    val keys = tmp("keyed-keys") + "/keys"
    val ckpt = tmp("keyed-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def run(): Unit = graft.streaming.EventStreams
      .ingestNearDupKeyed(spark, schema, in, corpus, keys, ckpt,
        "doc_id", "text", threshold = 0.6, numHashes = 16, bands = 8)
      .awaitTermination()
    def ids(): Set[Long] =
      spark.read.parquet(corpus).select($"doc_id")
        .collect().map(_.getLong(0)).toSet

    // batch 1: two paraphrases of each other + one distinct doc →
    // within-batch collapse keeps one survivor per cluster; the corpus
    // is never re-hashed, only the stored key table probed
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 10
      (12L, "one two three four five six seven eight"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    val s1 = ids()
    assert(s1.size === 2 && s1.contains(12L) &&
      (s1.contains(10L) || s1.contains(11L)), s1.toString)

    // batch 2 (restart): an exact replay, a paraphrase of the corpus,
    // and novel content — only the novel doc lands
    Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact dup
      (21L, "one two three four five six seven nine"),         // near-dup of 12
      (22L, "totally different words appearing nowhere else at all"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    assert(ids() === s1 + 22L)
    // the key table covers exactly the corpus ids, bands per id
    val keyRows = spark.read.parquet(keys)
    assert(keyRows.select($"doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === ids())
    // 8 near-link bands + the band -1 exact-fingerprint row per doc
    assert(keyRows.count() === ids().size * 9L)
    assert(keyRows.where($"band" === -1).count() === ids().size.toLong)

    // crash recovery: lose the ENTIRE key table (worst case of dying
    // between the corpus append and the keys append) — the next batch
    // must heal it and a replayed paraphrase must still self-filter
    val keysPath = new org.apache.hadoop.fs.Path(keys)
    keysPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(keysPath, true)
    val s2 = ids()
    Seq(
      (30L, "totally different words appearing nowhere else at all"), // replay of 22
      (31L, "fresh novel content for the recovery batch check"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    assert(ids() === s2 + 31L) // healed keys caught the replay of 22
    assert(spark.read.parquet(keys).select($"doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === ids())

    // partial crash: the key table EXISTS but one corpus doc is
    // unkeyed (died between the corpus append and the keys append
    // after a healthy history) — this drives the keysExist=true heal
    // branch with a NON-EMPTY sliver: the ids-only anti-join must find
    // exactly that doc, the semi-join must fetch its text, and a
    // replayed exact copy must self-filter against the healed keys.
    // (The full-loss block above only ever heals via keysExist=false.)
    val s3 = ids()
    val pruned = tmp("keyed-keys-pruned") + "/keys"
    spark.read.parquet(keys).where($"doc_id" =!= 31L)
      .write.mode("overwrite").parquet(pruned)
    keysPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(keysPath, true)
    spark.read.parquet(pruned).write.mode("overwrite").parquet(keys)
    Seq(
      (40L, "fresh novel content for the recovery batch check"), // replay of 31
      (41L, "entirely new material for the partial heal scenario"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run()
    assert(ids() === s3 + 41L) // re-keyed 31 caught its replay (40)
    // exactly 8 band keys + 1 exact (band -1) key per corpus doc: the
    // heal re-keyed ONLY the unkeyed sliver (a corpus-wide re-key would
    // duplicate key rows)
    val healedKeys = spark.read.parquet(keys)
    assert(healedKeys.count() === ids().size * 9L)
    assert(healedKeys.select($"doc_id").distinct()
      .collect().map(_.getLong(0)).toSet === ids())
  }

  test("ingestNearDupKeyed compaction bounds store files, identical output, restarts green") {
    import spark.implicits._
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    // 20 one-file micro-batches: mostly novel docs, every 5th an exact
    // replay of batch 0's doc (the gate must keep filtering it while
    // compactions rewrite the stores underneath)
    val in = tmp("cmp-in")
    (0 until 20).foreach { b =>
      val txt =
        if (b % 5 == 0) "anchor text replayed every fifth batch verbatim"
        else s"novel content of batch $b with distinctive token b$b"
      Seq((100L + b, txt)).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
    }
    def drive(tag: String, maxStoreFiles: Int,
        inputDir: String): (String, String) = {
      val corpus = tmp(s"cmp-corpus-$tag") + "/data"
      val keys = tmp(s"cmp-keys-$tag") + "/keys"
      graft.streaming.EventStreams.ingestNearDupKeyed(spark, schema,
          inputDir, corpus, keys, tmp(s"cmp-ck-$tag"), "doc_id", "text",
          threshold = 0.6, numHashes = 16, bands = 8,
          maxFilesPerTrigger = 1, maxStoreFiles = maxStoreFiles)
        .awaitTermination()
      (corpus, keys)
    }
    def corpusRows(dir: String) = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def keyRows(dir: String) = spark.read.parquet(dir)
      .select($"doc_id", $"band", $"key").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.get(2).toString)).sorted.toSeq
    val (corpusOff, keysOff) = drive("off", 0, in) // compaction disabled
    val (corpusOn, keysOn) = drive("on", 6, in)    // aggressive cadence
    // identical gate OUTPUT — corpus and key table row multisets —
    // whether or not compactions rewrote the stores mid-run
    assert(corpusRows(corpusOn) === corpusRows(corpusOff))
    assert(keyRows(keysOn) === keyRows(keysOff))
    assert(corpusRows(corpusOn).nonEmpty)
    // the trigger bound held: ≤ maxStoreFiles + the few appends since
    // the last compaction check; the uncompacted twin grew one file per
    // batch with survivors
    val onFiles = graft.io.Layouts.dataFileCount(spark, corpusOn)
    val offFiles = graft.io.Layouts.dataFileCount(spark, corpusOff)
    assert(onFiles <= 7, s"compacted corpus holds $onFiles files")
    assert(offFiles > 7, s"uncompacted corpus holds only $offFiles files")
    assert(graft.io.Layouts.dataFileCount(spark, keysOn) <= 7)
    // restart across compacted stores: a replay of the anchor still
    // self-filters, novel content still lands
    val in2 = tmp("cmp-in2")
    Seq((200L, "anchor text replayed every fifth batch verbatim"),
        (201L, "post restart novel material entirely"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in2)
    val corpus2 = corpusOn.stripSuffix("/data")
    graft.streaming.EventStreams.ingestNearDupKeyed(spark, schema,
        in2, corpusOn, keysOn, tmp("cmp-ck-on2"), "doc_id", "text",
        threshold = 0.6, numHashes = 16, bands = 8,
        maxFilesPerTrigger = 1, maxStoreFiles = 6)
      .awaitTermination()
    val finalIds = spark.read.parquet(corpusOn)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(finalIds.contains(201L) && !finalIds.contains(200L), s"$corpus2: $finalIds")
  }

  test("ingestNearDupKeyed: degenerate docs replay-filter through the band -1 exact keys") {
    import spark.implicits._
    // the keyed gate never reads corpus text per batch, so its replay
    // self-filter rides the stored key table alone: near-link bands
    // can't represent an empty token set (NaN Jaccard), the reserved
    // band -1 exact fingerprint can
    val in = tmp("keyed-degen-in")
    val corpus = tmp("keyed-degen-corpus") + "/data"
    val keys = tmp("keyed-degen-keys") + "/keys"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    def run(ck: String): Unit = graft.streaming.EventStreams
      .ingestNearDupKeyed(spark, schema, in, corpus, keys, ck,
        "doc_id", "text", threshold = 0.6, numHashes = 16, bands = 8)
      .awaitTermination()
    Seq((1L, ""), (2L, "real words in a real document body"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run(tmp("keyed-degen-ckpt"))
    def ids(): Set[Long] = spark.read.parquet(corpus).select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids() === Set(1L, 2L))
    run(tmp("keyed-degen-ckpt2")) // full replay — zero growth
    assert(ids() === Set(1L, 2L))
    // a later byte-identical degenerate doc is an exact dup of the
    // stored one and drops the same way
    Seq((9L, ""), (10L, "novel content this corpus has never seen"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    run(tmp("keyed-degen-ckpt3"))
    assert(ids() === Set(1L, 2L, 10L))
  }

  test("ingestEmbeddingNearDupKeyed: same-id duplicate rows in one batch land once; zero-norm replays filter") {
    import spark.implicits._
    // pair expansion excludes self-pairs (idA < idB), so two rows with
    // the SAME id — a file replayed inside one trigger — could never
    // link; the within-batch exact collapse keeps one. And a zero-norm
    // vector (NaN cosine, never near-links) replay-filters through the
    // band -1 exact fingerprint like the text gate's degenerates.
    val in = tmp("emb-degen-in")
    val corpus = tmp("emb-degen-corpus") + "/data"
    val keys = tmp("emb-degen-keys") + "/keys"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, embedding ARRAY<FLOAT>")
    def run(ck: String): Unit = graft.streaming.EventStreams
      .ingestEmbeddingNearDupKeyed(spark, schema, in, corpus, keys, ck,
        "vec_id", "embedding", threshold = 0.95, planesPerBand = 4,
        bands = 4)
      .awaitTermination()
    val v = Seq(1f, 0f, 0f, 0f)
    Seq((7L, v), (7L, v), (8L, Seq(0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    run(tmp("emb-degen-ckpt"))
    val stored = spark.read.parquet(corpus)
    assert(stored.count() === 2) // the same-id duplicate landed once
    assert(stored.select($"vec_id").collect().map(_.getLong(0)).toSet
      === Set(7L, 8L))
    run(tmp("emb-degen-ckpt2")) // full replay incl. the zero-norm row
    assert(spark.read.parquet(corpus).count() === 2)
  }

  test("ingestEmbeddingNearDupKeyed gates re-embedded vectors across batches, restarts, and key loss") {
    import spark.implicits._
    val in = tmp("emb-keyed-in")
    val corpus = tmp("emb-keyed-corpus") + "/data"
    val keys = tmp("emb-keyed-keys") + "/keys"
    val ckpt = tmp("emb-keyed-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, embedding ARRAY<FLOAT>")
    def run(): Unit = graft.streaming.EventStreams
      .ingestEmbeddingNearDupKeyed(spark, schema, in, corpus, keys, ckpt,
        "vec_id", "embedding", threshold = 0.9, planesPerBand = 4,
        bands = 4)
      .awaitTermination()
    def ids(): Set[Long] =
      spark.read.parquet(corpus).select($"vec_id")
        .collect().map(_.getLong(0)).toSet
    // positive scalings have cosine exactly 1 AND identical sign-LSH
    // keys (projections scale), so the planted links are layout- and
    // plane-independent; distinct basis vectors that happen to share a
    // band become candidates but fail the exact cosine verification
    def df(rows: (Long, Seq[Float])*) =
      rows.toDF("vec_id", "embedding").coalesce(1)

    df(10L -> Seq(1f, 0f, 0f, 0f),
       11L -> Seq(2f, 0f, 0f, 0f),  // scaled copy of 10 (cosine 1)
       12L -> Seq(0f, 1f, 0f, 0f))
      .write.mode("append").parquet(in)
    run()
    val s1 = ids()
    assert(s1.size === 2 && s1.contains(12L) &&
      (s1.contains(10L) || s1.contains(11L)), s1.toString)

    df(20L -> Seq(3f, 0f, 0f, 0f),  // re-embeds 10's content
       21L -> Seq(0f, 5f, 0f, 0f),  // re-embeds 12's content
       22L -> Seq(0f, 0f, 1f, 0f))  // genuinely new
      .write.mode("append").parquet(in)
    run()
    assert(ids() === s1 + 22L)
    val keyRows = spark.read.parquet(keys)
    assert(keyRows.select($"vec_id").distinct()
      .collect().map(_.getLong(0)).toSet === ids())
    // 4 near-link bands + the band -1 exact-fingerprint row per vector
    assert(keyRows.count() === ids().size * 5L)
    assert(keyRows.where($"band" === -1).count() === ids().size.toLong)

    // lose the ENTIRE key table (crash between the two appends): the
    // next run must heal it and a replayed vector must self-filter
    val keysPath = new org.apache.hadoop.fs.Path(keys)
    keysPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(keysPath, true)
    val s2 = ids()
    df(30L -> Seq(0f, 0f, 4f, 0f),  // replay of 22's content
       31L -> Seq(0f, 0f, 0f, 1f))  // new
      .write.mode("append").parquet(in)
    run()
    assert(ids() === s2 + 31L)
    val healedKeys = spark.read.parquet(keys)
    assert(healedKeys.count() === ids().size * 5L) // 4 bands + band -1
    assert(healedKeys.select($"vec_id").distinct()
      .collect().map(_.getLong(0)).toSet === ids())
  }

  test("ingestPqIndex maintains a centroid-partitioned codes table that serves like inline") {
    import spark.implicits._
    import graft.ops.Similarity
    val in = tmp("pq-ingest-in")
    val codes = tmp("pq-ingest-codes") + "/codes"
    val ckpt = tmp("pq-ingest-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, embedding ARRAY<FLOAT>")
    val rnd = new scala.util.Random(3)
    def vec() = Seq.fill(4)(rnd.nextGaussian().toFloat)
    val batch1 = (0L until 30L).map(i => (i, vec()))
    val batch2 = (100L until 130L).map(i => (i, vec()))
    val corpus = (batch1 ++ batch2).toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 4)
    val cbs = Similarity.pqCodebooks(corpus, "vec_id", "embedding", 2, 4)
    def run(ck: String): Unit = EventStreams.ingestPqIndex(spark, schema,
      in, codes, ck, "vec_id", "embedding", cbs, centroids)
      .awaitTermination()

    // batch 1 rides with two degenerates that must never enter the index
    (batch1 :+ (900L, Seq(0f, 0f, 0f, 0f))
      :+ (901L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    run(ckpt)
    batch2.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    run(ckpt)

    val stored = spark.read.parquet(codes)
    def codeRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"vec_id", $"pq_code", $"vnorm", $"centroid_id")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2),
          r.getInt(3))).toSet
    // index content equals the batch encode of the union — degenerates
    // excluded on both sides (pqEncode emits them; the gate filters)
    val expected = codeRows(Similarity.pqEncode(
      Similarity.ivfAssign(corpus, "embedding", centroids),
      "embedding", cbs))
    assert(codeRows(stored) === expected)
    assert(!stored.where($"vec_id" >= 900L).collect().exists(_ => true))
    // on-disk layout: one directory per cell, the serve-side pruning key
    val dirs = new java.io.File(codes).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("centroid_id=")), dirs.mkString(","))
    // serving through the streamed index == the inline encode
    val queries = corpus.where($"vec_id" % 7 === 0)
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val viaStream = Similarity.pqAdcTopKBatchWithCodes(corpus, stored,
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 3,
      cbs, centroids, nprobe = 2)
    val inline = Similarity.pqAdcTopKBatch(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 3, cbs, centroids, nprobe = 2)
    assert(hits(viaStream) === hits(inline) && hits(inline).nonEmpty)
    // full replay (fresh checkpoint, same input): the cell-pruned id
    // anti-join self-filters every row — the index does not grow
    val n = stored.count()
    run(tmp("pq-ingest-ckpt2"))
    assert(spark.read.parquet(codes).count() === n)
  }

  test("ingestPqIndex per-cell compaction bounds cell files, identical index") {
    import spark.implicits._
    import graft.ops.Similarity
    val in = tmp("pq-cmp-in")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, embedding ARRAY<FLOAT>")
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(4)(rnd.nextGaussian().toFloat)
    val model = (0L until 40L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(model, "vec_id", "embedding", 2)
    val cbs = Similarity.pqCodebooks(model, "vec_id", "embedding", 2, 2)
    // 12 one-file micro-batches, fresh ids each — every batch appends
    // ~one file into each of the 2 cell directories
    (0 until 12).foreach { b =>
      (0L until 8L).map(i => (1000L * b + i, vec()))
        .toDF("vec_id", "embedding").coalesce(1)
        .write.mode("append").parquet(in)
    }
    def drive(tag: String, maxStoreFiles: Int): String = {
      val codes = tmp(s"pq-cmp-codes-$tag") + "/codes"
      graft.streaming.EventStreams.ingestPqIndex(spark, schema, in, codes,
          tmp(s"pq-cmp-ck-$tag"), "vec_id", "embedding", cbs, centroids,
          maxFilesPerTrigger = 1, maxStoreFiles = maxStoreFiles)
        .awaitTermination()
      codes
    }
    def codeRows(dir: String) = spark.read.parquet(dir)
      .select($"vec_id", $"pq_code", $"vnorm", $"centroid_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2),
        r.getInt(3))).toSet
    val off = drive("off", 0)   // compaction disabled
    val on = drive("on", 3)     // aggressive per-cell cadence
    // identical index CONTENT whether or not cells were folded mid-run
    assert(codeRows(on) === codeRows(off) && codeRows(on).nonEmpty)
    def cellCounts(dir: String) = new java.io.File(dir).listFiles()
      .filter(_.isDirectory)
      .map(d => graft.io.Layouts.dataFileCount(spark, d.getAbsolutePath))
    // the uncompacted twin's cells track batch count; the folded cells
    // stay within trigger + a few post-fold appends
    assert(cellCounts(off).max >= 10, cellCounts(off).mkString(","))
    assert(cellCounts(on).max <= 5, cellCounts(on).mkString(","))
    // restart across compacted cells: a fresh-checkpoint replay of the
    // same input self-filters entirely — the folded index does not grow
    val n = spark.read.parquet(on).count()
    graft.streaming.EventStreams.ingestPqIndex(spark, schema, in, on,
        tmp("pq-cmp-ck-on2"), "vec_id", "embedding", cbs, centroids,
        maxFilesPerTrigger = 1, maxStoreFiles = 3)
      .awaitTermination()
    assert(spark.read.parquet(on).count() === n)
  }

  test("ingestPqIndex drops null-id rows, which would defeat the replay guard") {
    import spark.implicits._
    import graft.ops.Similarity
    // the replay guard is an equi-anti-join on id and null never
    // equals null there: a null-id row that entered the index would
    // re-append on EVERY replay. Pin that it never enters, and that a
    // full replay of a batch containing one still adds zero rows.
    val in = tmp("pq-nullid-in")
    val codes = tmp("pq-nullid-codes") + "/codes"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    val model = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(model, "vec_id", "embedding", 2)
    val cbs = Similarity.pqCodebooks(model, "vec_id", "embedding", 2, 2)
    def run(ck: String): Unit = EventStreams.ingestPqIndex(spark, schema,
      in, codes, ck, "vec_id", "embedding", cbs, centroids)
      .awaitTermination()
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(null, Seq(1f, 0f, 0f, 0f)),
      org.apache.spark.sql.Row(5L, Seq(0f, 1f, 0f, 0f)))
    spark.createDataFrame(rows, schema).coalesce(1)
      .write.mode("append").parquet(in)
    run(tmp("pq-nullid-ckpt"))
    val stored = spark.read.parquet(codes)
    assert(stored.select($"vec_id").collect().map(_.getLong(0)).toSet
      === Set(5L))
    run(tmp("pq-nullid-ckpt2")) // full replay: index must not grow
    assert(spark.read.parquet(codes).count() === 1L)
  }

  test("ingestPqIndex refuses a codes dir holding files it did not write") {
    import spark.implicits._
    import graft.ops.Similarity
    // a foreign writer's file that LACKS the id column null-fills under
    // the gate's user-supplied read schema instead of failing the read;
    // null keys silently disable the replay anti-join (rows would then
    // duplicate on every replay), so the gate must refuse loudly
    val in = tmp("pq-foreign-in")
    val codes = tmp("pq-foreign-codes") + "/codes"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    val model = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(model, "vec_id", "embedding", 2)
    val cbs = Similarity.pqCodebooks(model, "vec_id", "embedding", 2, 2)
    def run(ck: String): Unit = EventStreams.ingestPqIndex(spark, schema,
      in, codes, ck, "vec_id", "embedding", cbs, centroids)
      .awaitTermination()
    model.coalesce(1).write.mode("append").parquet(in)
    run(tmp("pq-foreign-ckpt"))
    // drop an id-less parquet file into every existing cell directory
    val cellDirs = new java.io.File(codes).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("centroid_id="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { d =>
      Seq((Seq(0, 1), 1.0)).toDF("pq_code", "vnorm")
        .coalesce(1).write.mode("append").parquet(d.getPath)
    }
    model.limit(2).coalesce(1).write.mode("append").parquet(in)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(tmp("pq-foreign-ckpt2"))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("suspect index")), e.toString)
  }

  test("ingestPqIndex survives an all-degenerate first batch (schema-less codes dir)") {
    import spark.implicits._
    import graft.ops.Similarity
    // a first batch of only zero-norm/null vectors writes NO partition
    // directories (a partitioned write of zero rows leaves _SUCCESS
    // alone), so the next batch's stored-ids read cannot infer a schema
    // — that state must read as "index empty", not wedge every restart
    val in = tmp("pq-wedge-in")
    val codes = tmp("pq-wedge-codes") + "/codes"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, embedding ARRAY<FLOAT>")
    val model = Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0f, 0f, 1f, 0f)), (4L, Seq(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val centroids = Similarity.ivfCentroids(model, "vec_id", "embedding", 2)
    val cbs = Similarity.pqCodebooks(model, "vec_id", "embedding", 2, 2)
    def run(): Unit = EventStreams.ingestPqIndex(spark, schema, in, codes,
      tmp("pq-wedge-ckpt"), "vec_id", "embedding", cbs, centroids)
      .awaitTermination()
    Seq((900L, Seq(0f, 0f, 0f, 0f)),
        (901L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    run()
    Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding").coalesce(1)
      .write.mode("append").parquet(in)
    run()
    assert(spark.read.parquet(codes).select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }

  test("ingestEmbeddingNearDupKeyed heals past an empty-corpus/no-keys crash leftover") {
    import spark.implicits._
    // the embedding twin of the text gate's wedge case below: corpusDir
    // exists (schema-only), keysDir doesn't — the heal must create the
    // empty key table instead of wedging every restart
    val in = tmp("emb-wedge-in")
    val corpus = tmp("emb-wedge-corpus") + "/data"
    val keys = tmp("emb-wedge-keys") + "/keys"
    val ckpt = tmp("emb-wedge-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id LONG, embedding ARRAY<FLOAT>")
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
      .write.parquet(corpus)
    Seq((1L, Seq(1f, 0f, 0f, 0f)), (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding").coalesce(1).write.mode("append").parquet(in)
    graft.streaming.EventStreams
      .ingestEmbeddingNearDupKeyed(spark, schema, in, corpus, keys, ckpt,
        "vec_id", "embedding", threshold = 0.9, planesPerBand = 4,
        bands = 4)
      .awaitTermination()
    assert(spark.read.parquet(corpus).select($"vec_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(spark.read.parquet(keys).count() === 2 * (4L + 1)) // + band -1
  }

  test("ingestNearDupKeyed heals past a crash that left an empty corpus and no key table") {
    import spark.implicits._
    // a previous run appended an EMPTY batch's corpus (schema-only
    // parquet directory) and crashed before its keys append: corpusDir
    // exists, keysDir doesn't, and the heal's unkeyed sliver is empty —
    // the stream must create the key table anyway instead of wedging
    // every restart on a PATH_NOT_FOUND read of keysDir
    val in = tmp("wedge-in")
    val corpus = tmp("wedge-corpus") + "/data"
    val keys = tmp("wedge-keys") + "/keys"
    val ckpt = tmp("wedge-ckpt")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.parquet(corpus) // schema-only: the crashed run's leftover

    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(in)
    graft.streaming.EventStreams
      .ingestNearDupKeyed(spark, schema, in, corpus, keys, ckpt,
        "doc_id", "text", threshold = 0.6, numHashes = 16, bands = 8)
      .awaitTermination()
    assert(spark.read.parquet(corpus).select($"doc_id")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(spark.read.parquet(keys).count() === 2 * (8L + 1)) // + band -1
  }

  /** Writes `docs` as one parquet file into a fresh dir; returns it. */
  private def keyedDocs(prefix: String, docs: (Long, String)*): String = {
    import spark.implicits._
    val dir = tmp(prefix)
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(dir)
    dir
  }

  private val keyedBatch1 = Seq(
    10L -> "alpha beta gamma delta epsilon zeta eta theta",
    11L -> "alpha beta gamma delta epsilon zeta eta iota",
    12L -> "one two three four five six seven eight",
    13L -> "")
  private val keyedBatch2 = Seq(
    20L -> "alpha beta gamma delta epsilon zeta eta theta",
    21L -> "one two three four five six seven nine",
    22L -> "totally different words appearing nowhere else at all",
    23L -> "",
    24L -> "fresh novel content for the keyed ingest check")

  test("ingestNearDupKeyed evaluates each input row once per micro-batch") {
    // numInputRows counts a source row once per evaluation of the
    // micro-batch; the gate featurizes the batch into a plan leaf, so
    // every later step reads that leaf instead of the source files
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    val in = tmp("once-in")
    val corpus = tmp("once-corpus") + "/data"
    val keys = tmp("once-keys") + "/keys"
    def run(docs: Seq[(Long, String)], ck: String): Long = {
      spark.read.parquet(keyedDocs("once-batch", docs: _*))
        .write.mode("append").parquet(in)
      val q = EventStreams.ingestNearDupKeyed(spark, schema, in, corpus,
        keys, ck, "doc_id", "text", threshold = 0.6, numHashes = 16,
        bands = 8)
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
    // first batch: no corpus yet (collapse only)
    assert(run(keyedBatch1, tmp("once-ck")) === keyedBatch1.size.toLong)
    // a new run over a new file: heal audit, replay guard, probe
    assert(run(keyedBatch2, tmp("once-ck2")) ===
      (keyedBatch1 ++ keyedBatch2).size.toLong)
  }

  test("one keyed ingest batch stays within its Spark job budget") {
    // the fixed per-batch scheduling cost of the keyed gate: a step that
    // re-derives the batch inside its own plan instead of reading the
    // featurized leaves shows up here as extra jobs. Before the gate
    // featurized each batch once into plan leaves, this steady-state
    // batch ran 53 jobs; it runs 34 now (the bound leaves room for an
    // AQE re-plan or two).
    val corpus = tmp("budget-corpus") + "/data"
    val keys = tmp("budget-keys") + "/keys"
    def batch(docs: Seq[(Long, String)]) =
      spark.read.parquet(keyedDocs("budget-in", docs: _*))
    val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
    EventStreams.ingestNearDupKeyedBatch(spark, batch(keyedBatch1), corpus,
      keys, "doc_id", "text", threshold = 0.6, numHashes = 16, bands = 8,
      healed)
    healed.set(true) // steady state: the once-per-run heal already ran
    val (_, jobs) = jobsDuring(EventStreams.ingestNearDupKeyedBatch(spark,
      batch(keyedBatch2), corpus, keys, "doc_id", "text", threshold = 0.6,
      numHashes = 16, bands = 8, healed))
    assert(jobs <= 36, s"keyed ingest batch ran $jobs jobs")
    assert(spark.read.parquet(corpus).count() === 5) // 10|11, 12, 13, 22, 24
  }

  test("a keyed ingest batch releases its materialized frames, success or failure") {
    // compared as "nothing persisted since the start is left": the
    // ContextCleaner may drop earlier tests' RDDs while this one runs
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def cached() = org.apache.spark.sql.CacheEntries.count(spark)
    def batch(docs: Seq[(Long, String)]) =
      spark.read.parquet(keyedDocs("release-in", docs: _*))
    def ingest(corpus: String, keys: String, docs: Seq[(Long, String)]) =
      EventStreams.ingestNearDupKeyedBatch(spark, batch(docs), corpus, keys,
        "doc_id", "text", threshold = 0.6, numHashes = 16, bands = 8,
        new java.util.concurrent.atomic.AtomicBoolean(false))

    val (rddsBefore, cacheBefore) = (persisted(), cached())
    val corpus = tmp("release-corpus") + "/data"
    val keys = tmp("release-keys") + "/keys"
    ingest(corpus, keys, keyedBatch1)
    ingest(corpus, keys, keyedBatch2) // heal, replay guard and probe run
    assert(spark.read.parquet(corpus).count() === 5)
    assert(persisted().diff(rddsBefore) === Set.empty)
    assert(cached() === cacheBefore)

    // keysDir occupied by a plain file: the corpus append has read every
    // materialized frame when the key append throws
    val blocked = tmp("release-blocked")
    Files.writeString(java.nio.file.Paths.get(blocked, "keys"), "not a dir")
    val failedCorpus = tmp("release-failed") + "/data"
    intercept[Exception](ingest(failedCorpus, s"$blocked/keys", keyedBatch1))
    assert(spark.read.parquet(failedCorpus).count() === 3)
    assert(persisted().diff(rddsBefore) === Set.empty)
    assert(cached() === cacheBefore)
  }

  test("the keyed gates' per-row key arrays explode to the key-table builds' rows") {
    // the gates append the keys they computed once per batch, while the
    // heal re-keys through corpusBandKeys / corpusLshKeys: the two must
    // produce the same (id, band, key) rows or a healed corpus would
    // stop matching its own replays
    import graft.ops.{Dedup, Similarity}
    def rows(df: org.apache.spark.sql.DataFrame, idCol: String) = df
      .select(col(idCol).cast("long"), col("band"), col("key"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val textKeys = rows(Dedup.explodeKeys(docs.select(col("doc_id"),
      Dedup.bandKeyArray(col("text"), 16, 8, md5Basis = false).as("__bk")),
      "doc_id", "__bk", "doc_id"), "doc_id")
    assert(textKeys.nonEmpty)
    assert(textKeys === rows(Dedup.corpusBandKeys(docs, "doc_id", "text",
      numHashes = 16, bands = 8), "doc_id"))
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val vecKeys = rows(Dedup.explodeKeys(emb.select(col("vec_id"),
      Similarity.lshKeyArray(col("embedding"), 4, 4).as("__bk")),
      "vec_id", "__bk", "vec_id"), "vec_id")
    assert(vecKeys.nonEmpty)
    assert(vecKeys === rows(Similarity.corpusLshKeys(emb, "vec_id",
      "embedding", planesPerBand = 4, bands = 4), "vec_id"))
  }

  test("sessionize never moves a session's bounds backwards on cross-batch disorder") {
    // drives the per-chunk state machine directly: a streaming two-batch
    // run of sessionize can't terminate under AvailableNow
    // (ProcessingTimeTimeout — see sessionFold's scaladoc)
    import graft.streaming.EventStreams.{SessionEvent, sessionFold}
    val gapNs = 2L * 1000000000L // 2 s event-time gap
    def ns(s: Double): Long = (s * 1e9).toLong
    def ev(id: Long, s: Double) = SessionEvent(1L, id, ns(s))

    // chunk 1 (micro-batch 1): user 1 at 0 s and 1 s
    val (closed1, open1) = sessionFold(1L, None,
      Seq(ev(1, 0), ev(2, 1)), gapNs)
    assert(closed1.isEmpty && open1.exists(s =>
      s.start === ns(0) && s.last === ns(1) && s.events === 2))

    // chunk 2 (micro-batch 2): a LATE event at 0.2 s plus one at 2.8 s —
    // 1.8 s after the session's true extent, so it must MERGE; regressing
    // `last` to 0.2 s would wrongly close (2.6 s apparent gap) and leave
    // a 0.2 s duration
    val (closed2, open2) = sessionFold(1L, open1,
      Seq(ev(4, 2.8), ev(3, 0.2)), gapNs)
    assert(closed2.isEmpty, closed2.toString)
    assert(open2.exists(s =>
      s.start === ns(0) && s.last === ns(2.8) && s.events === 4))

    // an event even EARLIER than the session start must not produce a
    // negative-duration close later: bounds only ever widen
    val (closed3, open3) = sessionFold(1L, open2,
      Seq(ev(5, -0.5), ev(6, 6.0)), gapNs)
    assert(closed3 === Seq(
      graft.streaming.EventStreams.SessionOut(1L, 5, ns(2.8) - ns(-0.5))))
    assert(open3.exists(s => s.start === ns(6) && s.events === 1))
  }

  test("streamingFunnel watermarkDelay bounds cross-batch disorder tolerance") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val in = tmp("funnel-late-in")
    val stages = Seq("signup", "view")
    val schema = "user_id LONG, ts LONG, event_id LONG, event_type STRING"
    val T0 = 1600000000L * 1000000000L
    def sec(s: Long): Long = T0 + s * 1000000000L

    def run(delay: String, out: String, ckpt: String): Unit =
      graft.streaming.EventStreams.streamingFunnel(spark,
          spark.readStream.schema(schema).parquet(in), stages,
          watermarkDelay = delay)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    def completions(out: String): Seq[Long] =
      spark.read.schema("user_id LONG, stage_ts ARRAY<LONG>").parquet(out)
        .select("user_id").collect().map(_.getLong(0)).toSeq

    val (outStrict, ckptStrict) = (tmp("funnel-late-o1"), tmp("funnel-late-c1"))
    val (outLax, ckptLax) = (tmp("funnel-late-o2"), tmp("funnel-late-c2"))
    def both(): Unit = { run("0 seconds", outStrict, ckptStrict)
                         run("5 minutes", outLax, ckptLax) }

    // batch 1: user 1 signs up at T0+100 s; unrelated traffic at
    // T0+200 s commits the watermark (200 s − delay)
    Seq((1L, sec(100), 1L, "signup"), (99L, sec(200), 2L, "signup"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(in)
    both()
    // batch 2: user 1's view arrives LATE at T0+150 s — older than the
    // strict variant's watermark, inside the 5-minute allowance
    Seq((1L, sec(150), 3L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .coalesce(1).write.mode("append").parquet(in)
    both()

    assert(completions(outLax) === Seq(1L)) // admitted within the delay
    assert(completions(outStrict).isEmpty)  // dropped by the 0 s watermark
  }

  test("sessionize (flatMapGroupsWithState) agrees with the q35 batch count") {
    import spark.implicits._
    // Closed sessions per user from the stateful op + the one still-open
    // session per active user must equal q35's total session count.
    val events = Tables.events(spark, sfDir)
    val closed = EventStreams.sessionize(spark, events)
      .groupBy($"user_id").agg(count(lit(1)).as("n_closed"))

    val batch = graft.queries.EventQueries.all("q35_sessionization")(spark, sfDir)
      .select($"user_id", $"n_sessions")

    val joined = batch.join(closed, Seq("user_id"), "left")
      .select($"user_id", $"n_sessions",
        (coalesce($"n_closed", lit(0L)) + 1).as("streamed_total"))
    val bad = joined.where($"n_sessions" =!= $"streamed_total").count()
    assert(bad === 0)
  }
}
