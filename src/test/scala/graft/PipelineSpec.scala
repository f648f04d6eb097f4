package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.enrich.SyntheticFetcher
import graft.io.{Sinks, Sources}
import graft.pipeline.{Cursor, Pipelines}

class PipelineSpec extends SparkSuite {

  // specs verify pipeline semantics, not the reference's 1 s
  // origin-politeness backoff (honored since round 8) — keep retry
  // sleeps out of the test wall-clock
  private val fastEnrich = graft.enrich.Enricher.Config(backoffMs = 1)

  private def writeUrlList(n: Int): String = {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val json = (0 until n)
      .map(i => s"""{"url": "https://example.org/media/$i"}""")
      .mkString("[", ",\n", "]")
    Sinks.writeText(s"$dir/urls.json", json)
    s"$dir/urls.json"
  }

  /** `n` contract-conforming one-row shard files under `dir`. */
  private def writeShards(dir: String, n: Int): Unit = {
    import spark.implicits._
    (0 until n).foreach { i =>
      Seq((s"u$i", 0.1 * i, null: String, i.toLong, "Mesh"))
        .toDF("url", "processing_time", "error", "batch_index", "media_type")
        .coalesce(1).write.parquet(f"$dir/s$i%02d.parquet")
    }
    assert(graft.agg.Statistics.listParquetFiles(spark, dir).size === n)
  }

  test("processor advances the cursor and writes shards + dead letters") {
    val urlPath = writeUrlList(100)
    val out = Files.createTempDirectory("graft-out").toString
    val c1 = Pipelines.processor(spark, urlPath, out,
      () => new SyntheticFetcher, maxRecords = 40,
      cursorPath = s"$out/cursor.txt", totalTarget = 100, enrichConfig = fastEnrich)
    assert(c1.totalProcessed === 40)
    assert(c1.hasMore)
    val c2 = Pipelines.processor(spark, urlPath, out,
      () => new SyntheticFetcher, maxRecords = 40,
      cursorPath = s"$out/cursor.txt", totalTarget = 100, enrichConfig = fastEnrich)
    val c3 = Pipelines.processor(spark, urlPath, out,
      () => new SyntheticFetcher, maxRecords = 40,
      cursorPath = s"$out/cursor.txt", totalTarget = 100, enrichConfig = fastEnrich)
    assert(c3.totalProcessed === 100)
    assert(!c3.hasMore)
    val shards = Sources.parquetTreeMerged(spark, s"$out/shards")
    assert(shards.count() + c3.skippedCount === 100L)
    // cursor round-trips through the key=value file
    assert(Cursor.read(s"$out/cursor.txt") === c3)
  }

  test("aggregator validates, merges and writes all four artifacts") {
    val urlPath = writeUrlList(60)
    val out = Files.createTempDirectory("graft-agg").toString
    val c = Pipelines.processAll(spark, urlPath, out, () => new SyntheticFetcher,
      batchSize = 25, cursorPath = s"$out/cursor.txt", totalTarget = 60, enrichConfig = fastEnrich)
    val stats = Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    // EXACT record accounting: every processed url lands in exactly one
    // shard row (a `> 0` bound passed while silently dropping shards)
    assert(stats.totalRecords === 60L - c.skippedCount)
    assert(new java.io.File(s"$out/agg/statistics.json").exists)
    assert(new java.io.File(s"$out/agg/aggregation_summary.md").exists)
    assert(Sources.parquet(spark, s"$out/agg/combined.parquet").count() === stats.totalRecords)
    val md = Files.readString(java.nio.file.Paths.get(s"$out/agg/aggregation_summary.md"))
    assert(md.contains("Total records"))
  }

  test("aggregator handles a shards path containing a space (raw-URI reads)") {
    // listParquetFiles' normalized form is a JOIN KEY against
    // input_file_name() — percent-encoded, scheme-stripped. Feeding it
    // back into spark.read resolved '%20' literally and crashed the
    // per-file contract validation on any checkout path with a space
    // (an object-store path would mis-resolve the same way); the
    // aggregator now reads through listParquetFilesRaw's URIs.
    val urlPath = writeUrlList(30)
    val out = Files.createTempDirectory("graft agg spaced").toString
    val c = Pipelines.processAll(spark, urlPath, out, () => new SyntheticFetcher,
      batchSize = 30, cursorPath = s"$out/cursor.txt", totalTarget = 30, enrichConfig = fastEnrich)
    val stats = Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    assert(stats.totalRecords === 30L - c.skippedCount)
    assert(Sources.parquet(spark, s"$out/agg/combined.parquet").count() === stats.totalRecords)
  }

  test("urlList yields an empty frame when no object carries a url field") {
    // '[{"link": ...}]' infers a schema WITHOUT url; 'drop missing'
    // must mean an empty frame (the reference's u.get('url') filter),
    // not an UNRESOLVED_COLUMN crash
    val p = Files.createTempDirectory("graft-nourl").resolve("urls.json")
    Files.writeString(p, """[{"link": "https://example.org/a"}, {"n": 2}]""")
    val df = Sources.urlList(spark, p.toString)
    assert(df.columns.toSeq === Seq("url"))
    assert(df.count() === 0L)
  }

  test("processor writes processing_summary.md and appends processor.log per batch") {
    val urlPath = writeUrlList(50)
    val out = Files.createTempDirectory("graft-sum").toString
    Pipelines.processAll(spark, urlPath, out, () => new SyntheticFetcher,
      batchSize = 25, cursorPath = s"$out/cursor.txt", totalTarget = 50, enrichConfig = fastEnrich)
    val md = Files.readString(java.nio.file.Paths.get(s"$out/processing_summary.md"))
    assert(md.contains("Processing Summary"))
    assert(md.contains("- Batch Size: 25"))
    assert(md.contains("- Start Index: 25")) // last batch's start
    val log = Files.readString(java.nio.file.Paths.get(s"$out/processor.log"))
    val lines = log.trim.linesIterator.toSeq
    assert(lines.length >= 2) // one appended line per batch
    assert(lines.head.contains("batch=[0,"))
    assert(lines.last.contains("has_more=false"))
  }

  test("processor error_count counts failed attempts (retries + dead letters)") {
    val urlPath = writeUrlList(400)
    val out = Files.createTempDirectory("graft-err").toString
    val c = Pipelines.processAll(spark, urlPath, out, () => new SyntheticFetcher,
      batchSize = 400, cursorPath = s"$out/cursor.txt", totalTarget = 400, enrichConfig = fastEnrich)
    import org.apache.spark.sql.functions._
    val retried = Sources.parquetTreeMerged(spark, s"$out/shards")
      .where(col("attempt") > 1).count()
    // every retried success contributed attempt-1 = 1 failure; every dead
    // letter contributed its (maxAttempts = 2) failed attempts
    assert(c.errorCount === retried + 2 * c.skippedCount)
    assert(c.errorCount > 0, "synthetic corpus should exercise retries")
  }

  test("aggregator file stats come from FS metadata with byte sizes") {
    val urlPath = writeUrlList(60)
    val out = Files.createTempDirectory("graft-fs").toString
    Pipelines.processAll(spark, urlPath, out, () => new SyntheticFetcher,
      batchSize = 30, cursorPath = s"$out/cursor.txt", totalTarget = 60, enrichConfig = fastEnrich)
    Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")

    val files = graft.agg.Statistics.listParquetFiles(spark, s"$out/shards")
    assert(files.nonEmpty)
    assert(files.forall(_._2 > 0), "FS listing must carry real byte sizes")

    val df = Sources.parquetTreeMerged(spark, s"$out/shards")
    val withSize = graft.agg.Statistics.perFileStatsWithSize(spark, df, s"$out/shards")
      .collect()
    assert(withSize.length === files.length)
    assert(withSize.forall(r => !r.isNullAt(2) && r.getLong(2) > 0),
      "every scanned file must join to its FS byte size")
    assert(withSize.map(_.getLong(1)).sum === df.count())

    val md = Files.readString(java.nio.file.Paths.get(s"$out/agg/aggregation_summary.md"))
    assert(md.contains("## Files"))
    assert(md.contains("| File | Records | Bytes |"))
    // the layout health check runs where a user would see it: the test
    // shards are tiny, so the small-file warning must fire in the report
    assert(md.contains("## Parquet layout"))
    assert(md.contains("| Size bucket | Files | Total bytes | Min | Max |"))
    assert(md.contains("under 16 MiB"))
    // every table line must keep its leading pipe (stripMargin once ate
    // the margin '|' of interpolated rows, breaking the markdown tables)
    val tableLines = md.linesIterator.filter(_.contains(" | ")).toSeq
    assert(tableLines.nonEmpty)
    assert(tableLines.forall(_.startsWith("|")),
      tableLines.filterNot(_.startsWith("|")).mkString("\n"))
  }

  test("largestPerSegment picks the biggest parquet per child directory") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-seg").toString
    Seq.fill(1000)("x").toDF("a").coalesce(1).write.parquet(s"$dir/seg1/big")
    Seq("y").toDF("a").coalesce(1).write.parquet(s"$dir/seg1/small")
    Seq("z").toDF("a").coalesce(1).write.parquet(s"$dir/seg2/only")
    val largest = graft.agg.Statistics.largestPerSegment(spark, dir)
    assert(largest.map(_._1) === Seq("seg1", "seg2"))
    val seg1 = largest.find(_._1 == "seg1").get
    assert(seg1._2.contains("/big/"), seg1)
    assert(seg1._3 > 0)
  }

  test("cancelAll aborts running jobs in a tagged pipeline group (X5)") {
    import spark.implicits._
    val result = scala.concurrent.Promise[Long]()
    val t = new Thread(() => {
      try result.success(
        graft.GraftSession.runCancellable(spark, "graft-processor", "spec") {
          spark.range(1000000).mapPartitions { it =>
            it.map { i => Thread.sleep(1); i }
          }.count()
        })
      catch { case e: Throwable => result.failure(e) }
    })
    t.start()
    // wait (via the status tracker) until the tagged job is running
    val tracker = spark.sparkContext.statusTracker
    def running = tracker.getJobIdsForGroup("graft-processor").exists(id =>
      tracker.getJobInfo(id)
        .exists(_.status() == org.apache.spark.JobExecutionStatus.RUNNING))
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!running && System.nanoTime() < deadline) Thread.sleep(50)
    assert(running, "tagged job never started")
    graft.GraftSession.cancelAll(spark)
    t.join(30000)
    val r = result.future.value.get
    assert(r.isFailure, "cancelled job must not complete")
    val msg = r.failed.get.getMessage
    assert(msg != null && msg.toLowerCase.contains("cancel"), msg)
  }

  test("coordinator plan mirrors the reference cost model") {
    val p = Pipelines.plan(totalRecords = 25000, numSegments = 5,
      avgSecondsPerRecord = 5.0, maxConcurrent = 3)
    assert(p.segments.length === 5)
    assert(p.segments.head === ((0L, 5000L, "0k-5k")))
    assert(p.segments.last._2 === 25000L)
    // avg_time × segment / 3600 (coordinator.yml:280)
    assert(math.abs(p.estHoursPerSegment - 5.0 * 5000 / 3600) < 1e-9)
    assert(math.abs(p.estHoursTotal - 5.0 * 25000 / (3600 * 3)) < 1e-9)
  }

  test("canary gate passes on the synthetic corpus") {
    val urlPath = writeUrlList(30)
    val out = Files.createTempDirectory("graft-canary").toString
    val (ok, avg) = Pipelines.canary(spark, urlPath, out,
      () => new SyntheticFetcher, records = 10)
    assert(ok)
    assert(avg < 30.0)
  }

  test("accept rejects on each clause: record floor, avg ceiling, error rate") {
    import graft.agg.Statistics
    // the canary test above only exercises the accepting direction (the
    // in-memory fetcher clears every threshold by orders of magnitude) —
    // each rejecting clause needs its own case or accept could regress
    // to `true` unnoticed
    def stats(n: Long, errs: Long, avg: Double) =
      Statistics.GlobalStats(n, errs, avg, avg, avg, avg * n)
    assert(Statistics.accept(stats(10, 1, 1.0)))
    assert(!Statistics.accept(stats(7, 0, 1.0)))   // below minRecords = 8
    assert(Statistics.accept(stats(8, 0, 1.0)))    // boundary: >= is accept
    assert(!Statistics.accept(stats(10, 0, 30.0))) // avg at the 30 s ceiling
    assert(!Statistics.accept(stats(10, 2, 1.0)))  // errorRate 0.2 at the cap
    assert(Statistics.accept(stats(10, 1, 29.9)))  // just inside both
  }

  test("aggregator excludes a contract-violating shard instead of null-filling it") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-excl").toString
    // two conforming shards + one missing the required 'error' column
    Seq(("u1", 0.1, null: String, 0L, "Mesh"))
      .toDF("url", "processing_time", "error", "batch_index", "media_type")
      .write.parquet(s"$out/shards/a.parquet")
    Seq(("u2", 0.2, null: String, 1L, "Mesh"))
      .toDF("url", "processing_time", "error", "batch_index", "media_type")
      .write.parquet(s"$out/shards/b.parquet")
    Seq(("bad", 0.3, 2L, "Mesh"))
      .toDF("url", "processing_time", "batch_index", "media_type")
      .write.parquet(s"$out/shards/c.parquet")
    val stats = Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    // the bad shard's row must NOT appear as a null-filled success
    // (the reference excludes invalid shards and continues,
    // evaluate_test_run.py:60-67)
    assert(stats.totalRecords === 2L)
    val combined = Sources.parquet(spark, s"$out/agg/combined.parquet")
    assert(combined.where($"url" === "bad").count() === 0)
  }

  test("aggregator fails loudly when every shard violates the contract") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-allbad").toString
    Seq(("x", 0.1)).toDF("url", "processing_time")
      .write.parquet(s"$out/shards/only.parquet")
    val err = intercept[IllegalArgumentException] {
      Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    }
    assert(err.getMessage.contains("satisfies the read contract"), err.getMessage)
  }

  test("aggregator on a missing shards dir names the dir, not the read contract") {
    val out = Files.createTempDirectory("graft-noshard").toString
    val err = intercept[IllegalArgumentException] {
      Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    }
    assert(err.getMessage.contains(s"no parquet shard file under $out/shards"),
      err.getMessage)
  }

  test("aggregator on a shards dir with no parquet file names the dir") {
    val out = Files.createTempDirectory("graft-emptyshards").toString
    // hidden scratch and a non-parquet file: nothing a read would see
    Files.createDirectories(java.nio.file.Path.of(s"$out/shards/_temporary"))
    Files.write(java.nio.file.Path.of(s"$out/shards/_SUCCESS"),
      Array.emptyByteArray)
    Files.write(java.nio.file.Path.of(s"$out/shards/notes.txt"), "x".getBytes)
    val err = intercept[IllegalArgumentException] {
      Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    }
    assert(err.getMessage.contains(s"no parquet shard file under $out/shards"),
      err.getMessage)
    assert(!new java.io.File(s"$out/agg/statistics.json").exists)
  }

  test("aggregator fails loudly on a truncated shard") {
    val out = Files.createTempDirectory("graft-trunc").toString
    writeShards(s"$out/shards", 2)
    // a real shard cut off mid-upload: its footer is gone
    val whole = new java.io.File(s"$out/shards/s00.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(whole.toPath)
    Files.write(java.nio.file.Path.of(s"$out/shards/zz_truncated.parquet"),
      bytes.take(bytes.length / 2))
    // not skipped, not excluded as a contract violator: the run fails,
    // naming the file, and writes no artifact
    val err = intercept[Exception] {
      Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    }
    val chain = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("zz_truncated.parquet"), chain)
    assert(!new java.io.File(s"$out/agg/statistics.json").exists)
  }

  test("aggregator skips an interrupted append's uncommitted part file") {
    val out = Files.createTempDirectory("graft-uncommitted").toString
    writeShards(s"$out/shards", 2)
    // a processor whose driver died mid-write leaves its task output
    // under the job's _temporary tree, possibly cut off: spark.read of
    // the tree skips it, so the aggregator's listing must too — neither
    // footer-read nor counted as a shard
    val whole = new java.io.File(s"$out/shards/s00.parquet").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(whole.toPath)
    val attempt = java.nio.file.Path.of(s"$out/shards/_temporary/0/" +
      "_temporary/attempt_202610180000_0001_m_000000_0")
    Files.createDirectories(attempt)
    Files.write(attempt.resolve("part-00000-uncommitted.snappy.parquet"),
      bytes.take(bytes.length / 2))
    val stats = Pipelines.aggregator(spark, s"$out/shards", s"$out/agg")
    assert(stats.totalRecords === 2L)
    val json = Files.readString(java.nio.file.Paths.get(s"$out/agg/statistics.json"))
    assert(json.contains("\"files_combined\": 2,"), json)
  }

  test("shard listing matches a java.nio walk of a nested tree, hidden names skipped") {
    val root = Files.createTempDirectory("graft listing walk")
    import spark.implicits._
    def shard(rel: String): Unit =
      Seq(("u", 1L)).toDF("url", "batch_index").coalesce(1)
        .write.mode("append").parquet(root.resolve(rel).toString)
    shard("a"); shard("a/b c/d"); shard("e=1"); shard("_f=2")
    // hidden: scratch dirs, dot/underscore files, and non-parquet names
    shard("_temporary/0"); shard(".staging")
    Files.write(root.resolve("a/.part-hidden.parquet"), Array[Byte](1))
    Files.write(root.resolve("a/_part-hidden.parquet"), Array[Byte](1))
    def hidden(p: java.nio.file.Path) = root.relativize(p).iterator()
      .asScala.exists { n =>
        val s = n.toString
        (s.startsWith("_") && !s.contains("=")) || s.startsWith(".")
      }
    val walk = Files.walk(root)
    val expected = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet") &&
        !hidden(p))
      .map(p => (p.toAbsolutePath.toString, Files.size(p))).toSeq
      .sortBy(_._1)
      finally walk.close()
    assert(expected.size === 4)
    def local(uri: java.net.URI) = java.nio.file.Paths.get(uri).toString
    val listed = graft.agg.Statistics.listParquetFilesRaw(spark, root.toString)
    // raw Hadoop URIs resolve back to the files with their exact sizes;
    // the normalized keys are sorted and keep the space percent-encoded
    assert(listed.map { case (raw, _, len) =>
      (local(new org.apache.hadoop.fs.Path(raw).toUri), len)
    }.sortBy(_._1) === expected)
    assert(listed.map(_._2) === listed.map(_._2).sorted)
    assert(listed.forall(_._2.contains("graft%20listing%20walk")))
    // the listing is exactly what a table read of the tree sees
    val read = spark.read.option("recursiveFileLookup", true)
      .parquet(root.toString).inputFiles.map(f => local(new java.net.URI(f))).toSet
    assert(read === expected.map(_._1).toSet)
  }

  test("one processor batch appends one shard and one dead-letter file, fetched wide") {
    val urlPath = writeUrlList(200)
    val out = Files.createTempDirectory("graft-onefile").toString
    // md5 prefix "0" dead-letters ~1/16 of the urls, so both sinks see rows
    val fetcher = () => {
      FetchStages.seen.add(org.apache.spark.TaskContext.get().stageId())
      new SyntheticFetcher(alwaysFailPrefix = "0")
    }
    def batch() = Pipelines.processor(spark, urlPath, out, fetcher,
      maxRecords = 100, cursorPath = s"$out/cursor.txt", totalTarget = 200,
      enrichConfig = fastEnrich)
    def parts(sink: String) = Option(new java.io.File(s"$out/$sink").listFiles())
      .getOrElse(Array.empty).count(_.getName.startsWith("part-"))
    val (c1, jobs) = jobsDuring(batch())
    assert(jobs === 4)
    assert(c1.skippedCount > 0, "the batch must dead-letter some urls")
    assert((parts("shards"), parts("dead_letter")) === ((1, 1)))
    FetchStages.seen.clear()
    val (c2, widths) = stageWidthsDuring(batch())
    assert(c2.totalProcessed === 200)
    assert((parts("shards"), parts("dead_letter")) === ((2, 2)))
    // the fetch ran in one stage, as wide as the cluster — not inside
    // the one-task sink writes
    assert(FetchStages.seen.size === 1, FetchStages.seen)
    assert(widths(FetchStages.seen.iterator().next()) ===
      spark.sparkContext.defaultParallelism, widths)
    assert(Sources.parquetTreeMerged(spark, s"$out/shards").count() +
      c2.skippedCount === 200L)
  }

  test("aggregator sizes combined parts by bytes, floored at min(files, cores)") {
    val out = Files.createTempDirectory("graft-sinks").toString
    writeShards(s"$out/shards", 12)
    def parts(dir: String, ext: String) = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(ext))
    val merged = Sources.parquetTreeMerged(spark, s"$out/shards")
    def check(session: org.apache.spark.sql.SparkSession, agg: String,
        expected: Int): Unit = {
      val stats = Pipelines.aggregator(session, s"$out/shards", agg)
      assert(parts(s"$agg/combined.parquet", ".parquet") === expected)
      assert(parts(s"$agg/combined.csv", ".csv") === expected)
      val pq = spark.read.parquet(s"$agg/combined.parquet")
      val csv = spark.read.option("header", true).csv(s"$agg/combined.csv")
      assert(stats.totalRecords === 12L)
      assert(pq.columns.toSeq === merged.columns.toSeq)
      assert(csv.columns.toSeq === merged.columns.toSeq)
      assert(pq.collect().toSet === merged.collect().toSet)
      assert(csv.count() === merged.count())
    }
    // ~12 KB is far below the default maxPartitionBytes, so the floor
    // sets the count: min(12 files, defaultParallelism) parts where the
    // shard-split scan wrote 12
    check(spark, s"$out/agg",
      math.min(12, spark.sparkContext.defaultParallelism))
    // a maxPartitionBytes of a sixth of the input: the bytes set it
    val bytes = graft.agg.Statistics
      .listParquetFilesRaw(spark, s"$out/shards").map(_._3).sum
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", (bytes + 5) / 6)
    check(small, s"$out/agg6", 6)
  }

  test("processor batch runs 4 jobs; aggregator jobs don't grow per shard") {
    // pins the per-batch and per-file fixed cost: a job per batch for
    // url-list schema inference or the window-bound probe, or a job per
    // shard file for contract validation, shows up here
    val urlPath = writeUrlList(100)
    val out = Files.createTempDirectory("graft-jobs").toString
    val (c, batchJobs) = jobsDuring(Pipelines.processor(spark, urlPath, out,
      () => new SyntheticFetcher, maxRecords = 100,
      cursorPath = s"$out/cursor.txt", totalTarget = 100,
      enrichConfig = fastEnrich))
    assert(c.totalProcessed === 100)
    // the slice's shuffle map stage, the fetch pass into the cached
    // enrichment, the shard write and the dead-letter write
    assert(batchJobs === 4)
    def aggJobs(files: Int): Int = {
      val dir = Files.createTempDirectory("graft-aggjobs").toString
      writeShards(s"$dir/shards", files)
      val (stats, jobs) = jobsDuring(
        Pipelines.aggregator(spark, s"$dir/shards", s"$dir/agg"))
      assert(stats.totalRecords === files.toLong)
      jobs
    }
    val (over3, over12) = (aggJobs(3), aggJobs(12))
    assert(over3 === over12, s"3 shards: $over3 jobs, 12 shards: $over12")
  }

  test("text artifacts and cursor honor filesystem schemes (file://)") {
    val dir = Files.createTempDirectory("graft-scheme").toString
    // scheme'd path → Hadoop FileSystem route; must land at the URI's
    // local location, not in a ./file:/ tree relative to the cwd
    Sinks.writeText(s"file://$dir/sub/note.md", "hello")
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/sub/note.md")) === "hello")
    Sinks.appendText(s"file://$dir/sub/log.txt", "l1")
    Sinks.appendText(s"file://$dir/sub/log.txt", "l2")
    assert(Files.readString(java.nio.file.Paths.get(s"$dir/sub/log.txt")) === "l1\nl2\n")
    val c = Cursor(7, 7, hasMore = true, 1, 0)
    Cursor.write(s"file://$dir/cursor.txt", c)
    assert(Cursor.read(s"file://$dir/cursor.txt") === c)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/cursor.txt")))
  }

  test("schema-merge union null-fills heterogeneous shards") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-merge").toString
    Seq(("u1", 0.1, null: String, 0, "Mesh"))
      .toDF("url", "processing_time", "error", "batch_index", "media_type")
      .write.parquet(s"$dir/a.parquet")
    Seq(("u2", 0.2, null: String, 1, "12345"))
      .toDF("url", "processing_time", "error", "batch_index", "points")
      .write.parquet(s"$dir/b.parquet")
    val merged = Sources.parquetTreeMerged(spark, dir)
    assert(merged.count() === 2)
    assert(merged.columns.toSet.contains("media_type"))
    assert(merged.columns.toSet.contains("points"))
    assert(merged.where($"media_type".isNull).count() === 1)
  }

  test("lenient tree scan skips a corrupt shard; strict scan fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-corrupt").toString
    val good = Seq((1L, "good"), (2L, "rows")).toDF("id", "v")
    good.write.parquet(s"$dir/good.parquet")
    // a truncated upload: right suffix, garbage bytes — named to sort
    // AFTER the good shard so schema inference has a readable footer
    Files.write(java.nio.file.Path.of(s"$dir/zz_broken.parquet"),
      "not a parquet file at all".getBytes("UTF-8"))
    assert(Sources.parquetTreeLenient(spark, dir).count() === 2)
    // the strict scan must fail ON THE CORRUPT SHARD specifically — any
    // SparkException with a non-null message (they all have one) would
    // have passed, masking a strict mode broken on valid trees
    val strictErr = intercept[org.apache.spark.SparkException] {
      Sources.parquetTree(spark, dir).count()
    }
    val chain = Iterator.iterate(strictErr: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString("\n")
    assert(chain.contains("zz_broken.parquet"), chain)
    // corrupt shard FIRST in listing order: inference has nothing to
    // read — the explicit-schema form is corruption-proof end to end
    Files.write(java.nio.file.Path.of(s"$dir/aa_broken.parquet"),
      "also garbage".getBytes("UTF-8"))
    val withSchema = Sources.parquetTreeLenient(spark, dir,
      schema = Some(good.schema))
    assert(withSchema.count() === 2)
  }

  test("readAndReconcile reports the skipped shard with its byte size") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-reconcile").toString
    val good = Seq((1L, "good"), (2L, "rows")).toDF("id", "v")
    good.write.parquet(s"$dir/good.parquet")
    val garbage = "truncated mid-upload".getBytes("UTF-8")
    Files.write(java.nio.file.Path.of(s"$dir/zz_broken.parquet"), garbage)
    val (df, report) = Sources.readAndReconcile(spark, dir)
    // the frame is the plain lenient scan: good rows survive
    assert(df.count() === 2)
    // the census-diff names the planted shard, with counts and bytes
    assert(!report.clean)
    assert(report.expectedFiles === report.readFiles + 1)
    assert(report.unread.size === 1)
    val (path, bytes) = report.unread.head
    assert(path.endsWith("/zz_broken.parquet"), path)
    assert(bytes === garbage.length.toLong)
    // a fully healthy tree reconciles clean
    val cleanDir = Files.createTempDirectory("graft-reconcile2").toString
    good.write.parquet(s"$cleanDir/good.parquet")
    val (df2, report2) = Sources.readAndReconcile(spark, cleanDir)
    assert(df2.count() === 2)
    assert(report2.clean && report2.expectedFiles === report2.readFiles)
  }

  test("datasetRelease writes datasheet, manifest, sample and the data card") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-release").toString
    val card = Pipelines.datasetRelease(spark,
      s"$sfDir/documents.parquet", out)
    // artifacts on disk
    val datasheet = spark.read.parquet(s"$out/datasheet.parquet")
    val manifest = spark.read.parquet(s"$out/manifest.parquet")
    val sample = spark.read.json(s"$out/sample.jsonl")
    val docs = Tables.documents(spark, sfDir)
    assert(datasheet.count() === docs.select($"source").distinct().count())
    assert(manifest.count() === datasheet.count())
    // the md5 sample rule is reproducible: re-derive the expected ids.
    // This re-derivation goes through the same md5Bucket the release
    // uses — the bucket space + hash basis themselves are independently
    // pinned by SamplingSpec's MessageDigest recomputation, which is
    // what keeps this from being implementation-vs-itself.
    val expected = docs.where(graft.ops.Sampling.md5Bucket($"doc_id",
        "release") < 50000L)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty)
    assert(sample.select($"doc_id").collect().map(_.getLong(0)).toSet
      === expected)
    // the card carries every section and matches the written file
    assert(Files.readString(java.nio.file.Path.of(s"$out/DATASHEET.md"))
      === card)
    for (section <- Seq("# Corpus datasheet", "## Duplication density",
        "## Content manifest", "## Parquet layout"))
      assert(card.contains(section), section)
  }

  test("jsonl sink round-trips plain and gzipped, one object per line") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-jsonl").toString
    val df = Seq((1L, "alpha"), (2L, "beta \"quoted\"")).toDF("doc_id", "text")
    Sinks.jsonl(df.repartition(1), s"$dir/plain")
    Sinks.jsonl(df.repartition(1), s"$dir/gz", gzip = true)
    // gzip shards carry the .gz suffix so loaders stream-decompress
    val gzFiles = new java.io.File(s"$dir/gz").listFiles()
      .filter(_.getName.endsWith(".json.gz"))
    assert(gzFiles.nonEmpty)
    // both round-trip through Spark's reader with identical content
    for (sub <- Seq("plain", "gz")) {
      val back = spark.read.json(s"$dir/$sub")
        .select($"doc_id", $"text").as[(Long, String)].collect().toSet
      assert(back === Set((1L, "alpha"), (2L, "beta \"quoted\"")))
    }
    // the plain form is literally one JSON object per line
    val lines = new java.io.File(s"$dir/plain").listFiles()
      .filter(_.getName.endsWith(".json"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
    assert(lines.length === 2)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
  }
}

/** Stage ids the fetchers of one [[PipelineSpec]] batch were made in. */
object FetchStages {
  val seen: java.util.Set[Int] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}
