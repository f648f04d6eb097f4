package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Statistics
import graft.enrich.{Enricher, Fetcher}
import graft.io.{Sinks, Sources}
import graft.model.MediaSchema

/** The three reference entry points (SURVEY.md §3), collapsed into Spark
  * jobs. The coordinator's canary → cost model → fan-out (§3.2) becomes
  * partition-count arithmetic + Spark's own scheduler: one application,
  * no polling barriers, no workflow mutexes.
  */
object Pipelines {

  // ------------------------------------------------------------- processor

  /** §3.1: url list → slice by cursor → enrich → shard + dead-letter +
    * cursor. Narrow pipeline: zero shuffles end-to-end.
    *
    * @return the advanced cursor (also persisted to `cursorPath`)
    */
  def processor(spark: SparkSession, urlListPath: String, outDir: String,
      fetcherFactory: () => Fetcher, maxRecords: Int,
      cursorPath: String, totalTarget: Long = Long.MaxValue,
      enrichConfig: Enricher.Config = Enricher.Config()): Cursor = {
    val cur = Cursor.read(cursorPath)
    val remaining = totalTarget - cur.totalProcessed
    if (remaining <= 0 || !cur.hasMore) {
      val done = cur.copy(hasMore = false)
      Cursor.write(cursorPath, done)
      return done
    }
    val take = math.min(maxRecords.toLong, remaining).toInt
    val t0 = System.nanoTime()

    // offset() pagination is Int-bounded in the DataFrame API; past 2^31
    // records use the Structured-Streaming twin (StreamingProcessor),
    // whose file-based offsets have no such ceiling. Fail loudly instead
    // of wrapping the cursor negative and corrupting the index chain.
    require(cur.nextIndex + take <= Int.MaxValue,
      s"cursor ${cur.nextIndex} + $take exceeds the offset() pagination " +
        "ceiling (2^31); switch to streaming.StreamingProcessor for lists " +
        "this long")
    val urls = Sources.urlList(spark, urlListPath)
    val slice = Sources.slice(urls, "url", cur.nextIndex.toInt, take)

    val enriched = Enricher.enrich(slice, fetcherFactory,
      enrichConfig.copy(startIndex = cur.nextIndex))

    // A11 running counters ride on the sink jobs as observed metrics
    // (df.observe) instead of separate count() jobs. A batch runs four
    // jobs, all in the cancellable group below (PipelineSpec pins the
    // count with a SparkListener): (1) the shuffle-map stage of the
    // slice + row_number window ahead of the enrichment's repartition,
    // (2) the fetch pass that fills the cached enrichment, one task per
    // fetch partition, (3) the shard write and (4) the dead-letter
    // write, one task and one file each. The url list reads with a
    // pinned schema (no inference job), the slice's limit proves the
    // window bound statically (no probe job), and the window's one
    // partition is known, not probed, when the fetch is spread.
    // error_count follows the reference's semantics: every failed ATTEMPT
    // counts, including transient failures that later succeeded (attempt>1
    // means attempt-1 failures) and every attempt behind a dead letter.
    val recObs = org.apache.spark.sql.Observation()
    val deadObs = org.apache.spark.sql.Observation()
    graft.GraftSession.runCancellable(spark, "graft-processor",
        s"enrich [${cur.nextIndex}, ${cur.nextIndex + take})") {
      Sinks.appendParquet(
        enriched.records.observe(recObs,
          count(lit(1)).as("produced"),
          coalesce(sum(col("attempt") - 1), lit(0L)).as("errors")),
        s"$outDir/shards")
      Sinks.deadLetterJson(
        enriched.deadLetter.observe(deadObs, count(lit(1)).as("dead"),
          coalesce(sum(col("attempts")), lit(0L)).as("dead_attempts")),
        s"$outDir/dead_letter")
    }

    val produced = recObs.get("produced").asInstanceOf[Long]
    val errors = recObs.get("errors").asInstanceOf[Long] +
      deadObs.get("dead_attempts").asInstanceOf[Long]
    val dead = deadObs.get("dead").asInstanceOf[Long]
    // both sink jobs are done (observations resolved) — drop the batch's
    // cached enrichment pass, or processAll leaks one cache entry per batch
    enriched.release()
    val consumed = produced + dead
    val next = Cursor(
      nextIndex = cur.nextIndex + consumed,
      totalProcessed = cur.totalProcessed + consumed,
      hasMore = consumed > 0 && cur.totalProcessed + consumed < totalTarget &&
        consumed >= take, // short read = source exhausted
      errorCount = cur.errorCount + errors,
      skippedCount = cur.skippedCount + dead)
    Cursor.write(cursorPath, next)

    // K8 parity: per-run processing_summary.md
    // (processor.local.yml:84-92) + an appended per-batch progress line
    // (the reference's processor.log heartbeat).
    val elapsed = (System.nanoTime() - t0) / 1e9
    Sinks.writeText(s"$outDir/processing_summary.md",
      s"""Processing Summary
         |==================
         |
         |- Timestamp: ${java.time.Instant.now()}
         |- Batch Size: $take
         |- Max Records: $maxRecords
         |- Start Index: ${cur.nextIndex}
         |- Produced: $produced
         |- Dead-lettered: $dead
         |- Failed attempts: $errors
         |""".stripMargin)
    Sinks.appendText(s"$outDir/processor.log",
      f"${java.time.Instant.now()} batch=[${cur.nextIndex},${cur.nextIndex + consumed}) " +
        f"produced=$produced dead=$dead failed_attempts=${next.errorCount - cur.errorCount} " +
        f"elapsed=$elapsed%.2fs has_more=${next.hasMore}")
    next
  }

  /** Drive [[processor]] to completion (the coordinator's fan-out loop,
    * §3.2, as a driver loop — each iteration is a distributed job).
    */
  def processAll(spark: SparkSession, urlListPath: String, outDir: String,
      fetcherFactory: () => Fetcher, batchSize: Int,
      cursorPath: String, totalTarget: Long,
      enrichConfig: Enricher.Config = Enricher.Config()): Cursor = {
    var c = Cursor.read(cursorPath)
    while (c.hasMore && c.totalProcessed < totalTarget) {
      c = processor(spark, urlListPath, outDir, fetcherFactory, batchSize,
        cursorPath, totalTarget, enrichConfig = enrichConfig)
    }
    c
  }

  // ------------------------------------------------------------ coordinator

  /** X2: the canary cost model — segment count + runtime estimate from a
    * measured avg seconds/record (coordinator.yml:251-282). In Spark the
    * "segments" are just input partitions of one job.
    */
  case class Plan(segments: Seq[(Long, Long, String)], estHoursPerSegment: Double,
      estHoursTotal: Double)

  def plan(totalRecords: Long, numSegments: Int, avgSecondsPerRecord: Double,
      maxConcurrent: Int = 3): Plan = {
    val per = totalRecords / numSegments
    val segments = (0 until numSegments).map { i =>
      val start = i * per
      val end = if (i == numSegments - 1) totalRecords else (i + 1) * per
      (start, end, s"${start / 1000}k-${end / 1000}k")
    }
    Plan(segments,
      estHoursPerSegment = avgSecondsPerRecord * per / 3600.0,
      estHoursTotal = avgSecondsPerRecord * totalRecords / (3600.0 * maxConcurrent))
  }

  /** X1: the 10-record canary gate — measure, evaluate acceptance, return
    * (pass, avgSecondsPerRecord) (coordinator.yml:38-241).
    */
  def canary(spark: SparkSession, urlListPath: String, outDir: String,
      fetcherFactory: () => Fetcher, records: Int = 10,
      enrichConfig: Enricher.Config = Enricher.Config()): (Boolean, Double) = {
    val c = processor(spark, urlListPath, outDir, fetcherFactory,
      maxRecords = records, cursorPath = s"$outDir/canary_cursor.txt",
      totalTarget = records, enrichConfig = enrichConfig)
    val df = Sources.parquetTreeMerged(spark, s"$outDir/shards")
    val stats = Statistics.globalStats(df)
    (Statistics.accept(stats), stats.avgProcessingTime)
  }

  // ------------------------------------------------------------- aggregator

  /** One-call corpus RELEASE artifact generator — the operational
    * entrypoint a data team runs before shipping a training corpus:
    *
    *  1. per-source datasheet (volumes, dups, languages, quality) →
    *     `datasheet.parquet`
    *  2. content manifest (order-independent release-equality hashes)
    *     → `manifest.parquet` — diff two releases' manifests before
    *     paying for a full snapshot diff
    *  3. corpus-wide duplication-density percentiles (p50/p90/p99 of
    *     each doc's shared-shingle fraction)
    *  4. deterministic md5-sampled review slice → `sample.jsonl`
    *     (loader-ready JSONL)
    *  5. `DATASHEET.md` — the human-readable data card stitching all of
    *     the above together with the parquet layout health buckets
    *
    * Every section reuses an oracle- or spec-verified operator; this
    * function only composes and writes. Heavy stages are independent
    * Spark jobs over the same scan — nothing is collected except
    * report-sized frames.
    */
  def datasetRelease(spark: SparkSession, corpusDir: String,
      outDir: String, idCol: String = "doc_id", textCol: String = "text",
      sourceCol: String = "source", langCol: String = "lang",
      sampleRate: Double = 0.05): String = {
    val docs = spark.read.parquet(corpusDir)
    val datasheet = Statistics.corpusDatasheet(docs, textCol, sourceCol,
      langCol)
    Sinks.parquet(datasheet, s"$outDir/datasheet.parquet")
    val manifest = graft.ops.Dedup.contentManifest(docs, sourceCol, idCol,
      textCol)
    Sinks.parquet(manifest, s"$outDir/manifest.parquet")
    val dup = graft.ops.Dedup.dupShingleFraction(docs, idCol, textCol,
      n = 3)
    // empty when no doc reaches 3 tokens — the card then says n/a.
    // Sketch percentiles, not the exact window: the "group" here is
    // the WHOLE corpus, and the exact path's cume_dist window would
    // sort every doc's dup_frac in one partition (observed as the
    // WindowExec single-partition warning in the sf1 release run) —
    // a data card tolerates 1/accuracy rank error, a single-executor
    // corpus-wide sort at 100 TB does not.
    val dupRow = graft.ops.Quantiles.groupPercentilesApprox(
        dup.withColumn("__all", lit("corpus")), "__all", "dup_frac",
        Seq(0.5, 0.9, 0.99))
      .collect().headOption
    Sinks.jsonl(docs.where(graft.ops.Sampling.md5Bucket(col(idCol),
        "release") < (sampleRate * 1000000L).toLong),
      s"$outDir/sample.jsonl")
    val manifestRows = manifest.orderBy(col("source")).collect().map { r =>
      s"| ${r.getAs[String]("source")} | ${r.getAs[Long]("n_docs")} | " +
        s"${r.getAs[java.math.BigDecimal]("content_hash")} |"
    }.mkString("\n")
    val dupCells = dupRow
      .map(r => f"| ${r.getAs[Double]("p50")}%.4f | " +
        f"${r.getAs[Double]("p90")}%.4f | ${r.getAs[Double]("p99")}%.4f |")
      .getOrElse("| n/a | n/a | n/a |")
    val card = Statistics.datasheetMarkdown(datasheet) +
      "\n## Duplication density (shared 3-gram fraction per doc)\n\n" +
      "| p50 | p90 | p99 |\n|---|---|---|\n" + dupCells + "\n" +
      "\n## Content manifest\n\n| Source | Docs | Content hash |\n" +
      "|---|---|---|\n" + manifestRows + "\n" +
      "\n## Parquet layout\n\n| Size bucket (2^k bytes) | Files | Bytes |\n" +
      "|---|---|---|\n" +
      Statistics.fileSizeProfile(spark, corpusDir)
        .sortBy(_._1)
        .map { case (b, n, s, _, _) => s"| $b | $n | $s |" }
        .mkString("\n") + "\n"
    Sinks.writeText(s"$outDir/DATASHEET.md", card)
    card
  }

  /** §3.3: shard tree → contract validation → schema-merge union → stats →
    * parquet + csv + statistics.json + markdown. The only shuffle in the
    * whole system is the tiny media_type histogram.
    */
  def aggregator(spark: SparkSession, shardsDir: String, outDir: String,
      singleFile: Boolean = false): Statistics.GlobalStats = {
    // Contract validation is PER SHARD FILE, excluding violators and
    // continuing — the reference's semantics (evaluate_test_run.py:60-67).
    // Validating only the schema-MERGED frame has two failure modes: one
    // bad shard is silently null-filled into the combined output (its
    // rows count as successes), and an all-bad tree is fatal instead of
    // exclude-and-continue. The check reads each shard's footer on the
    // driver (footerFieldNames) — O(files) metadata work, the same order
    // as the file census below, and no Spark job per file.
    // ONE recursive listing serves validation, the merged read, the sink
    // sizing AND the census/size-profile below (it was previously
    // recomputed four times — each a full O(files) LIST walk, thousands
    // of sequential RPCs on an object store). Reads use the RAW URIs:
    // the normalized form is a join key against input_file_name(), and
    // feeding it back into a reader strips the scheme (s3a://<bucket>/x
    // → /bucket/x) and keeps percent-encoding (a space in a local
    // checkout path), resolving against the wrong filesystem.
    val listed = Statistics.listParquetFilesRaw(spark, shardsDir)
    require(listed.nonEmpty, s"no parquet shard file under $shardsDir")
    val fields = footerFieldNames(spark, listed.map(_._1))
    val (okListed, badListed) = listed.partition { case (uri, _, _) =>
      (MediaSchema.requiredColumns -- fields(uri)).isEmpty
    }
    if (badListed.nonEmpty)
      System.err.println(s"[graft] aggregator: excluding ${badListed.size} " +
        s"shard file(s) violating the read contract: " +
        badListed.take(5).map(_._1).mkString(", "))
    require(okListed.nonEmpty,
      s"no shard in $shardsDir satisfies the read contract " +
        s"(${MediaSchema.requiredColumns.mkString(", ")})")
    val merged =
      if (badListed.isEmpty) Sources.parquetTreeMerged(spark, shardsDir)
      else spark.read.option("mergeSchema", true)
        .parquet(okListed.map(_._1): _*)
    val df = MediaSchema.validate(merged) match {
      case Right(ok) => ok
      case Left(missing) =>
        throw new IllegalArgumentException(
          s"shards violate read contract; missing columns: $missing")
    }
    // The combined sinks get one part file per maxPartitionBytes of
    // contract-passing input instead of one per scan partition (the
    // scan splits every small shard into its own partition), but never
    // fewer than min(files, defaultParallelism): coalesce is narrow, so
    // the part count is also the scan + encode task count, and a large
    // maxPartitionBytes must not serialize the sink stage. Only the
    // sinks read the coalesced frame: the statistics keep the shard-per-
    // partition scan, so their float sums add in the same order.
    val maxPartBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val sinkParts = math.max(
      (okListed.map(_._3).sum + maxPartBytes - 1) / maxPartBytes,
      math.min(okListed.size, spark.sparkContext.defaultParallelism).toLong)
    val combined = df.coalesce(sinkParts.toInt)
    graft.GraftSession.runCancellable(spark, "graft-aggregator", shardsDir) {
      val stats = Statistics.globalStats(df)
      val histogram = Statistics.mediaTypeHistogram(df).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      // File census from the ONE listing above — O(files) FS metadata,
      // not a second data scan; only contract-passing shards, so the
      // count is consistent with the data.
      val okKeys = okListed.map { case (_, key, len) => (key, len) }
      val fileStats = Statistics.perFileStatsWithSize(spark, df, okKeys)
        .collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2))).toSeq

      Sinks.parquet(combined, s"$outDir/combined.parquet", singleFile)
      Sinks.csv(combined, s"$outDir/combined.csv", singleFile)
      Sinks.writeText(s"$outDir/statistics.json",
        Statistics.statsJson(stats, histogram, okKeys.size.toLong))
      Sinks.writeText(s"$outDir/aggregation_summary.md",
        Statistics.markdownReport(stats, histogram, okKeys.size.toLong,
          fileStats,
          // layout health rides the same listing — the profile covers
          // the WHOLE tree (bad shards included: they are still layout)
          sizeProfile = Statistics.fileSizeProfileOf(
            listed.map { case (_, key, len) => (key, len) })))
      stats
    }
  }

  /** Top-level field names of each Parquet file, keyed by its URI, from
    * its footer alone: a driver-side read with parquet-hadoop's
    * `ParquetFileReader`, no Spark job, every reader closed. A file that
    * is not readable Parquet (a truncated upload) throws, naming the
    * file — corruption fails the aggregator loudly instead of excluding
    * the shard.
    */
  private def footerFieldNames(spark: SparkSession,
      uris: Seq[String]): Map[String, Set[String]] = {
    val conf = spark.sessionState.newHadoopConf()
    uris.map { uri =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(uri), conf))
      try uri -> reader.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet
      finally reader.close()
    }.toMap
  }
}
