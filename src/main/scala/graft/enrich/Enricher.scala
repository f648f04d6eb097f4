package graft.enrich

import java.sql.Timestamp
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row}
import org.apache.spark.sql.functions._

import graft.model.MediaSchema

/** The per-row enrichment stage: URL → wide media record, with per-record
  * retry, wall-clock timeout, attempt/processing-time metadata, and
  * permissive error-in-row semantics plus a dead-letter side channel
  * (reference test_parquet_processor.py:268-389 — SURVEY.md §2.11, T4).
  *
  * Deliberately OUTSIDE Catalyst: a side-effecting, slow, retrying fetch
  * does not belong in an Expression. `mapPartitions` gives one Fetcher per
  * partition (connection reuse), and the stage stays narrow — a 100 TB URL
  * list enriches with zero shuffles; parallelism = input partitions.
  *
  * Semantics preserved from the reference (NOT silently upgraded to
  * exactly-once): failures after `maxAttempts` or `recordTimeoutMs` become
  * dead-letter rows; transient failures that later succeed are recorded
  * in-row via `attempt > 1`; the job never aborts on record errors.
  */
object Enricher {

  /** Reference defaults: 2 attempts, 10 s/record, 1 s backoff
    * (test_parquet_processor.py:274-275,332).
    *
    * `numPartitions` sets fetch-stage parallelism (0 = auto via
    * [[graft.ops.Dedup.spread]], given the window form's known single
    * partition — no probe — or the distributed rank's probed count). It
    * sets the fetch only: a window-indexed batch still writes one file
    * per sink.
    *
    * `batch_index` is a url-order rank, assigned one of two ways with
    * bit-identical indices (equivalence is spec-pinned): the one-job
    * single-partition `row_number` window, or [[distributedRank]] — a
    * range-partitioned rank (sample bounds → per-partition sort →
    * offset by preceding partition counts) with no single-partition
    * sort. The input size picks the path: `windowIndexMaxRows` is the
    * processor's `maxRecords` micro-batch contract, and enrich()
    * checks the frame against it (see [[exceedsWindowBound]]: the
    * optimizer's static row bound where it proves the frame fits — the
    * processor's sliced batches — else a LocalLimit-bounded probe job
    * over at most bound + 1 url rows, never a full scan of an unbounded
    * list). Frames within the bound take the window; larger frames
    * take the distributed rank instead of a driver-killing
    * single-partition sort. `Int.MaxValue` disables the check (trust
    * the caller: always the window).
    */
  case class Config(maxAttempts: Int = 2, recordTimeoutMs: Long = 10000,
      backoffMs: Long = 1000, startIndex: Long = 0, numPartitions: Int = 0,
      windowIndexMaxRows: Int = 200000)

  val deadLetterSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("index", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("reason", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("processing_time", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("attempts", org.apache.spark.sql.types.IntegerType)))

  /** Internal union schema: superset media record + dead-letter columns +
    * a discriminator, so one enrichment pass feeds both sinks.
    */
  private val unifiedSchema = org.apache.spark.sql.types.StructType(
    MediaSchema.superset.fields ++ Seq(
      org.apache.spark.sql.types.StructField("__dead", org.apache.spark.sql.types.BooleanType),
      org.apache.spark.sql.types.StructField("__reason", org.apache.spark.sql.types.StringType)))

  /** One batch's enrichment pass, split two ways: `records` follow
    * MediaSchema.superset; `deadLetter` follows [[deadLetterSchema]]
    * (reason ∈ timeout | max_attempts). [[recordsCounted]] is `records`
    * with the batch's counters observed ahead of the split, so one sink
    * job tells the caller whether `deadLetter` holds any row.
    *
    * Both frames read one persisted enrichment pass; call [[release]]
    * after every sink that reads them has run — otherwise every batch
    * leaks a CacheManager entry (plus any disk-spilled blocks) for the
    * application's lifetime, which a long
    * [[graft.pipeline.Pipelines.processAll]] run turns into unbounded
    * storage growth.
    */
  final class Enriched private[enrich] (pass: DataFrame,
      cached: Seq[DataFrame]) {
    lazy val records: DataFrame = recordsOf(pass)
    lazy val deadLetter: DataFrame = pass.where(col("__dead")).select(
      col("url"), col("batch_index").as("index"),
      col("__reason").as("reason"), col("processing_time"),
      col("attempt").as("attempts"))

    /** [[records]], whose sink job also fills `counts` over the WHOLE
      * pass, dead rows included: `produced` (records), `errors` (the
      * records' failed attempts, `attempt - 1` each), `dead` (dead
      * letters) and `dead_attempts` (their attempts, all failed). The
      * observation sits below the `__dead` split, and the optimizer
      * pushes no filter through it, so the records' write alone counts
      * the dead letters too.
      */
    def recordsCounted(counts: Observation): DataFrame = {
      val dead = col("__dead")
      recordsOf(pass.observe(counts,
        count(when(!dead, 1)).as("produced"),
        coalesce(sum(when(!dead, col("attempt") - 1)), lit(0L)).as("errors"),
        count(when(dead, 1)).as("dead"),
        coalesce(sum(when(dead, col("attempt"))), lit(0L))
          .as("dead_attempts")))
    }

    def release(): Unit = cached.foreach(_.unpersist(blocking = false))
  }

  private def recordsOf(pass: DataFrame): DataFrame =
    pass.where(!col("__dead"))
      .select(MediaSchema.superset.fieldNames.map(col).toSeq: _*)

  /** Enrich a URL dataset. Input must have a `url` string column; a stable
    * `batch_index` is assigned as `startIndex + rank` in `url` order —
    * deterministic regardless of input layout (SURVEY.md §7.4).
    *
    * Stays in the Dataset API end-to-end: the index is a `row_number`
    * window in the plan (one job — no `zipWithIndex` count pass, no RDD
    * detour). The global window sorts on a single partition, which is fine
    * because the processor bounds each micro-batch by `maxRecords`; the
    * fetch stage is re-spread to `numPartitions` afterwards so retry
    * backoffs and slow fetches run in parallel. The contract is
    * enforced, not just documented: a frame larger than
    * `Config.windowIndexMaxRows` (an unbounded url frame fed to enrich()
    * directly) takes [[distributedRank]], which assigns the identical
    * indices with no single-partition sort (see [[exceedsWindowBound]]).
    */
  def enrich(urls: DataFrame, fetcherFactory: () => Fetcher,
      config: Config = Config()): Enriched = {
    val cfg = config
    val windowed = !exceedsWindowBound(urls, cfg)
    val (indexed0, pins) =
      if (!windowed) {
        val (df, pin) = distributedRank(urls, cfg)
        (df, Seq(pin))
      } else {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("url"))
        (urls.select(col("url")).withColumn("__idx",
          row_number().over(w).cast("long") - 1 + cfg.startIndex),
          Seq.empty[DataFrame])
      }
    // the window's output is one partition by construction: spread it
    // on that known count instead of probing the plan for it
    val indexed =
      if (cfg.numPartitions > 0) indexed0.repartition(cfg.numPartitions)
      else graft.ops.Dedup.spread(indexed0,
        if (windowed) Some(1) else None)

    val unified = indexed.mapPartitions { it =>
        val fetcher = fetcherFactory()
        val timer = new RecordTimer
        val out = it.map { row =>
          processOne(row.getString(0), row.getLong(1), fetcher, timer, cfg)
        }
        // mapPartitions iterators are lazy; close resources on exhaustion
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h) { timer.shutdown(); fetcher.close() }
            h
          }
          def next(): Row = out.next()
        }
      }(Encoders.row(unifiedSchema))

    // One pass feeds two sinks: persist so the split doesn't re-fetch.
    unified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // A window-indexed batch is bounded by windowIndexMaxRows, so each
    // sink writes it as ONE file (one shard per batch, like the
    // reference's processor) instead of one per fetch partition. The
    // fetch stays numPartitions wide only because AQE runs the cached
    // pass as its own query stage (a TableCacheQueryStage) before the
    // coalesced read: without AQE, coalesce(1) would pull the whole
    // fetch into the one write task (PipelineSpec pins the fetch width).
    new Enriched(if (windowed) unified.coalesce(1) else unified,
      unified +: pins)
  }

  /** The `maxRecords`-contract check behind `Config.windowIndexMaxRows`:
    * true when `urls` holds MORE rows than the bound. When the optimized
    * plan's static `maxRows` already proves the frame fits (a `limit(n)`
    * with n ≤ bound — every processor batch, via `Sources.slice`) no job
    * runs. Otherwise a `limit(bound + 1).count()` probe measures it — a
    * GlobalLimit plan that stops the scan as soon as bound + 1 rows
    * exist, so an unbounded input costs one bounded job, not a full
    * count. The saturating guard keeps `Int.MaxValue` a valid "trust
    * the caller" opt-out.
    */
  private[enrich] def exceedsWindowBound(urls: DataFrame,
      cfg: Config): Boolean =
    cfg.windowIndexMaxRows < Int.MaxValue &&
      !urls.queryExecution.optimizedPlan.maxRows
        .exists(_ <= cfg.windowIndexMaxRows) &&
      urls.select(col("url")).limit(cfg.windowIndexMaxRows + 1).count() >
        cfg.windowIndexMaxRows

  /** The distributed `batch_index` assignment for frames past
    * `Config.windowIndexMaxRows`: range-partition by url, sort within
    * partitions, then `zipWithIndex` — the same url-order global rank
    * the window form computes, with no single-partition sort
    * (equivalence spec-pinned in EnrichSpec).
    *
    * The ranged frame is PERSISTED and returned as a pin the caller
    * releases with [[Enriched.release]]: range bounds are re-SAMPLED on
    * every execution of the plan, so without the pin the counts job and
    * a later recomputation could draw different bounds and the offsets
    * would label the wrong partitions — the cache makes every pass read
    * the one partitioning the offsets were computed from.
    */
  private[enrich] def distributedRank(urls: DataFrame,
      cfg: Config): (DataFrame, DataFrame) = {
    val spark = urls.sparkSession
    val parts = math.max(1,
      if (cfg.numPartitions > 0) cfg.numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val ranged = urls.select(col("url"))
      .repartitionByRange(parts, col("url"))
      .sortWithinPartitions("url")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // zipWithIndex IS the count-then-offset structure (one job for the
    // per-partition counts, offsets on the driver, one stateless pass
    // to assign) — Spark's own implementation, not re-rolled here
    val indexed = ranged.rdd.zipWithIndex().map { case (row, i) =>
      Row(row.getString(0), i + cfg.startIndex)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__idx",
        org.apache.spark.sql.types.LongType)))
    (spark.createDataFrame(indexed, schema), ranged)
  }

  /** One timeout-watch thread per partition, REPLACEABLE: a fetch that
    * ignores interruption (a blocked socket read, a stuck native driver —
    * the failure mode of the Selenium scrape this stage mirrors) survives
    * `Future.cancel(true)` and would otherwise occupy the single worker
    * forever, silently turning every later record in the partition into a
    * false "timeout" dead letter without its fetch ever running. After a
    * cancel, [[replaceIfStuck]] polls the callable's own completion flag
    * briefly; if the worker is truly wedged the executor is abandoned
    * (daemon thread — leaks one thread per wedged fetch, bounded by the
    * partition's timeout count) and a fresh one takes over.
    */
  private final class RecordTimer {
    private def make() = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-enrich-timeout"); t.setDaemon(true); t
    }
    private var exec = make()
    def submit[T](c: java.util.concurrent.Callable[T]): java.util.concurrent.Future[T] =
      exec.submit(c)
    def replaceIfStuck(finished: java.util.concurrent.atomic.AtomicBoolean,
        graceMs: Long = 100): Unit = {
      val deadline = System.nanoTime() + graceMs * 1000000
      while (!finished.get() && System.nanoTime() < deadline) Thread.sleep(5)
      if (!finished.get()) { exec.shutdownNow(); exec = make() }
    }
    def shutdown(): Unit = exec.shutdownNow()
  }

  /** Retry/timeout state machine for one record
    * (test_parquet_processor.py:294-360).
    */
  private def processOne(url: String, idx: Long, fetcher: Fetcher,
      timer: RecordTimer, cfg: Config): Row = {
    val t0 = System.nanoTime()
    def elapsedSec = (System.nanoTime() - t0) / 1e9
    var attempt = 0
    var lastError: String = null
    var fields: Map[String, String] = null
    var timedOut = false
    while (fields == null && !timedOut && attempt < cfg.maxAttempts) {
      attempt += 1
      val remainingMs = cfg.recordTimeoutMs - (System.nanoTime() - t0) / 1000000
      if (remainingMs <= 0) timedOut = true
      else {
        val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
        val task = timer.submit(new java.util.concurrent.Callable[Map[String, String]] {
          def call(): Map[String, String] =
            try fetcher.fetch(url) finally finished.set(true)
        })
        try fields = task.get(remainingMs, TimeUnit.MILLISECONDS)
        catch {
          case _: TimeoutException =>
            task.cancel(true); timedOut = true; lastError = "timeout"
            // an interrupt-deaf fetch wedges the worker: swap executors
            // so the NEXT record's fetch actually runs, and reset the
            // shared fetcher — the abandoned thread may STILL be inside
            // fetch() on it, which is why the Fetcher contract requires
            // reset() to swap in fresh state rather than repair shared
            // state in place (the abandoned thread keeps the orphan)
            timer.replaceIfStuck(finished)
            fetcher.reset()
          case e: InterruptedException =>
            // the processor runs under an interruptOnCancel job group
            // (GraftSession.runCancellable): a cancel interrupts this
            // task thread while it blocks in task.get. Treating that
            // as an ordinary fetch failure would clear the interrupt,
            // back off, retry, and keep fetching the rest of the
            // partition on a job the user already cancelled — restore
            // the interrupt status and let the task die.
            Thread.currentThread().interrupt()
            throw e
          case e: Exception =>
            lastError = Option(e.getCause).getOrElse(e).getMessage
            fetcher.reset()
            // honor the configured backoff (the reference's 1 s default,
            // test_parquet_processor.py:332) — an earlier `min 50` cap
            // here silently made every backoffMs above 50 ms a no-op
            if (attempt < cfg.maxAttempts) Thread.sleep(cfg.backoffMs)
        }
      }
    }
    val procTime = elapsedSec
    val now = new Timestamp(System.currentTimeMillis())
    if (fields != null) {
      val mediaType = fields.getOrElse("Media Type", null)
      val wanted = Option(mediaType).map(MediaSchema.fieldsForType)
        .getOrElse(MediaSchema.baseFields)
        .map(MediaSchema.normalizeFieldName).toSet
      val normalized = fields.map { case (k, v) =>
        MediaSchema.normalizeFieldName(k) -> MediaSchema.normalizeValue(v)
      }
      // P5: only the media type's field sections are extracted; everything
      // else stays null even if the page offered it.
      val data = MediaSchema.dataColumns.map { c =>
        if (wanted.contains(c)) normalized.getOrElse(c, null) else null
      }
      Row.fromSeq(Seq(url, now, null, idx, attempt, procTime) ++ data ++ Seq(false, null))
    } else if (timedOut) {
      Row.fromSeq(Seq(url, now, "timeout", idx, attempt, procTime) ++
        MediaSchema.dataColumns.map(_ => null) ++ Seq(true, "timeout"))
    } else {
      Row.fromSeq(Seq(url, now, s"failed after $attempt attempts: $lastError",
        idx, attempt, procTime) ++
        MediaSchema.dataColumns.map(_ => null) ++ Seq(true, "max_attempts"))
    }
  }
}
