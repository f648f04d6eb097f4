package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming surfaces (SURVEY.md §2.10).
  *
  * The reference hand-rolls micro-batch incrementalism (cursor state +
  * flush-every-10-records, test_parquet_processor.py:277-386); here the
  * same semantics come from the file source + checkpointed offsets with
  * `Trigger.AvailableNow` (T1–T3 — exactly-once into the parquet sink,
  * an upgrade the batch pipeline deliberately does NOT silently make).
  * Watermarked windows and stateful sessionization are the §7.5/T5
  * extensions over the `events` table shape.
  */
object EventStreams {

  /** T1–T3: incremental parquet→parquet micro-batch pipeline. Processes
    * whatever files are present, checkpoints offsets, terminates
    * (`Trigger.AvailableNow`) — rerunning picks up only new files, the
    * streaming analog of the cursor loop.
    */
  def incrementalCopy(spark: SparkSession, schema: StructType, inDir: String,
      outDir: String, checkpointDir: String,
      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 16) // micro-batch granularity
      .parquet(inDir)
    transform(in).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Events with a proper µs timestamp column derived from epoch-ns longs
    * (see graft.Tables.events for the Long-nanos `ts` contract; a raw
    * timestamp-typed `ts` — e.g. a stream reading current-generation
    * testdata directly — is normalized first, so both file generations
    * stream through the same plan).
    */
  def withEventTime(df: DataFrame): DataFrame =
    graft.Tables.tsAsNanos(df)
      .withColumn("event_time", timestamp_micros(expr("ts DIV 1000")))

  /** T5: watermarked tumbling-window aggregation. Late events beyond
    * `watermark` are dropped; state is bounded, so the query runs forever
    * on an unbounded stream — the 100 TB/day design point.
    */
  def windowedCounts(events: DataFrame, window: String = "15 minutes",
      watermark: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("event_time"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: keep the first arrival per key, with state
    * bounded by the watermark — duplicates arriving within `watermark`
    * of the original are dropped; later ones (state already evicted)
    * pass through. The streaming twin of `ops.Dedup.exactDedup` for
    * continuous ingestion, where an unbounded seen-set is impossible at
    * 100 TB/day.
    */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** T5: session windows via the built-in `session_window` — the
    * idiomatic path when per-session output is an aggregate (count,
    * duration) rather than custom state. Works identically over a
    * stream (with the watermark bounding state) and a batch frame;
    * gap semantics match [[sessionize]] except that an event landing
    * exactly `gap` after its predecessor starts a new session here
    * (exclusive window end) — unobservable at nanosecond timestamps.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .groupBy(session_window(col("event_time"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  case class SessionEvent(user_id: Long, event_id: Long, tsNs: Long)
  case class SessionState(start: Long, last: Long, events: Int)
  case class SessionOut(user_id: Long, n_events: Int, durationNs: Long)

  /** T5: custom stateful sessionization via flatMapGroupsWithState — the
    * streaming twin of queries.EventQueries q35. A session closes after
    * `gapNs` of EVENT-time inactivity observed in the stream; in live
    * (streaming) mode an idle user's open session is additionally flushed
    * after ~`gapNs` of PROCESSING time with no new events
    * (`ProcessingTimeTimeout`), so final sessions are eventually emitted.
    * In batch execution timeouts never fire, so the last open session per
    * user is not emitted (StreamingSpec pins this with its +1 adjustment).
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      gapNs: Long = 1800L * 1000000000L): DataFrame = {
    // the idle-flush timeout is gapNs in MILLISECONDS: a sub-millisecond
    // gap would floor to setTimeoutDuration(0), which Spark rejects
    // inside the stateful closure — fail at the API edge instead (the
    // streamingFunnel ttlMs discipline)
    require(gapNs >= 1000000L,
      s"gapNs must be >= 1ms (1000000 ns), got $gapNs")
    import spark.implicits._
    val typed = graft.Tables.tsAsNanos(events)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long").as("tsNs"))
      .as[SessionEvent]

    val out = typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // gapNs of processing time with no events: close the open session.
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.events, s.last - s.start))
          } else {
            val (closed, open) =
              sessionFold(userId, state.getOption, batch.toSeq, gapNs)
            open match {
              case Some(st) =>
                state.update(st)
                state.setTimeoutDuration(gapNs / 1000000L)
              case None => state.remove()
            }
            closed.iterator
          }
        })
    out.toDF()
  }

  /** One micro-batch chunk of [[sessionize]]'s per-user state machine:
    * fold `chunk` (sorted here — events within a micro-batch are not
    * ordered) into `prev`, returning the sessions closed by this chunk
    * and the still-open state. Factored out of the stateful closure so
    * the CROSS-BATCH path is unit-testable without a streaming query
    * (ProcessingTimeTimeout + AvailableNow never terminates — the
    * streaming-trigger caveat in [[streamingFunnel]]'s scaladoc).
    *
    * A late cross-chunk event (older than the session's extent — no
    * watermark on this path) merges into the open session but never
    * moves its bounds backwards: regressing `last` to the late
    * timestamp would corrupt durations (even negative) and let a
    * following event close against the stale `last`.
    */
  private[graft] def sessionFold(userId: Long,
      prev: Option[SessionState], chunk: Seq[SessionEvent],
      gapNs: Long): (Seq[SessionOut], Option[SessionState]) = {
    val sorted = chunk.sortBy(e => (e.tsNs, e.event_id))
    var st = prev.orNull
    val closed = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      st match {
        case null =>
          st = SessionState(e.tsNs, e.tsNs, 1)
        case s if e.tsNs - s.last > gapNs =>
          closed += SessionOut(userId, s.events, s.last - s.start)
          st = SessionState(e.tsNs, e.tsNs, 1)
        case s =>
          st = SessionState(math.min(s.start, e.tsNs),
            math.max(s.last, e.tsNs), s.events + 1)
      }
    }
    (closed.result(), Option(st))
  }

  case class FunnelEvent(user_id: Long, ts: Long, event_id: Long,
      event_type: String)
  case class FunnelProgress(ts: Seq[Long])
  case class FunnelOut(user_id: Long, stage_ts: Seq[Long])

  /** Streaming funnel: the live twin of `ops.Temporal.funnel`. Per-user
    * state is the prefix of stage timestamps achieved so far (≤ stages
    * longs — constant-size state per key); a completion is emitted, and
    * the state cleared, the moment the final stage lands. Events are
    * processed in event-time order within each chunk, so over an
    * event-time-ordered stream (and in batch execution, where a user's
    * whole history arrives as one chunk) the result matches the batch
    * funnel's earliest-ordered-completion exactly.
    *
    * CROSS-BATCH DISORDER is bounded by `watermarkDelay`: events older
    * than the stream's event-time watermark are dropped by Spark BEFORE
    * they reach the funnel state (required for the event-time TTL below
    * to be able to fire). The default "0 seconds" therefore tolerates
    * no disorder across micro-batch boundaries — size `watermarkDelay`
    * to the source's expected lateness in production; events within the
    * allowance are matched greedily in arrival order. Batch execution
    * eliminates the watermark node, so batch parity is unaffected.
    *
    * EXPIRY: a key's partial progress is dropped once the EVENT-TIME
    * watermark passes `lastStageTs + ttlMs` (the abandoned-funnel case —
    * without it, every user who starts stage 1 and never converts holds
    * state forever, unbounded on an unbounded keyspace). Event-time
    * timers are the correct clock for a conversion window AND the only
    * kind that terminates under `Trigger.AvailableNow` — a
    * processing-time timer keeps the no-more-data query spinning empty
    * micro-batches waiting for wall-clock deadlines (measured: thousands
    * of batches). Consequence: a conversion whose inter-stage event-time
    * gap exceeds the TTL restarts from stage 1 — size `ttlMs` to the
    * longest conversion window that counts. In batch execution timeouts
    * never fire (whole history in one chunk), so batch parity with
    * `Temporal.funnel` is unaffected.
    *
    * Memory: each key's per-micro-batch chunk is buffered and sorted in
    * executor memory to restore event-time order. In a live stream a
    * chunk is one user's events per trigger (small); in BATCH execution
    * the chunk is the user's entire history — per-task memory is bounded
    * by the heaviest key, like any groupByKey over batch data.
    */
  def streamingFunnel(spark: SparkSession, events: DataFrame,
      stages: Seq[String], ttlMs: Long = 24L * 3600 * 1000,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(ttlMs > 0, s"ttlMs must be positive, got $ttlMs")
    import spark.implicits._
    val typed = withEventTime(
        graft.Tables.tsAsNanos(events)
          .select(col("user_id").cast("long"), col("ts").cast("long"),
            col("event_id").cast("long"), col("event_type").cast("string")))
      .withWatermark("event_time", watermarkDelay)
      .as[FunnelEvent]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (userId: Long, chunk: Iterator[FunnelEvent],
            state: GroupState[FunnelProgress]) => {
          if (state.hasTimedOut) {
            // watermark passed lastStageTs + ttl with no progress:
            // abandoned funnel — drop the partial prefix, emit nothing
            state.remove()
            Iterator.empty
          } else {
            val sorted = chunk.toSeq.sortBy(e => (e.ts, e.event_id))
            var prog = state.getOption.map(_.ts.toVector).getOrElse(Vector.empty)
            val outs = Seq.newBuilder[FunnelOut]
            sorted.foreach { e =>
              if (prog.length < stages.length &&
                  e.event_type == stages(prog.length) &&
                  (prog.isEmpty || e.ts > prog.last)) {
                prog = prog :+ e.ts
                if (prog.length == stages.length) {
                  outs += FunnelOut(userId, prog)
                  prog = Vector.empty // a user may complete the funnel again
                }
              }
            }
            if (prog.nonEmpty) {
              state.update(FunnelProgress(prog))
              // ts is epoch-ns; timers take epoch-ms. A timer at or below
              // the current watermark would throw — clamp just past it
              // (the state is already expired; the next batch collects
              // it). In batch execution the watermark node is eliminated
              // and getCurrentWatermarkMs throws — timers never fire
              // there, so any deadline value is fine.
              val floor =
                try state.getCurrentWatermarkMs() + 1
                catch { case _: UnsupportedOperationException => Long.MinValue }
              state.setTimeoutTimestamp(
                math.max(prog.last / 1000000L + ttlMs, floor))
            } else state.remove()
            outs.result().iterator
          }
        })
      .toDF()
  }

  /** The launch skeleton every file-stream ingest gate shares: register
    * the graft functions on the CALLER's session (the gate bodies build
    * frames from this handle, e.g. `spark.read.parquet`, which may be
    * neither the batch thread's active session, the stream's clone, nor
    * the default, so `ensureRegistered()` alone cannot reach it; the
    * call is idempotent), materialize the gate's stream-lifetime
    * `caches` once before the first batch, read `inDir` as a parquet
    * file stream of `schema`, run `body(batch, batchId)` on every
    * micro-batch, and start the query.
    *
    * Each frame in `caches` has one release path: it is unpersisted
    * when the query terminates, or before the rethrow when the launch
    * itself throws (missing input dir, corrupt or incompatible
    * checkpoint). Without the latter, every failed launch in a
    * long-lived session would leak one pinned copy of each model. An
    * AvailableNow query over an empty input can terminate before the
    * listener registers and miss the terminated event, so a
    * post-registration `isActive` check releases eagerly in that case;
    * unpersist and removeListener are idempotent, which makes the race
    * the other way harmless. With no `caches`, no listener registers.
    */
  private def launchGate(spark: SparkSession, schema: StructType,
      inDir: String, checkpointDir: String, maxFilesPerTrigger: Int,
      trigger: Trigger, caches: DataFrame*)(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    def releaseAll(): Unit = caches.foreach(_.unpersist(blocking = false))
    try {
      graft.functions.GraftFunctions.register(spark)
      caches.foreach(_.count())
      val query = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(inDir)
        .writeStream
        .foreachBatch(body)
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .start()
      if (caches.nonEmpty) {
        val release = new StreamingQueryListener {
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit =
            if (e.id == query.id) {
              releaseAll()
              spark.streams.removeListener(this)
            }
        }
        spark.streams.addListener(release)
        if (!query.isActive) {
          releaseAll()
          spark.streams.removeListener(release)
        }
      }
      query
    } catch {
      case e: Throwable =>
        releaseAll()
        throw e
    }
  }

  private def pathExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Drop `df`'s null-`textCol` rows when the corpus already holds one.
    * The exact-dedup ops keep null-text rows by documented design (an
    * md5-null anti-join key never matches), which at INGEST means a
    * replayed contentless row re-appends on every crash replay. The
    * gate-level rule matches [[graft.ops.Dedup.exactDedup]]'s null
    * grouping — all contentless docs are one duplicate class — so at
    * most one ever lands. Cost: one narrow null-predicate corpus scan
    * with limit 1; non-null rows are untouched.
    */
  private def dropNullTextIfCorpusHasOne(df: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame =
    df.join(corpus.where(col(textCol).isNull)
        .select(lit(true).as("__corpus_has_null")).limit(1),
      col(textCol).isNull && col("__corpus_has_null"), "left_anti")

  /** Continuous-ingest dedup: documents land in `inDir` as parquet; each
    * micro-batch is exact-deduped within itself AND against the corpus
    * at `corpusDir`, and only genuinely new content is appended — the
    * streaming composition of `ops.Dedup.incrementalDedup` that keeps a
    * training corpus duplicate-free as it grows, without ever rewriting
    * it.
    *
    * Replay-safe WITHOUT an idempotent sink: a micro-batch replayed
    * after a mid-write failure re-runs the anti-join against the corpus,
    * which now already contains whatever the failed attempt appended —
    * the duplicates filter themselves out. Null-text rows are the one
    * content class the op's md5 anti-join cannot self-filter (null
    * never equi-joins); [[dropNullTextIfCorpusHasOne]] closes that at
    * the gate. (A replay interleaved with a
    * partial write of the SAME batch could still double-append a row
    * that hadn't landed; at-least-once on rows, never on content beyond
    * one batch boundary.)
    *
    * Scale: the corpus side of the anti-join is a narrow fingerprint
    * projection of `corpusDir`; store the corpus bucketed by fingerprint
    * and only the (small) batch shuffles — see `Dedup.incrementalDedup`.
    */
  def ingestDedup(spark: SparkSession, schema: StructType, inDir: String,
      corpusDir: String, checkpointDir: String, idCol: String,
      textCol: String, maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.Dedup
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, _) =>
      val fresh =
        if (pathExists(spark, corpusDir)) {
          val corpus = spark.read.schema(schema).parquet(corpusDir)
          dropNullTextIfCorpusHasOne(
            Dedup.incrementalDedup(batch, corpus, idCol, textCol),
            corpus, textCol)
        } else Dedup.exactDedup(batch, idCol, textCol)
      fresh.write.mode("append").parquet(corpusDir)
    }
  }

  /** [[ingestDedup]] with the Bloom pre-filter held across micro-batches:
    * the filter seeds once from the existing corpus (or empty), each
    * batch runs [[graft.ops.Dedup.incrementalDedupBloom]] against it, and
    * the survivors' fingerprints are added before the next batch — so the
    * filter never has a false negative even though the corpus grows under
    * it, and the corpus-side anti-join probes only the suspected sliver
    * of every batch instead of the whole batch. On restart the filter
    * reseeds from the (appended-to) corpus, so staleness is impossible.
    *
    * Driver state: just the filter (sized for `expectedCorpusItems`).
    * The per-batch update is a distributed `stat.bloomFilter` aggregation
    * over the survivors — built executor-side with the SAME
    * (expectedCorpusItems, fpp) geometry so it is mergeable — then
    * `mergeInPlace`d into the held filter, so driver network/memory per
    * batch is filter-sized, never batch-sized (a per-batch fingerprint
    * collect would make the driver the bottleneck at production batch
    * sizes). foreachBatch runs batches sequentially on the driver, so
    * the mutation is safe.
    */
  def ingestDedupBloom(spark: SparkSession, schema: StructType, inDir: String,
      corpusDir: String, checkpointDir: String, idCol: String,
      textCol: String, expectedCorpusItems: Long, fpp: Double = 0.01,
      maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.Dedup
    var bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, _) =>
      val corpusExists = pathExists(spark, corpusDir)
      val bf = bloom.getOrElse {
        val seeded =
          if (corpusExists)
            spark.read.schema(schema).parquet(corpusDir)
              .select(md5(col(textCol)).as("__fp"))
              .stat.bloomFilter("__fp", expectedCorpusItems, fpp)
          else org.apache.spark.util.sketch.BloomFilter
            .create(expectedCorpusItems, fpp)
        bloom = Some(seeded)
        seeded
      }
      val fresh =
        (if (corpusExists) {
          val corpus = spark.read.schema(schema).parquet(corpusDir)
          dropNullTextIfCorpusHasOne(
            Dedup.incrementalDedupBloom(batch, corpus, idCol, textCol,
              expectedCorpusItems, fpp, bloom = Some(bf)),
            corpus, textCol)
        } else Dedup.exactDedup(batch, idCol, textCol)).persist()
      try {
        fresh.write.mode("append").parquet(corpusDir)
        // identical geometry (items, fpp) → compatible bit arrays; the
        // executor-side aggregate ships one filter to the driver
        bf.mergeInPlace(
          fresh.select(md5(col(textCol)).as("__fp"))
            .stat.bloomFilter("__fp", expectedCorpusItems, fpp))
      } finally fresh.unpersist(blocking = false)
    }
  }

  /** Continuous-ingest NEAR-dedup: each micro-batch is collapsed
    * locally (exact + MinHash-LSH near-dup survivors via
    * [[graft.ops.Dedup.nearDupPipeline]]), then batch survivors
    * near-linked to ANY corpus document ([[graft.ops.Dedup.incrementalNearDups]]
    * — band-key equi-join between sides, capped corpus buckets,
    * Jaccard-verified) are dropped before the append. The corpus grows
    * with only novel content: exact replays self-filter, paraphrase
    * floods collapse to one survivor per cluster per batch.
    *
    * Scale: the corpus side contributes band keys through a narrow
    * projection; store the corpus bucketed by band key and each batch's
    * join probes only matching buckets. Within-batch collapse cost is
    * micro-batch-sized (maxFilesPerTrigger bounds it).
    */
  def ingestNearDup(spark: SparkSession, schema: StructType, inDir: String,
      corpusDir: String, checkpointDir: String, idCol: String,
      textCol: String, threshold: Double, numHashes: Int = 16,
      bands: Int = 8, maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.Dedup
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, _) =>
      // probe pins (Dedup.pinSmall under incrementalNearDups) release
      // when the batch's append completes — unscoped they'd accumulate
      // in the CacheManager for the stream's lifetime (r14 advisor)
      graft.ops.PinScope.withScope {
        val local = Dedup.nearDupPipeline(batch, idCol, textCol, threshold,
          numHashes, bands)
        val fresh =
          if (pathExists(spark, corpusDir)) {
            val corpus = spark.read.schema(schema).parquet(corpusDir)
            // exact replay guard FIRST: near-LINKING self-filters a
            // replay only when its content can collide and verify — an
            // empty token set has NaN Jaccard and never links, so such
            // rows would re-append on every crash replay. xxhash64
            // never returns null (null text folds to the hash seed),
            // so this also covers null-text rows. The corpus is read
            // per batch here anyway (the unkeyed form); this adds one
            // narrow fingerprint projection of it.
            val fp = xxhash64(col(textCol))
            val novel = local.withColumn("__xfp", fp)
              .join(corpus.select(fp.as("__xfp")), Seq("__xfp"), "left_anti")
              .drop("__xfp")
            val linked = Dedup.incrementalNearDups(novel, corpus, idCol,
                textCol, threshold, numHashes, bands)
              .select(col("idA").as(idCol)).distinct()
            novel.join(linked, Seq(idCol), "left_anti")
          } else local
        fresh.write.mode("append").parquet(corpusDir)
      }
    }
  }

  /** Default store-file-count compaction trigger of the keyed ingest
    * gates: at one appended file per micro-batch per store, a store is
    * compacted roughly every `DefaultMaxStoreFiles` batches — frequent
    * enough to keep per-batch listing/footer work bounded (the
    * round-11 sustained profile's residual slope), rare enough that the
    * generation-sized rewrite amortizes to a small per-batch tax.
    * Since round 13 the trigger counts only SUB-GRADUATION files
    * ([[graft.io.Layouts.smallFileCount]]) and the rewrite is
    * generational ([[graft.io.Layouts.compactGenerational]]) — files
    * that reached half of [[graft.io.Layouts.StoreTargetBytes]] never
    * count against the trigger nor get rewritten, so per-batch
    * maintenance work stays O(new data) at ANY store size instead of
    * degrading to whole-corpus rewrites past `maxStoreFiles ×
    * StoreTargetBytes` bytes (the r12 verdict's compaction wall).
    */
  val DefaultMaxStoreFiles: Int = 64

  /** [[ingestNearDup]] with a PERSISTENT corpus band-key table
    * (`keysDir`) maintained alongside the corpus — the steady-state
    * form: each batch probes the stored keys
    * (the probe of [[graft.ops.Dedup.incrementalNearDupsWithKeys]])
    * instead of re-hashing the whole corpus, and appends its survivors'
    * keys (the band keys computed once per batch, capped as
    * [[graft.ops.Dedup.corpusBandKeys]] caps them) after the corpus
    * append. Per-batch corpus-side work is
    * one key-table scan plus the candidate sliver's text reads —
    * independent of corpus size once the table is laid out
    * (bucket it by (band, key); see `Layouts.writeBucketed`).
    *
    * Crash consistency: keys append strictly AFTER the corpus append
    * (the reverse order would link batches to ghost ids), and the FIRST
    * corpus-seeing batch of each stream run HEALS the key table — an
    * id-projection anti-join finds corpus docs with no keys (a crash
    * between the two appends, including a first-batch crash that never
    * created `keysDir`) and re-keys them before the probe. The heal
    * plus the EXACT replay guard (band -1 fingerprint rows — see
    * [[keyedIngestBatch]]) are what make replays self-filter: a
    * replayed batch's survivors match their previous, now re-keyed
    * append by exact fingerprint (degenerate content included — an
    * empty token set can never near-LINK, its Jaccard is NaN) and are
    * dropped instead of duplicated. The heal runs ONCE per stream
    * run, not per batch: a missing key append can only be left behind by
    * a previous (crashed) run — within a run foreachBatch is sequential,
    * so batch N's key append completed before batch N+1 starts. Steady-
    * state batches therefore pay ZERO corpus-sized audit work; the
    * corpus-wide anti-join runs once at (re)start, and the re-key job
    * only on actual recovery.
    */
  def ingestNearDupKeyed(spark: SparkSession, schema: StructType,
      inDir: String, corpusDir: String, keysDir: String,
      checkpointDir: String, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 16, bands: Int = 8,
      maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      maxStoreFiles: Int = DefaultMaxStoreFiles): StreamingQuery = {
    val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, _) =>
      ingestNearDupKeyedBatch(spark, batch, corpusDir, keysDir, idCol,
        textCol, threshold, numHashes, bands, healed, maxStoreFiles)
    }
  }

  /** One [[ingestNearDupKeyed]] micro-batch, as a directly callable
    * method: the stream's foreachBatch delegates here, and profiling /
    * parity harnesses can drive the identical code without the
    * streaming machinery (checkpoint commits, trigger scheduling) to
    * measure what the machinery itself costs. `healed` carries the
    * once-per-run heal gate across batches of one run.
    */
  private[graft] def ingestNearDupKeyedBatch(spark: SparkSession,
      batch: DataFrame, corpusDir: String, keysDir: String, idCol: String,
      textCol: String, threshold: Double, numHashes: Int, bands: Int,
      healed: java.util.concurrent.atomic.AtomicBoolean,
      maxStoreFiles: Int = DefaultMaxStoreFiles): Unit = {
    import graft.ops.Dedup
    keyedIngestBatch(spark, batch, corpusDir, keysDir, idCol, textCol,
      healed, maxStoreFiles)(
      keyArray = Dedup.bandKeyArray(col(textCol), numHashes, bands,
        md5Basis = false),
      carry = Seq(Dedup.tokenHashes(col(textCol)).as("__toks")),
      capTag = "incremental_neardup_corpus",
      collapse = f => Dedup.nearDupCollapse(f, idCol, textCol, threshold),
      verify = (cands, novel, corpus) => Dedup.verifyJaccardCandidates(
        novel.select(col(idCol).as("idA"), col("__toks").as("__ta")),
        cands, corpus, idCol, textCol, threshold),
      healKeys = df => Dedup.corpusBandKeys(df, idCol, textCol, numHashes,
        bands))
  }

  /** Bucket cap of the keyed gates' probe re-cap and of their key
    * appends: the default of the keyed probes and of the key-table
    * builds ([[graft.ops.Dedup.corpusBandKeys]],
    * [[graft.ops.Similarity.corpusLshKeys]]), which the heal uses.
    */
  private val KeyBucketCap = 10000

  /** Shared micro-batch skeleton of the keyed ingest gates — the text
    * ([[ingestNearDupKeyedBatch]]) and embedding
    * ([[ingestEmbeddingNearDupKeyedBatch]]) flavors differ only in
    * their per-row features, collapse, verification and heal-key
    * functions; the heal and replay discipline must stay byte-identical
    * or the gates drift apart.
    *
    * Flow: featurize → within-batch `collapse` → once-per-run heal of
    * unkeyed corpus rows → EXACT replay guard → near-link probe of the
    * stored key table → append survivors to the corpus, then their
    * keys.
    *
    * Each micro-batch is scanned and featurized ONCE: one projection
    * computes the batch columns plus the exact fingerprint `__xfp`
    * (`xxhash64(content)`), the flavor's band-key array `__bk`
    * (`keyArray`: `array<struct<band INT, key LONG>>`) and its `carry`
    * verification columns. The collapse, the replay guard, the probe's
    * batch keys and the key append all read those columns. Every
    * batch-sized intermediate that later steps read more than once —
    * the features, the collapsed `local`, `novel`, the probed key
    * sliver, the candidate pairs and `fresh` — is a plan leaf
    * ([[graft.ops.Dedup.materialize]]: a persisted RDD under a fresh
    * frame), unpersisted in the `finally` that ends the batch, whether
    * it succeeds or throws. Later plans read the leaves instead of
    * re-deriving their inputs inside nested lazily cached AQE plans:
    * on the curation benchmark's 200-doc ingest batch (4 cores) the
    * gate went from 59 Spark jobs and six evaluations of the source
    * files to 34 jobs and one evaluation (`stream.rows_in` equals the
    * rows offered), and its per-batch time from ~8 s to ~5 s. Tried
    * first on the old flow and not enough: an eager persist+count of
    * `local` and `novel` (55 jobs, same time), eager checkpoints (the
    * lazy probe pins still ran 22 jobs inside one write), and AQE off
    * for the batch (−20%, but a session-wide knob). The gate makes no
    * CacheManager entry.
    *
    * The EXACT replay guard closes the degenerate-content hole in the
    * "replays self-filter" contract: near-LINKING self-filters a
    * byte-identical replay only when its content can collide and
    * verify — an empty token set has NaN Jaccard, a zero-norm vector
    * NaN cosine; neither ever links, so such rows would re-append on
    * every crash replay. Each appended row therefore also gets one key
    * row in the RESERVED BAND -1 carrying `xxhash64(content)` (the
    * engine's production fingerprint basis; never null — null content
    * folds to the hash seed, so all contentless rows share one
    * fingerprint, matching [[graft.ops.Dedup.exactDedup]]'s null
    * grouping), and each batch drops rows whose exact fingerprint is
    * already stored in band -1 BEFORE the near-link probe; the stored
    * band -1 rows stream past a broadcast of the batch fingerprints.
    * Real bands are 0-based and every key join includes the band
    * column, so band -1 rows are invisible to the near-link probes; the
    * heal re-keys BOTH kinds for unkeyed corpus rows, which is what
    * makes a replay after a keys-append crash still self-filter. Key
    * tables written before this guard existed simply have no band -1
    * rows: probes of them degrade to the old near-link-only behavior.
    *
    * Both stores are read with known schemas — the corpus as `(id,
    * content)`, the keys as `(id, band INT, key LONG)` — so no read
    * pays a Parquet schema-inference job.
    */
  private def keyedIngestBatch(spark: SparkSession, batch: DataFrame,
      corpusDir: String, keysDir: String, idCol: String,
      contentCol: String, healed: java.util.concurrent.atomic.AtomicBoolean,
      maxStoreFiles: Int)(
      keyArray: Column,
      carry: Seq[Column],
      capTag: String,
      collapse: DataFrame => DataFrame,
      verify: (DataFrame, DataFrame, DataFrame) => DataFrame,
      healKeys: DataFrame => DataFrame): Unit = {
    import graft.ops.{CapMetrics, Dedup}
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    // roll a crashed generational fold forward BEFORE either store is
    // read (read-consistent only recovery-before-read; see
    // compactGenerational). Metadata-only on the healthy path.
    graft.io.Layouts.recoverGenerational(spark, corpusDir)
    graft.io.Layouts.recoverGenerational(spark, keysDir)
    val corpusExists = pathExists(spark, corpusDir)
    val batchCols = batch.columns.toSeq.map(col)
    val corpusSchema = StructType(Seq(batch.schema(idCol),
      batch.schema(contentCol)))
    val keysSchema = StructType(Seq(batch.schema(idCol),
      StructField("band", IntegerType), StructField("key", LongType)))
    def bandKeys(df: DataFrame): DataFrame =
      Dedup.explodeKeys(df, idCol, "__bk", idCol)
    def exactKeys(df: DataFrame, fp: Column): DataFrame =
      df.select(col(idCol), lit(-1).as("band"), fp.as("key"))
    val held = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    def leaf(df: DataFrame): DataFrame = {
      val (frame, rdd) = Dedup.materialize(df)
      held += rdd
      frame
    }
    try {
      val features = leaf(Dedup.spread(batch).select(batchCols ++ Seq(
        xxhash64(col(contentCol)).as("__xfp"), keyArray.as("__bk")) ++
        carry: _*))
      val local = leaf(collapse(features))
      val fresh =
        if (corpusExists) {
          val corpus = spark.read.schema(corpusSchema).parquet(corpusDir)
          // heal (once per run): re-key corpus docs a previous run
          // appended without keys — within this run appends are
          // strictly ordered, so later batches cannot be unkeyed.
          // The healthy-path audit is ids-only: the anti-join reads
          // just the two id columns (parquet-pruned — never the fat
          // content column) and joins against the RAW key rows
          // (left_anti ignores build-side duplicates, so a corpus-sized
          // distinct() shuffle would buy nothing); content is scanned
          // only for the usually-empty unkeyed sliver, via a semi-join
          // back
          if (healed.compareAndSet(false, true)) {
            val keysExist = pathExists(spark, keysDir)
            val unkeyedIds =
              if (keysExist)
                corpus.select(col(idCol)).join(
                  spark.read.schema(keysSchema).parquet(keysDir)
                    .select(col(idCol)),
                  Seq(idCol), "left_anti")
              else corpus.select(col(idCol))
            // `|| !keysExist`: a crash after an EMPTY batch's corpus
            // append leaves corpusDir present (schema-only) with no
            // keysDir and zero unkeyed ids — the heal must still
            // create the (empty) key table or the read below wedges
            // every restart on PATH_NOT_FOUND.
            if (!unkeyedIds.isEmpty || !keysExist) {
              val unkeyed = corpus.join(unkeyedIds, Seq(idCol), "left_semi")
              healKeys(unkeyed)
                .unionByName(exactKeys(unkeyed, xxhash64(col(contentCol))))
                .write.mode("append").parquet(keysDir)
            }
          }
          val keys = spark.read.schema(keysSchema).parquet(keysDir)
          // exact replay guard (scaladoc above): byte-identical content
          // already in the corpus drops here, degenerate or not, before
          // any near-link work
          val replayedIds = keys.where(col("band") === -1)
            .select(col("key"))
            .join(broadcast(local.select(col(idCol), col("__xfp").as("key"))),
              Seq("key"))
            .select(col(idCol))
          val novel = leaf(local.join(replayedIds, Seq(idCol), "left_anti"))
          val cands = Dedup.probeCandidates(
            Dedup.explodeKeys(novel, idCol, "__bk", "idA"), keys, idCol,
            KeyBucketCap, capTag, leaf)
          val linked = verify(cands, novel, corpus)
            .select(col("idA").as(idCol)).distinct()
          leaf(novel.join(linked, Seq(idCol), "left_anti"))
        } else local
      // ONE file per append (round 11): survivors are micro-batch-sized,
      // and the default task-count append grew both stores by ~32 tiny
      // files per batch — after 50 batches every later batch re-listed
      // and footer-read ~1600 files per store on each of its corpus/keys
      // scans, measured as a +280 ms/batch latency slope in the
      // sustained profile (r11_streaming_profile.json) while per-batch
      // match work stayed constant. One file per batch makes the slope
      // shallow; the generational fold below bounds what remains.
      fresh.select(batchCols: _*).coalesce(1)
        .write.mode("append").parquet(corpusDir)
      // the survivors' keys are their feature keys, capped exactly as
      // the key-table builds cap them — no second hashing pass
      CapMetrics.cappedByCount(bandKeys(fresh), capTag, Seq("band", "key"),
          KeyBucketCap)
        .unionByName(exactKeys(fresh, col("__xfp")))
        .coalesce(1).write.mode("append").parquet(keysDir)
    } finally held.foreach(_.unpersist(blocking = false))
    // compaction lifecycle (round 13, generational): one file per
    // append keeps per-batch file growth minimal, but over a long run
    // BOTH stores still gain a file per batch and every later batch
    // re-lists and footer-reads them all on each of its corpus/keys
    // scans — the residual +73 ms/batch slope of the round-11
    // sustained profile. [[foldStore]] folds only sub-graduation files
    // into a new generation, so per-batch maintenance work is bounded
    // by the generation size — O(new data), never O(corpus) — and so
    // is the compaction stall as the corpus grows.
    foldStore(spark, corpusDir, maxStoreFiles)
    foldStore(spark, keysDir, maxStoreFiles)
  }

  /** Fold `dir`'s sub-graduation files (below half of
    * [[graft.io.Layouts.StoreTargetBytes]]: batch appends and
    * generation residue; graduated files never count) into a new
    * generation once more than `maxStoreFiles` of them have piled up,
    * through the manifest-committed, crash-recoverable
    * [[graft.io.Layouts.compactGenerational]]. `maxStoreFiles <= 0`
    * disables (the parity/off switch for specs).
    */
  private def foldStore(spark: SparkSession, dir: String,
      maxStoreFiles: Int): Unit =
    if (maxStoreFiles > 0 && graft.io.Layouts.smallFileCount(spark, dir,
        graft.io.Layouts.StoreTargetBytes / 2) > maxStoreFiles) {
      graft.io.Layouts.compactGenerational(spark, dir)
      ()
    }

  /** [[ingestNearDupKeyed]] for the EMBEDDING modality — the streaming
    * gate that keeps a vector corpus near-duplicate-free as batches
    * arrive (re-embedded content is the dedup problem ANN corpora
    * actually have). Each micro-batch is collapsed within-batch first
    * (banded sign-LSH pairs → component collapse,
    * [[graft.ops.Similarity.cosineNearDupPairsBucketed]] +
    * [[graft.ops.Dedup.collapseNearDups]]), then probed against the
    * stored corpus through its persistent `(id, band, key)` table
    * ([[graft.ops.Similarity.incrementalCosineNearDupsWithKeys]] — only
    * the batch side hashes or shuffles; the corpus contributes the key
    * table as a build side plus one narrow candidate-sliver vector
    * read). Survivors append together with their keys (computed once
    * per batch, capped as [[graft.ops.Similarity.corpusLshKeys]] caps
    * them).
    *
    * Crash consistency is the text gate's, verbatim (the two flavors
    * share [[keyedIngestBatch]]): keys append strictly AFTER the corpus
    * append, and the first corpus-seeing batch of each run heals
    * unkeyed corpus rows (ids-only anti-join audit; vectors are read
    * only for the usually-empty unkeyed sliver). Replays self-filter
    * through the band -1 exact-fingerprint guard — degenerate vectors
    * (null, zero-norm: NaN cosine, can never near-link) included —
    * with near-linking catching re-embedded paraphrases as before.
    */
  def ingestEmbeddingNearDupKeyed(spark: SparkSession, schema: StructType,
      inDir: String, corpusDir: String, keysDir: String,
      checkpointDir: String, idCol: String, vecCol: String,
      threshold: Double, planesPerBand: Int = 8, bands: Int = 4,
      maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      maxStoreFiles: Int = DefaultMaxStoreFiles): StreamingQuery = {
    val healed = new java.util.concurrent.atomic.AtomicBoolean(false)
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, _) =>
      ingestEmbeddingNearDupKeyedBatch(spark, batch, corpusDir, keysDir,
        idCol, vecCol, threshold, planesPerBand, bands, healed,
        maxStoreFiles)
    }
  }

  /** One [[ingestEmbeddingNearDupKeyed]] micro-batch, directly callable
    * (the [[ingestNearDupKeyedBatch]] profiling/parity seam, embedding
    * flavor).
    */
  private[graft] def ingestEmbeddingNearDupKeyedBatch(spark: SparkSession,
      batch: DataFrame, corpusDir: String, keysDir: String, idCol: String,
      vecCol: String, threshold: Double, planesPerBand: Int, bands: Int,
      healed: java.util.concurrent.atomic.AtomicBoolean,
      maxStoreFiles: Int = DefaultMaxStoreFiles): Unit = {
    import graft.ops.{Dedup, Similarity}
    keyedIngestBatch(spark, batch, corpusDir, keysDir, idCol, vecCol,
      healed, maxStoreFiles)(
      keyArray = Similarity.lshKeyArray(col(vecCol), planesPerBand, bands),
      carry = Nil,
      capTag = "incremental_cosine_corpus",
      collapse = { f =>
        // exact within-batch collapse FIRST (the text flavor gets this
        // from exactDedup): byte-identical vectors — including a
        // replayed file inside one trigger duplicating a row under the
        // SAME id, which the pair expansion can never link because
        // self-pairs are excluded — keep one survivor, lowest id wins
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("__xfp")).orderBy(col(idCol))
        val exact = f.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__rn")
        val pairs = Similarity.bucketedCosinePairs(
            Dedup.explodeKeys(exact, idCol, "__bk", "__id"), exact, idCol,
            vecCol, threshold, maxBucket = 10000) // the bucketed default
          .select(col("idA"), col("idB"))
        Dedup.collapseNearDups(exact, idCol, pairs)
      },
      verify = (cands, novel, corpus) => Similarity.verifyCosineCandidates(
        Similarity.batchVectors(novel, idCol, vecCol), cands, corpus, idCol,
        vecCol, threshold),
      healKeys = df => Similarity.corpusLshKeys(df, idCol, vecCol,
        planesPerBand, bands))
  }

  /** Streaming IVFADC index maintenance — the ingest arm of the stored
    * PQ serving path ([[graft.ops.Similarity.pqAdcTopKBatchWithCodes]],
    * q149): vectors arrive, are encoded with the FROZEN model
    * (`centroids`/`codebooks` are plan literals, trained once at
    * deployment — retraining is an index REBUILD, not an ingest), and
    * their `(id, pq_code, vnorm, centroid_id)` rows append to
    * `codesDir` PARTITIONED BY `centroid_id`, so a serving batch's
    * probed-cell `isin` prunes whole directories before a single file
    * opens (the layout twin of the bucketed q149 table, plus directory
    * pruning for small query batches). Per-batch work is encode (one
    * narrow scan of the batch) + the replay guard below — independent
    * of index size.
    *
    * Degenerate rows (null id, null vector, zero norm) never enter the
    * index: a degenerate vector has no defined cosine to any query and
    * [[graft.ops.Similarity]]'s serve stage excludes `vnorm <= 0` from
    * candidacy anyway, and a null ID would defeat the replay guard
    * below (an equi-anti-join never matches null keys, so a null-id
    * row would re-append on every replay) — an index row that can
    * never serve or never dedup is dead weight at 10⁹ rows.
    *
    * Replay safety: a crash between the append and the checkpoint
    * commit replays the batch on restart. Ids are unique by the index
    * contract and the model is frozen, so a replayed row re-encodes to
    * the SAME cell — the batch anti-joins on id against the stored ids
    * OF ITS OWN CELLS only, reading ONLY those cells' directories
    * (listed driver-side, bounded by numCentroids): per-batch list AND
    * read cost ∝ the batch's cells, never the whole index — and
    * replayed rows drop instead of duplicating index entries.
    */
  def ingestPqIndex(spark: SparkSession, schema: StructType, inDir: String,
      codesDir: String, checkpointDir: String, idCol: String,
      vecCol: String, codebooks: Array[Array[Array[Float]]],
      centroids: Array[Array[Float]], maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      maxStoreFiles: Int = DefaultMaxStoreFiles): StreamingQuery =
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger) { (batch, _) =>
      ingestPqIndexBatch(spark, batch, codesDir, idCol, vecCol,
        codebooks, centroids, maxStoreFiles)
    }

  /** One [[ingestPqIndex]] micro-batch, directly callable (the
    * profiling/parity seam, like the other gates' `*Batch` twins).
    *
    * Compaction lifecycle (round 13): each batch appends ~one file per
    * touched cell directory, so over a long run every cell accumulates
    * a file per touching batch and both the serve-side cell scans and
    * this gate's own replay-guard reads pay growing listing/footer
    * work — the keyed gates' r11 slope, per cell. The same
    * generational policy applies PER CELL DIRECTORY (cell dirs are
    * flat stores): [[foldStore]] on each of the batch's cells.
    * Work per batch is bounded by (batch's cells × generation size) —
    * never index-sized. Crash recovery rides the manifest roll-forward
    * ([[graft.io.Layouts.recoverGenerational]]), run on the batch's
    * cell directories BEFORE its replay-guard read; the STORE OWNER
    * should additionally run
    * [[graft.io.Layouts.recoverPartitionedGenerational]] once at
    * serving startup — the gate heals only cells its batches touch,
    * so a crashed commit in a cell no later batch lands in would
    * otherwise stay in its duplicate-visible window indefinitely.
    * `maxStoreFiles <= 0` disables (parity/off switch).
    */
  private[graft] def ingestPqIndexBatch(spark: SparkSession,
      batch: DataFrame, codesDir: String, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Float]]],
      centroids: Array[Array[Float]],
      maxStoreFiles: Int = DefaultMaxStoreFiles): Unit = {
    import graft.ops.Similarity
    val encoded = Similarity.pqEncode(
        Similarity.ivfAssign(batch.select(col(idCol), col(vecCol)),
          vecCol, centroids),
        vecCol, codebooks)
      // null vector → null vnorm/codes/cell (all dropped here); a
      // zero-norm vector has vnorm = 0 — neither can ever serve. A
      // null ID is dropped too: the replay anti-join is an equi-join
      // on id, which never matches null, so a null-id row would grow
      // the index on every replay
      .where(col(idCol).isNotNull && col("vnorm") > 0)
      .select(col(idCol), col("pq_code"), col("vnorm"), col("centroid_id"))
      // a replayed FILE inside one trigger duplicates rows within the
      // batch itself; replays are byte-identical so any-row-per-id is
      // deterministic in content
      .dropDuplicates(idCol)
      .persist()
    try {
      val base = new org.apache.hadoop.fs.Path(codesDir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // The replay guard reads ONLY the batch's own cell directories,
      // never `spark.read.parquet(codesDir)`: a whole-index read lists
      // every leaf file on the driver each micro-batch, a floor that
      // grows with index size. The cells list is bounded by
      // numCentroids (plan-literal sized), and per-cell existence
      // checks skip cells nothing has landed in yet — which also
      // covers the all-degenerate first batch that leaves _SUCCESS
      // with no partition dirs ("index empty", not an error). The
      // explicit schema skips inference; a TYPE-mismatched index fails
      // loudly at read time.
      val cells = encoded.select(col("centroid_id")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val cellDirs = cells
        .map(c => new org.apache.hadoop.fs.Path(base, s"centroid_id=$c"))
        .filter(fs.exists).map(_.toString)
      // repair any crashed per-cell compaction BEFORE the replay-guard
      // read of those same directories: a committed-but-unapplied
      // generation would show duplicate rows (harmless to the ids-only
      // anti-join, wrong for a concurrent serve). Metadata-only on the
      // healthy path, bounded by the batch's cells.
      cellDirs.foreach(d => graft.io.Layouts.recoverGenerational(spark, d))
      val fresh =
        if (cellDirs.isEmpty) encoded // none of this batch's cells stored yet
        else {
          val storedIds = spark.read
            .option("basePath", codesDir).schema(encoded.schema)
            .parquet(cellDirs: _*)
            .select(col(idCol))
          // A MISSING column, by contrast, NULL-FILLS under a
          // user-supplied schema — and this gate never appends a null
          // id, so one in the stored table means files this gate did
          // not write (a foreign writer whose files lack `idCol`).
          // Null keys silently disable the equi-anti-join, so refuse
          // to append into a suspect index instead of duplicating
          // rows on every replay. Cost: one extra cell-pruned
          // ids-only pass per batch, the replay guard's own class.
          require(storedIds.where(col(idCol).isNull).isEmpty,
            s"stored PQ index at $codesDir has null $idCol rows in " +
              s"cells ${cells.mkString(",")} — not written by this " +
              "gate; refusing to append into a suspect index")
          encoded.join(storedIds, Seq(idCol), "left_anti")
        }
      fresh.write.mode("append").partitionBy("centroid_id")
        .parquet(codesDir)
      // per-cell generational fold (scaladoc above): only the batch's
      // own cells are checked — per-batch maintenance cost is bounded
      // by the batch's cell count, never the index's
      cells.foreach { c =>
        foldStore(spark,
          new org.apache.hadoop.fs.Path(base, s"centroid_id=$c").toString,
          maxStoreFiles)
      }
    } finally { encoded.unpersist(blocking = false); () }
  }

  /** Streaming decontamination gate: each micro-batch drops documents
    * sharing at least `minOverlap` distinct word `n`-gram shingles with
    * the static benchmark set at `benchDir`, appending only clean
    * documents to `outDir` — the streaming composition of
    * [[graft.ops.Decontamination.contaminationScores]], run in FRONT of
    * a training corpus so contaminated content never lands.
    *
    * Steady-state shape: the benchmark shingle set is computed ONCE at
    * stream start, persisted (it is eval-set-sized — the broadcast side
    * of every batch's join), and reused by every micro-batch via
    * [[graft.ops.Decontamination.contaminationScoresWithShingles]] —
    * per-batch work is the batch's own shingling plus a broadcast join,
    * independent of stream age and benchmark re-reads. The persist
    * lives for the query's lifetime (eval-set-sized driver+executor
    * memory) and is released when the query ends or its launch fails
    * ([[launchGate]]) — repeated gate launches in a long-lived session
    * must not accumulate leaked cached storage.
    */
  def ingestDecontaminated(spark: SparkSession, schema: StructType,
      inDir: String, benchDir: String, outDir: String,
      checkpointDir: String, idCol: String, textCol: String, n: Int = 8,
      minOverlap: Int = 1, maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // n defaults to 8 to MATCH the batch twin contaminationScores: a
    // silently stricter streaming default (3-grams flag common phrases)
    // would drop documents the batch pipeline keeps
    import graft.ops.Decontamination
    val shingles = Decontamination
      .benchShingles(spark.read.parquet(benchDir), textCol, n)
      .persist()
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger, shingles) { (batch, _) =>
      val flagged = Decontamination.contaminationScoresWithShingles(
          batch, shingles, idCol, textCol, n, minOverlap)
        .select(col(idCol))
      batch.join(flagged, Seq(idCol), "left_anti")
        .write.mode("append").parquet(outDir)
    }
  }

  /** Streaming DSIR quality gate: each micro-batch keeps only documents
    * whose mean per-feature importance weight under a PRE-FIT
    * target-vs-raw hashed-n-gram model
    * ([[graft.ops.Sampling.importanceWeightsWithModels]]) clears
    * `minLogw`, appending survivors to `outDir` — the data-selection
    * twin of [[ingestDecontaminated]], run in front of a training corpus
    * so off-domain content never lands.
    *
    * Steady-state shape: both models are fit ONCE at stream start from
    * the static reference dirs, persisted (each is ≤ `buckets` rows —
    * the broadcastable side of every batch's join), and reused by every
    * micro-batch; per-batch work is the batch's own feature hashing
    * plus two bucket-key joins, independent of stream age. The persists
    * are released as in [[ingestDecontaminated]].
    */
  def ingestImportanceGated(spark: SparkSession, schema: StructType,
      inDir: String, targetDir: String, rawDir: String, outDir: String,
      checkpointDir: String, idCol: String, textCol: String,
      minLogw: Double, buckets: Int = 10000, alpha: Double = 1.0,
      maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.Sampling
    val tModel = Sampling.importanceModel(
      spark.read.parquet(targetDir), textCol, buckets).persist()
    val rModel = Sampling.importanceModel(
      spark.read.parquet(rawDir), textCol, buckets).persist()
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger, tModel, rModel) { (batch, _) =>
      val keep = Sampling.importanceWeightsWithModels(batch, idCol,
          textCol, broadcast(tModel), broadcast(rModel), buckets, alpha)
        .where(col("logw") >= minLogw)
        .select(col(idCol))
      batch.join(keep, Seq(idCol), "left_semi")
        .write.mode("append").parquet(outDir)
    }
  }

  /** Streaming classifier gate: each micro-batch keeps only documents
    * whose Naive-Bayes-predicted class (under a ONCE-trained model from
    * the labeled reference at `trainDir` —
    * [[graft.ops.Classify.nbPredictWithModel]]) is in `keepLabels`,
    * appending survivors to `outDir` — the "classify pages, keep the
    * reference-like ones" curation gate (GPT-3/LLaMA style) run at
    * ingest time so off-class content never lands.
    *
    * Steady-state shape: the `(label, token, cnt)` model and the
    * per-class doc counts are trained ONCE at stream start and
    * persisted; per-batch work is the batch's own tokenization plus the
    * token-key model join — independent of stream age and of training
    * size. Both caches are released as in [[ingestDecontaminated]].
    */
  def ingestClassified(spark: SparkSession, schema: StructType,
      inDir: String, trainDir: String, outDir: String,
      checkpointDir: String, idCol: String, labelCol: String,
      textCol: String, keepLabels: Seq[String],
      maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.Classify
    val train = spark.read.parquet(trainDir)
    val model = Classify.trainNaiveBayes(train, labelCol, textCol).persist()
    val classDocs = Classify.nbClassDocs(train, labelCol).persist()
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger, model, classDocs) { (batch, _) =>
      val keep = Classify.nbPredictWithModel(batch, model, classDocs,
          idCol, textCol)
        .where(col("predicted").isin(keepLabels.map(x => x: Any): _*))
        .select(col(idCol))
      batch.join(keep, Seq(idCol), "left_semi")
        .write.mode("append").parquet(outDir)
    }
  }

  /** Streaming distribution-drift monitor: every micro-batch's exact TV
    * distance to a ONCE-fit reference feature model is appended to
    * `monitorDir` as `(batch_id, n_features, tv)` — the ingest-side
    * alarm wire: a scraper change, encoding bug, or topic shift shows
    * up as a TV spike on the monitor table while the data keeps
    * flowing (observe-only — pair with [[ingestImportanceGated]] when
    * off-distribution batches must also be BLOCKED). The reference
    * model persists for the query's lifetime (bucket-count-sized) and
    * is released on termination, as in the other gates.
    */
  def monitorDrift(spark: SparkSession, schema: StructType,
      inDir: String, referenceDir: String, outDir: String,
      monitorDir: String, checkpointDir: String, textCol: String,
      buckets: Int = 10000, maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.{Sampling, TextAnalysis}
    val refModel = Sampling.importanceModel(
      spark.read.parquet(referenceDir), textCol, buckets).persist()
    launchGate(spark, schema, inDir, checkpointDir, maxFilesPerTrigger,
        trigger, refModel) { (batch, batchId) =>
      // Monitor row FIRST: if the second write fails the batch
      // replays, and the monitor table dedups by batch_id. The
      // primary data sink has no such key in its rows, so it writes
      // the StreamingProcessor exactlyOnce way instead: each batch
      // OVERWRITES its own micro_batch_id=N partition directory —
      // a replay rewrites the same partition rather than appending
      // a second copy of committed data rows (readers see
      // micro_batch_id as a partition column).
      TextAnalysis.textDriftAgainstModel(batch, textCol, refModel,
          buckets)
        .select(lit(batchId).as("batch_id"), col("n_features"),
          col("tv"))
        .write.mode("append").parquet(monitorDir)
      batch.write.mode("overwrite")
        .parquet(s"$outDir/micro_batch_id=$batchId")
    }
  }

  /** Run a streaming DataFrame to completion against a memory sink and
    * return the materialized result (hermetic local testing; complete
    * mode for aggregations).
    */
  def runToMemory(spark: SparkSession, stream: DataFrame, name: String,
      outputMode: String = "complete"): DataFrame = {
    val q = stream.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
