package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.enrich.{Enricher, Fetcher}
import graft.io.Sinks

/** Structured-Streaming twin of `pipeline.Pipelines.processor` (T1–T4):
  * URL-list files land in a directory; each micro-batch enriches its
  * slice and appends shard parquet, plus dead-letter JSON when it has
  * dead letters.
  *
  * The cursor (T2) is the streaming checkpoint: file offsets are
  * committed after each batch, so a restart resumes exactly where the
  * last run stopped — the reference's `start_index`/`has_more` chain
  * without hand-rolled state. Enrichment keeps the batch pipeline's
  * at-least-once, error-in-row semantics: a batch that dies mid-write
  * may re-run, exactly as a re-dispatched reference workflow re-scrapes
  * its segment (SURVEY.md §7.4 — deliberately NOT silently upgraded,
  * because the shard sink append is not idempotent across retries).
  */
object StreamingProcessor {

  /** Start (or resume) the incremental enrichment over `inDir`.
    * `Trigger.AvailableNow` drains pending files and terminates;
    * production streams can pass a processing-time trigger instead.
    *
    * @param exactlyOnce opt-in idempotent sink: each micro-batch
    *   overwrites its own `micro_batch_id=N` partition directory, so a
    *   batch replayed after a mid-write failure replaces its partial
    *   output instead of appending a duplicate — exactly-once into the
    *   shard sink (reads see `micro_batch_id` as a partition column).
    *   Default keeps the reference's at-least-once append semantics.
    */
  def start(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, fetcherFactory: () => Fetcher,
      config: Enricher.Config = Enricher.Config(),
      maxFilesPerTrigger: Int = 16,
      trigger: Trigger = Trigger.AvailableNow(),
      exactlyOnce: Boolean = false): StreamingQuery = {
    // The same read as the batch twin, Sources.urlList: a pinned
    // `url STRING` schema over one pretty-printed JSON array of {url}
    // objects per file (the reference's list format), hence multiLine.
    // Without multiLine each array file parses as corrupt line-JSON,
    // every url comes back null, and the checkpoint still commits the
    // offsets — a stream that "succeeds" on zero rows.
    val urls = spark.readStream
      .schema("url STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("multiLine", true)
      .json(inDir)
      .where(col("url").isNotNull)

    urls.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // batch_index restarts per micro-batch; globally unique ids come
        // from (micro_batch_id, batch_index)
        val enriched = Enricher.enrich(batch, fetcherFactory, config)
        try {
          if (exactlyOnce) {
            enriched.records.write.mode("overwrite")
              .parquet(s"$outDir/shards/micro_batch_id=$batchId")
            // overwritten even when the batch has no dead letter: a batch
            // replayed after a failed attempt must clear the dead
            // letters that attempt left in its partition
            enriched.deadLetter.write.mode("overwrite")
              .json(s"$outDir/dead_letter/micro_batch_id=$batchId")
          } else {
            // dead letters append only when the batch has any, counted
            // by the shard write (the batch processor's rule)
            val counts = org.apache.spark.sql.Observation()
            Sinks.appendParquet(enriched.recordsCounted(counts)
                .withColumn("micro_batch_id", lit(batchId)),
              s"$outDir/shards")
            if (counts.get("dead").asInstanceOf[Long] > 0)
              Sinks.deadLetterJson(
                enriched.deadLetter.withColumn("micro_batch_id", lit(batchId)),
                s"$outDir/dead_letter")
          }
        } finally enriched.release() // else one cache entry leaks per batch
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
