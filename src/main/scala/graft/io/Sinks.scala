package graft.io

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame

/** Sink operators K1–K7 (SURVEY.md §2.2).
  *
  * Scale note: the reference coalesces everything into single files (fine
  * at 10⁵ rows). Here single-file outputs are opt-in via `singleFile` so
  * the same sinks work at 100 TB (many-file parallel write) and in the
  * reference's one-artifact mode.
  */
object Sinks {

  /** K1: append a batch of records as a new parquet shard
    * (reference test_parquet_processor.py:391-401). Writes one part file
    * per partition of `df`: a processor batch arrives as one partition
    * (`Enricher.enrich` coalesces its window-indexed output), so one
    * batch appends one shard file.
    */
  def appendParquet(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** K2: combined parquet output (aggregator.yml:159-161). */
  def parquet(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").parquet(path)

  /** K3: CSV with header (aggregator.yml:164-166). */
  def csv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode("overwrite").option("header", true).csv(path)

  /** K6: dead-letter JSON side output
    * (reference test_parquet_processor.py:336-349). The processors
    * append only a batch that has dead letters: an empty append still
    * pays a full write (planning, a job, a commit, `_SUCCESS`) and
    * leaves an empty part file. So `dir` may be absent when no batch
    * dead-lettered anything; readers take that as no dead letters (a
    * directory of only empty JSON files could not be read without a
    * schema either).
    */
  def deadLetterJson(df: DataFrame, dir: String): Unit =
    df.write.mode("append").json(dir)

  /** JSONL export — the interchange format most training-data loaders
    * consume (one JSON object per line, optionally gzipped so shards
    * stream-decompress). Parallel many-file write by default; pair with
    * `repartition(n)` upstream to control shard count.
    */
  def jsonl(df: DataFrame, dir: String, gzip: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).json(dir)
  }

  /** K4/K5: driver-side small-artifact writers (stats JSON, Markdown
    * report). These hold collected aggregates — bytes, not data — so a
    * plain file write is the right tool even at cluster scale.
    *
    * Scheme-aware: a path with a filesystem scheme (`s3a://…`,
    * `hdfs://…`) goes through Hadoop's FileSystem so the summary/log/
    * cursor land NEXT TO the parquet output the same URI names —
    * a java.nio Paths.get on such a URI silently created a local
    * `./s3a:/bucket/…` tree on the driver (and on a new driver host the
    * cursor would reset to 0, reprocessing the corpus). Scheme-less
    * paths keep the plain-file fast path (true local append).
    */
  def writeText(path: String, content: String): Unit =
    if (hasScheme(path)) {
      val hp = new org.apache.hadoop.fs.Path(path)
      val out = hadoopFs(hp).create(hp, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } else {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.writeString(p, content,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }

  /** K8: structured progress log — one appended line per batch (the
    * reference's per-run processor.log, test_parquet_processor.py:19-29).
    * On scheme'd paths the append is read-modify-write (object stores
    * and Hadoop's checksummed local FS don't support append); the log is
    * driver-heartbeat-sized, so the rewrite is bytes, not data.
    */
  def appendText(path: String, line: String): Unit =
    if (hasScheme(path)) {
      writeText(path, readTextIfExists(path).getOrElse("") + line + "\n")
    } else {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      Files.writeString(p, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  /** Scheme-aware small-text read (the cursor's load path). */
  private[graft] def readTextIfExists(path: String): Option[String] =
    if (hasScheme(path)) {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hadoopFs(hp)
      if (!fs.exists(hp)) None
      else {
        val in = fs.open(hp)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
    } else {
      val p = Paths.get(path)
      if (Files.exists(p)) Some(Files.readString(p)) else None
    }

  // scheme sniff WITHOUT java.net.URI: URI.create rejects legal local
  // paths containing spaces (see StagingSpec's regression note). file://
  // still counts as a scheme — Hadoop's LocalFileSystem handles it.
  private def hasScheme(path: String): Boolean =
    path.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*")

  private def hadoopFs(p: org.apache.hadoop.fs.Path) = {
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf)
  }
}
