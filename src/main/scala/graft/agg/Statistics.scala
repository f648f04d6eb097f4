package graft.agg

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Statistics + acceptance module (SURVEY.md §2.5, A1–A12):
  * global stats, media-type histogram, per-file stats, the acceptance
  * oracle, and the Markdown report renderer.
  *
  * All aggregation is one distributed `agg` (partial+final via
  * HashAggregateExec); only the final scalar row is collected.
  */
object Statistics {

  /** Referential-integrity audit between two tables: per group of the
    * left table, how many rows have a join partner on the right — the
    * "does every document have an embedding / every order a customer"
    * check a pipeline runs before a join silently drops rows. One
    * left semi-ish join (the right side contributes only distinct
    * keys, pre-aggregated — never its payload) + one bounded-key
    * rollup; coverage divides exact integers once.
    *
    * @return `groupCol, n_rows, n_matched, n_missing, coverage`
    */
  def joinCoverage(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, groupCol: String): DataFrame = {
    val keys = right.select(col(rightKey).as("__k")).distinct()
      .withColumn("__hit", lit(1L))
    left.select(col(groupCol), col(leftKey).as("__k"))
      .join(keys, Seq("__k"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_matched"))
      .select(col(groupCol), col("n_rows"), col("n_matched"),
        (col("n_rows") - col("n_matched")).as("n_missing"),
        (col("n_matched").cast("double") / col("n_rows")).as("coverage"))
  }

  /** A1–A7 in one pass (reference evaluate_test_run.py:91-104,
    * aggregator.yml:169-176).
    */
  case class GlobalStats(totalRecords: Long, errorCount: Long,
      avgProcessingTime: Double, medianProcessingTime: Double,
      maxProcessingTime: Double, totalProcessingTime: Double) {
    def errorRate: Double =
      if (totalRecords == 0) 0.0 else errorCount.toDouble / totalRecords
  }

  def globalStats(df: DataFrame): GlobalStats = {
    val r: Row = df.agg(
      count(lit(1)).as("n"),
      count(when(col("error").isNotNull, 1)).as("errors"),
      avg(col("processing_time")).as("avg_pt"),
      median(col("processing_time")).as("median_pt"),
      max(col("processing_time")).as("max_pt"),
      sum(col("processing_time")).as("sum_pt")).head()
    def d(i: Int) = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    GlobalStats(r.getLong(0), r.getLong(1), d(2), d(3), d(4), d(5))
  }

  /** A8: media_type histogram sorted desc (aggregator.yml:174,200-202). */
  def mediaTypeHistogram(df: DataFrame): DataFrame =
    df.groupBy(col("media_type"))
      .agg(count(lit(1)).as("count"))
      .orderBy(desc("count"), col("media_type"))

  /** A10: records per source file (aggregator.yml:140-149). */
  def perFileStats(df: DataFrame): DataFrame =
    df.groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("records"))
      .orderBy(col("file"))

  /** Normalize a file URI to a bare path, identically in Scala and SQL
    * (input_file_name yields `file:///x`; Hadoop listings yield
    * `file:/x`).
    */
  private val SchemeRe = "^[a-zA-Z0-9+.-]+:/*"
  private def uriPath(s: String): String = s.replaceFirst(SchemeRe, "/")

  /** Recursive parquet listing with byte sizes via the Hadoop FS API —
    * O(files) metadata calls, never a data scan (the scale-safe
    * replacement for counting files through `input_file_name()`).
    * Paths are scheme-normalized; sorted. The normalized form is a
    * JOIN KEY against `input_file_name()` — NOT a readable path (the
    * scheme is stripped: `s3a://<bucket>/x` becomes `/bucket/x`, and a
    * space stays percent-encoded); to read the files back, use
    * [[listParquetFilesRaw]]'s raw URIs.
    */
  def listParquetFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, Long)] =
    listParquetFilesRaw(spark, dir).map { case (_, key, len) => (key, len) }

  /** [[listParquetFiles]] carrying the RAW Hadoop URI alongside the
    * normalized join key: (readableUri, normalizedKey, bytes). Only
    * the raw URI resolves on the file's own filesystem when fed back
    * into `spark.read` — the normalized key would resolve against the
    * session default FS with the scheme stripped.
    *
    * The listing sees what `spark.read.parquet` of `dir` reads: names
    * Spark's file index treats as hidden ([[hiddenName]]) are skipped,
    * files and directories alike — so an interrupted append's
    * uncommitted `_temporary/.../part-*.parquet` is neither counted nor
    * footer-read. The walk is `listStatus` per directory, not
    * `listFiles(root, true)`: on the local filesystem without native IO
    * every `LocatedFileStatus` that `listFiles` builds loads its
    * permissions by forking `ls` (Spark's own `HadoopFSUtils` avoids that
    * constructor for the same reason). The sessions' fork-free local
    * filesystem ([[graft.io.NioLocalFileSystem]]) does not cover this:
    * it replaces only the `chmod` forks of permission WRITES.
    */
  def listParquetFilesRaw(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = Seq.newBuilder[(String, String, Long)]
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).foreach { st =>
        val name = st.getPath.getName
        if (hiddenName(name)) ()
        else if (st.isDirectory) walk(st.getPath)
        else if (name.endsWith(".parquet"))
          buf += ((st.getPath.toString,
            uriPath(st.getPath.toUri.toString), st.getLen))
      }
    if (fs.exists(root)) walk(root)
    buf.result().sortBy(_._2)
  }

  /** Spark's file-index rule for names a table read skips: `_`- and
    * `.`-prefixed names (job scratch such as `_temporary`, `_SUCCESS`,
    * checksum files), except the Parquet summary files and `_`-names
    * carrying a partition `=`.
    */
  private def hiddenName(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) &&
      !name.startsWith("_metadata") && !name.startsWith("_common_metadata")

  /** A10 with byte sizes (aggregator.yml:140-149's file_stats): records
    * per file from one scan-side aggregate, byte length from the FS
    * listing, joined on the normalized path. The listing side is
    * file-count-sized → broadcast.
    */
  def perFileStatsWithSize(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, dir: String): DataFrame =
    perFileStatsWithSize(spark, df, listParquetFiles(spark, dir))

  /** [[perFileStatsWithSize]] over a pre-computed `listParquetFiles`
    * listing — callers that already hold one (the aggregator) avoid a
    * second O(files) recursive LIST walk.
    */
  def perFileStatsWithSize(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, listing: Seq[(String, Long)]): DataFrame = {
    import spark.implicits._
    val sizes = broadcast(listing.toDF("file", "bytes"))
    df.groupBy(regexp_replace(input_file_name(), SchemeRe, "/").as("file"))
      .agg(count(lit(1)).as("records"))
      .join(sizes, Seq("file"), "left")
      .orderBy(col("file"))
  }

  /** Physical-layout health report: parquet files of `dir` bucketed by
    * the binary magnitude of their byte size — the dashboard that
    * detects the "7 files of 3 TB next to 40k files of 2 MB" layout
    * pathology [[graft.io.Layouts.writeSizedShards]] exists to prevent
    * (downstream scan parallelism and task skew are set by this
    * distribution). Pure FS metadata, O(files), no data scan; file
    * counts are small enough that the report is computed driver-side
    * like the other FS-census helpers here.
    *
    * @return (bucket = bit-length of byte size, n_files, total_bytes,
    *         min_bytes, max_bytes), bucket-sorted
    */
  def fileSizeProfile(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, Long, Long, Long, Long)] =
    fileSizeProfileOf(listParquetFiles(spark, dir))

  /** [[fileSizeProfile]] over a pre-computed listing (see
    * [[perFileStatsWithSize]]'s listing overload).
    */
  def fileSizeProfileOf(listing: Seq[(String, Long)])
      : Seq[(Int, Long, Long, Long, Long)] =
    listing
      .groupBy { case (_, len) => 64 - java.lang.Long.numberOfLeadingZeros(math.max(len, 1L)) }
      .map { case (bucket, files) =>
        val sizes = files.map(_._2)
        (bucket, sizes.length.toLong, sizes.sum, sizes.min, sizes.max)
      }
      .toSeq.sortBy(_._1)

  /** A9 file variant (aggregator.yml:124-128): the largest parquet per
    * segment, where a segment is an immediate child directory of `dir`.
    * Pure FS metadata — O(files).
    */
  def largestPerSegment(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String, Long)] = {
    val rootPath = uriPath(
      new org.apache.hadoop.fs.Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .makeQualified(new org.apache.hadoop.fs.Path(dir)).toUri.toString)
    val prefix = if (rootPath.endsWith("/")) rootPath else rootPath + "/"
    listParquetFiles(spark, dir)
      .flatMap { case (p, len) =>
        if (p.startsWith(prefix)) {
          val rel = p.substring(prefix.length)
          val segment = rel.takeWhile(_ != '/')
          if (rel.contains('/')) Some((segment, p, len)) else None
        } else None
      }
      .groupBy(_._1)
      .map { case (_, files) => files.maxBy(f => (f._3, f._2)) }
      .toSeq.sortBy(_._1)
  }

  /** Exact column profiling: per-column non-null / null / distinct
    * counts plus min/max/mean, one row per column — the data-quality
    * report run before a corpus enters training.
    *
    * Plan shape: one UNION branch per column, each a single-distinct
    * two-phase aggregate over a scan PRUNED to that one column. N exact
    * `count_distinct`s in one aggregate would make Spark Expand the
    * scan (N+1)× through the partial aggregate; the per-column branches
    * read the same total bytes (columnar pruning), stay in whole-stage
    * codegen at 1× the row count, and drop the Expand entirely
    * (measured at sf0.1: 3.3 s → 1.4 s; PlanSpec-pinned). Means are
    * decimal-summed then cast (like the core queries) so the result is
    * independent of partition merge order. String columns are profiled
    * on their length; `n_distinct` always counts original values. At
    * 100 TB prefer [[columnProfileApprox]] — the per-column distinct
    * exchanges here carry every distinct value.
    *
    * Contract: each column branch RE-EXECUTES the input plan, so
    * profile stored tables (the intended use — each branch's scan
    * prunes to its one column, same total bytes), and persist a
    * derived or non-deterministic frame first (a sampled/rand-filtered
    * input would give each column a different row snapshot). The
    * approx path reads the input exactly once.
    */
  def columnProfile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String] = Nil): DataFrame =
    profile(df, numericCols, stringCols, approxDistinct = false)

  /** The 100 TB default: [[columnProfile]] with `approx_count_distinct`
    * (HLL++, ±2.3% standard error) for `n_distinct`. Exact multi-column
    * `count_distinct` makes Spark EXPAND the scan N ways through the
    * aggregate — the exchange carries ~(profiled columns)× the row count;
    * the sketch is one ordinary mergeable aggregate per column, so the
    * plan stays a single partial+final pass whatever the column count.
    * Same output shape; values are engine-specific → rows-only gate
    * (q64b), with exact/approx agreement pinned by a spec instead.
    */
  def columnProfileApprox(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String] = Nil): DataFrame =
    profile(df, numericCols, stringCols, approxDistinct = true)

  /** Gate-threshold calibration sweep: confusion counts and derived
    * rates of the predictor `score >= t` against a boolean reference,
    * one output row per `t` in `cutoffs` — the table consulted before
    * committing a quality-gate threshold to a curation run (how much
    * survives, what the false-keep/false-drop trade looks like).
    *
    * Scale: ONE aggregation pass — per cutoff the confusion cells are
    * conditional sums accumulating map-side, so the exchange carries a
    * single 4×|cutoffs|-cell row no matter the corpus size; the sweep
    * never re-scans per threshold. Rates divide exact integer counts
    * (NULL where undefined), so the whole table is engine-exact.
    *
    * Rows with a NULL label or NULL score belong to NO cell: all four
    * cells are direct conditional sums (a null condition matches
    * nothing), never derived from row totals — deriving `tn` as
    * `count(*) − …` would silently count every unlabeled row as a true
    * negative at every cutoff, inflating `tn` and `keep_rate`'s
    * denominator exactly where the reference set is least trustworthy.
    */
  def thresholdSweep(df: DataFrame, score: Column, label: Column,
      cutoffs: Seq[Double]): DataFrame = {
    require(cutoffs.nonEmpty, "at least one cutoff")
    // Materialize score/label ONCE per row: the caller's expressions can
    // be large trees (the quality composite), and inlining them into
    // 4×|cutoffs| conditional sums re-evaluates each per cell and blows
    // whole-stage codegen's method-size limit (measured: 0.33 s → 2.2 s
    // on q104 when inlined). After this projection every cell references
    // two cheap column refs.
    val scored = df.select(score.as("__score"), label.as("__label"))
    val (sc, lb) = (col("__score"), col("__label"))
    val cells = cutoffs.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        sum(when(lb && sc >= c, 1L).otherwise(0L)).as(s"__tp$i"),
        sum(when(!lb && sc >= c, 1L).otherwise(0L)).as(s"__fp$i"),
        sum(when(lb && sc < c, 1L).otherwise(0L)).as(s"__fn$i"),
        sum(when(!lb && sc < c, 1L).otherwise(0L)).as(s"__tn$i"))
    }
    val aggd = scored.agg(cells.head, cells.tail: _*)
    val rows = aggd.select(explode(array(cutoffs.zipWithIndex.map {
      case (c, i) =>
        struct(lit(c).as("cutoff"),
          col(s"__tp$i").as("tp"), col(s"__fp$i").as("fp"),
          col(s"__fn$i").as("fn"), col(s"__tn$i").as("tn"))
    }: _*)).as("r")).select(col("r.*"))
    def ratio(num: Column, den: Column): Column =
      when(den =!= 0, num.cast("double") / den.cast("double"))
    rows.select(col("cutoff"), col("tp"), col("fp"), col("fn"), col("tn"),
      ratio(col("tp"), col("tp") + col("fp")).as("precision"),
      ratio(col("tp"), col("tp") + col("fn")).as("recall"),
      ratio(lit(2) * col("tp"),
        lit(2) * col("tp") + col("fp") + col("fn")).as("f1"),
      ratio(col("tp") + col("fp"),
        col("tp") + col("fp") + col("fn") + col("tn")).as("keep_rate"))
  }

  private def profile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String], approxDistinct: Boolean): DataFrame = {
    val cols = numericCols.map((_, true)) ++ stringCols.map((_, false))
    require(cols.nonEmpty, "columnProfile needs at least one column")
    def vOf(c: String, isNum: Boolean) =
      if (isNum) col(c).cast("double") else length(col(c)).cast("double")
    def sumOf(c: String, isNum: Boolean) =
      if (isNum) sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 12))).cast("double")
      else sum(length(col(c)).cast("long")).cast("double")
    if (approxDistinct) {
      // sketch path: every metric is an ordinary mergeable aggregate, so
      // ONE scan + one partial/final pass covers all columns
      val aggs = count(lit(1)).as("__n") +: cols.flatMap { case (c, isNum) =>
        Seq(
          count(col(c)).as(s"__${c}_nn"),
          approx_count_distinct(col(c)).as(s"__${c}_nd"),
          min(vOf(c, isNum)).as(s"__${c}_min"),
          max(vOf(c, isNum)).as(s"__${c}_max"),
          (sumOf(c, isNum) / count(col(c))).as(s"__${c}_avg"))
      }
      df.agg(aggs.head, aggs.tail: _*)
        .selectExpr("__n",
          s"stack(${cols.size}, " + cols.map { case (c, _) =>
            s"'$c', __${c}_nn, __${c}_nd, __${c}_min, __${c}_max, __${c}_avg"
          }.mkString(", ") +
            ") as (col_name, n_nonnull, n_distinct, min_d, max_d, avg_d)")
        .select(col("col_name"), col("n_nonnull"),
          (col("__n") - col("n_nonnull")).as("n_null"),
          col("n_distinct"), col("min_d"), col("max_d"), col("avg_d"))
    } else {
      // exact path: one UNION branch per column. N exact count_distincts
      // in one aggregate make Spark EXPAND the scan (N+1)× through the
      // partial aggregate; a single-distinct aggregate per branch plans
      // WITHOUT Expand, each branch's scan prunes to its one column
      // (same total bytes read as the one wide scan), and every branch
      // stays in whole-stage codegen at 1× the row count.
      //
      // Each branch RE-EXECUTES the input plan (the scaladoc contract):
      // surface the one case where that silently changes semantics — a
      // non-deterministic input gives every column a different row
      // snapshot — instead of leaving it to the contract's fine print.
      // storageLevel gate: a caller who already persisted the frame has
      // FOLLOWED the advice below (every branch reads the cached
      // snapshot, so the inconsistency can't occur) — warning them
      // anyway would train users to ignore it
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE &&
          df.queryExecution.analyzed.exists(_.expressions.exists(e =>
          !e.deterministic))) {
        System.err.println("[graft] columnProfile: input plan contains " +
          "non-deterministic expressions and each column branch re-runs " +
          "it — persist() the frame first (or use columnProfileApprox, " +
          "which scans once) for a consistent snapshot")
      }
      cols.map { case (c, isNum) =>
        df.select(col(c))
          .agg(
            count(lit(1)).as("__n"),
            count(col(c)).as("n_nonnull"),
            count_distinct(col(c)).as("n_distinct"),
            min(vOf(c, isNum)).as("min_d"),
            max(vOf(c, isNum)).as("max_d"),
            (sumOf(c, isNum) / count(col(c))).as("avg_d"))
          .select(lit(c).as("col_name"), col("n_nonnull"),
            (col("__n") - col("n_nonnull")).as("n_null"),
            col("n_distinct"), col("min_d"), col("max_d"), col("avg_d"))
      }.reduce(_.unionAll(_))
    }
  }

  /** A12: the acceptance oracle — records ≥ minRecords ∧ avg < maxAvg ∧
    * error rate < maxErrorRate (reference evaluate_test_run.py:107-113).
    */
  case class Acceptance(minRecords: Long = 8, maxAvgSeconds: Double = 30.0,
      maxErrorRate: Double = 0.2)

  def accept(stats: GlobalStats, a: Acceptance = Acceptance()): Boolean =
    stats.totalRecords >= a.minRecords &&
      stats.avgProcessingTime < a.maxAvgSeconds &&
      stats.errorRate < a.maxErrorRate

  /** K4: statistics.json payload (aggregator.yml:169-181). */
  def statsJson(stats: GlobalStats, histogram: Seq[(String, Long)],
      filesCombined: Long): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val mt = histogram.map { case (k, v) => s""""${esc(Option(k).getOrElse("null"))}": $v""" }
      .mkString("{", ", ", "}")
    s"""{
       |  "total_records": ${stats.totalRecords},
       |  "files_combined": $filesCombined,
       |  "avg_processing_time": ${stats.avgProcessingTime},
       |  "total_processing_time": ${stats.totalProcessingTime},
       |  "error_count": ${stats.errorCount},
       |  "error_rate": ${stats.errorRate},
       |  "media_types": $mt
       |}""".stripMargin
  }

  /** K5: human report (aggregator.yml:184-203, processor.local.yml:84-92);
    * `fileStats` rows are (path, records, bytes) — the reference's
    * per-file file_stats table (aggregator.yml:140-149).
    */
  /** Per-source corpus datasheet — the "data card" table published with
    * a training-corpus release: document/token/char volumes, exact
    * in-source duplicate counts, the dominant language, and the
    * summed quality score per source.
    *
    * Exactness discipline: every count is an integer; the per-document
    * quality score (an integer-ratio double, identical cross-engine —
    * q22's proven basis) is quantized to DECIMAL(25,6) before the exact
    * sum, so `quality_sum` is partition-order independent AND
    * cross-engine hashable; `mean_quality` divides it by the count.
    *
    * Scale: one (source, fingerprint) aggregation cascading into the
    * per-source rollup (duplicates = docs − distinct fingerprints, no
    * expand), plus a report-sized (source, lang) aggregate for the
    * dominant language (ties to the lexicographically smaller lang).
    *
    * @return `source, n_docs, n_tokens, n_chars, n_dup_docs, top_lang,
    *         top_lang_docs, quality_sum, mean_quality`
    */
  def corpusDatasheet(df: DataFrame, textCol: String, groupCol: String,
      langCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(groupCol).as("source"),
      col(langCol).as("__lang"),
      graft.ops.TextAnalysis.tokenCount(col(textCol)).cast("long").as("__nt"),
      length(col(textCol)).cast("long").as("__nc"),
      graft.ops.TextAnalysis.qualityScore(col(textCol))
        .cast("decimal(25,6)").as("__q"),
      md5(col(textCol)).as("__fp"))
    val perFp = base.groupBy(col("source"), col("__fp"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__nt")).as("__t"),
        sum(col("__nc")).as("__c"), sum(col("__q")).as("__qs"))
    val perSource = perFp.groupBy(col("source"))
      .agg(sum(col("__cnt")).as("n_docs"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__c")).as("n_chars"),
        (sum(col("__cnt")) - count(lit(1))).as("n_dup_docs"),
        sum(col("__qs")).as("quality_sum"))
    val topLang = base.groupBy(col("source"), col("__lang"))
      .agg(count(lit(1)).as("__lc"))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("__lc").desc, col("__lang"))))
      .where(col("__rn") === 1)
      .select(col("source"), col("__lang").as("top_lang"),
        col("__lc").as("top_lang_docs"))
    perSource.join(topLang, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_dup_docs"), col("top_lang"), col("top_lang_docs"),
        col("quality_sum").cast("decimal(38,6)").as("quality_sum"),
        (col("quality_sum").cast("double") / col("n_docs"))
          .as("mean_quality"))
  }

  /** Render a [[corpusDatasheet]] frame (report-sized) as the markdown
    * data card a release ships with.
    */
  def datasheetMarkdown(datasheet: DataFrame): String = {
    val rows = datasheet.orderBy(col("source")).collect().map { r =>
      f"| ${r.getAs[String]("source")} | ${r.getAs[Long]("n_docs")} | " +
        f"${r.getAs[Long]("n_tokens")} | ${r.getAs[Long]("n_chars")} | " +
        f"${r.getAs[Long]("n_dup_docs")} | ${r.getAs[String]("top_lang")} | " +
        f"${r.getAs[Double]("mean_quality")}%.4f |"
    }.mkString("\n")
    "# Corpus datasheet\n\n" +
      "| Source | Docs | Tokens | Chars | Dup docs | Top lang | Mean quality |\n" +
      "|---|---|---|---|---|---|---|\n" + rows + "\n"
  }

  /** @param capDrops cap-drop counters to report — defaults to the
    *   session-wide [[graft.ops.CapMetrics.drops]] totals. In a
    *   long-lived session those include drops from EARLIER unrelated
    *   jobs; a caller reporting on one specific run should snapshot
    *   the counters before the run and pass the difference here (with
    *   `capScope = "this run"`), so the report blames only its own job.
    * @param capScope qualifier printed in the cap-drops heading —
    *   matches whatever window `capDrops` covers.
    */
  def markdownReport(stats: GlobalStats, histogram: Seq[(String, Long)],
      filesCombined: Long,
      fileStats: Seq[(String, Long, Long)] = Nil,
      sizeProfile: Seq[(Int, Long, Long, Long, Long)] = Nil,
      capDrops: Map[String, (Long, Long)] = graft.ops.CapMetrics.drops,
      capScope: String = "session-wide")
      : String = {
    val rows = histogram.map { case (k, v) =>
      s"| ${Option(k).getOrElse("(unknown)")} | $v |" }.mkString("\n")
    val fileSection =
      if (fileStats.isEmpty) ""
      else fileStats.map { case (f, n, b) => s"| $f | $n | $b |" }
        .mkString("\n## Files\n\n| File | Records | Bytes |\n|---|---|---|\n",
          "\n", "\n")
    // layout health ([[fileSizeProfile]] buckets): scan throughput at
    // 100 TB dies on small files (per-file open/footer overhead), so the
    // report a user reads after every aggregation flags them
    val layoutSection =
      if (sizeProfile.isEmpty) ""
      else {
        val body = sizeProfile.map { case (bucket, n, total, mn, mx) =>
          s"| < 2^$bucket B | $n | $total | $mn | $mx |"
        }.mkString("\n")
        val small = sizeProfile.collect {
          case (bucket, n, _, _, _) if bucket <= 24 => n // < 16 MiB
        }.sum
        val warn =
          if (small == 0) ""
          else s"\n\n**⚠ $small file(s) under 16 MiB** — compact small " +
            "shards (coalesce/rewrite) before large-scale scans."
        s"\n## Parquet layout\n\n| Size bucket | Files | Total bytes | " +
          s"Min | Max |\n|---|---|---|---|---|\n$body$warn\n"
      }
    // cap-drop accounting ([[graft.ops.CapMetrics]]): over-cap bucket
    // groups dropped by the near-dup/ANN guardrails. A production run
    // must see dropped-recall counts where a human reads the report,
    // not only in bench JSON — a silent cap is a mass-duplication
    // event read as "covered everything". (Session-wide by default;
    // see the @param note.)
    val drops = capDrops.filter { case (_, (g, r)) => g > 0 || r > 0 }
    val capSection =
      if (drops.isEmpty) ""
      else drops.toSeq.sortBy(_._1).map { case (tag, (g, r)) =>
        s"| $tag | $g | $r |"
      }.mkString(
        s"\n## Cap drops ($capScope)\n\n**⚠ over-cap bucket groups " +
          "were dropped** — recall is bounded below exact in the " +
          "tagged paths; raise the cap or run exact dedup first.\n\n" +
          "| Cap tag | Groups dropped | Rows dropped |\n|---|---|---|\n",
        "\n", "\n")
    // Dynamic table rows are substituted AFTER stripMargin: interpolating
    // them into the margin template would let stripMargin eat the leading
    // '|' of every row beyond the first (it is the margin character).
    f"""# Aggregation Summary
       |
       |- **Total records:** ${stats.totalRecords}%,d
       |- **Files combined:** $filesCombined%,d
       |- **Average processing time:** ${stats.avgProcessingTime}%.2f s
       |- **Total processing time:** ${stats.totalProcessingTime}%.2f s
       |- **Errors:** ${stats.errorCount}%,d (${stats.errorRate * 100}%.1f%%)
       |
       |## Media types
       |
       || Media type | Count |
       ||---|---|
       |@@ROWS@@
       |@@FILES@@@@LAYOUT@@@@CAPS@@""".stripMargin
      .replace("@@ROWS@@", rows)
      .replace("@@FILES@@", fileSection)
      .replace("@@LAYOUT@@", layoutSection)
      .replace("@@CAPS@@", capSection)
  }
}
