package graft.io

import org.apache.spark.sql.DataFrame

/** Physical-layout helpers for the cluster-scale deployment.
  *
  * At 100 TB the dominant cost of repeated fact-to-fact joins and
  * aggregations is the shuffle. Bucketing fixes the partitioning at write
  * time: two tables bucketed by the same key into the same bucket count
  * join with ZERO exchanges (and aggregation on the bucket key skips its
  * shuffle too). The trade: a one-time clustered write + a metastore
  * entry per table.
  */
object Layouts {

  /** Parse `spark.sql.warehouse.dir` — a stringified Hadoop Path, which
    * does NOT percent-encode characters illegal in a URI (a space in
    * the checkout path). A raw `new java.net.URI(...)` would throw
    * `URISyntaxException` on such a value before [[replaceBucketed]]'s
    * DROP-only fallback could apply; `hadoop.fs.Path` re-encodes the
    * path component itself. Pinned in `LayoutsSpec`.
    */
  private[graft] def warehouseUri(conf: String): java.net.URI =
    new org.apache.hadoop.fs.Path(conf).toUri

  /** Write `df` as a parquet table bucketed (and sorted) by one or more
    * keys. Joins/aggregations on exactly those keys between tables
    * sharing `buckets` then run shuffle-free — verified by
    * `LayoutsSpec`. Bucket by the FULL join key list with `buckets`
    * equal to `spark.sql.shuffle.partitions`: a subset bucketing is
    * ignored by the planner for multi-key joins, and a mismatched
    * bucket count forces the probe side to re-shuffle to it.
    *
    * Trade-off: a clustered write and a metastore entry per table buy
    * zero-exchange joins only where both sides are shuffle-joined on
    * the bucket keys. A stored band-key table, which the keyed probes
    * semi-join against a BROADCAST of the batch's keys, has no
    * exchange to elide, so plain parquet serves it equally well.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, moreKeys: String*): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .saveAsTable(table)

  /** [[writeBucketed]] that first drops any previous incarnation of the
    * table INCLUDING an orphaned warehouse directory: the in-memory
    * catalog forgets tables between JVMs but the filesystem location
    * survives, and `saveAsTable` refuses to overwrite a location the
    * current catalog doesn't own. The rebuild-each-run entry point for
    * queries that materialize their own stored index (q149).
    */
  def replaceBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, moreKeys: String*): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // orphan cleanup applies only where the orphan can exist: an
    // UNQUALIFIED table in the DEFAULT database of a LOCAL-filesystem
    // warehouse, at <warehouse>/<lowercase(table)>. A db-qualified name
    // lives at <warehouse>/<db>.db/<table>, an unqualified name under a
    // non-default CURRENT database resolves (and was just dropped)
    // there too — deleting <warehouse>/<table> then would destroy the
    // DEFAULT database's unrelated table of the same name — and a
    // remote (hdfs/s3a) warehouse is not reachable via java.io.File.
    // In all three cases the catalog DROP above is the whole story and
    // we must not guess at paths.
    //
    val whUri = warehouseUri(spark.conf.get("spark.sql.warehouse.dir"))
    val localFs = whUri.getScheme == null || whUri.getScheme == "file"
    if (localFs && !table.contains(".") &&
        spark.catalog.currentDatabase == "default") {
      val loc = new java.io.File(whUri.getPath, table.toLowerCase)
      def rm(f: java.io.File): Unit = {
        // listFiles is null if the dir vanished or turned unreadable
        // between checks — nothing left to delete in that case
        val children = if (f.isDirectory) f.listFiles() else null
        if (children != null) children.foreach(rm)
        f.delete(); ()
      }
      if (loc.exists()) rm(loc)
    }
    writeBucketed(df, table, key, buckets, moreKeys: _*)
  }

  /** Repartition-then-write for plain directories (no metastore): gives
    * one file per key-range so downstream range predicates prune files,
    * but unlike bucketing does NOT carry partitioning metadata into
    * future joins.
    */
  def writeRangeClustered(df: DataFrame, dir: String, key: String,
      partitions: Int): Unit =
    df.repartitionByRange(partitions, df(key))
      .sortWithinPartitions(df(key))
      .write.mode("overwrite").parquet(dir)

  /** Z-order (Morton-curve) clustered write: each clustering column is
    * width-bucketed into 2^`bitsPerCol` cells between its observed
    * min/max (one aggregate pass for the bounds — plan literals
    * thereafter), the cell indices' bits are interleaved into one
    * z-key, and the data is range-partitioned + sorted by it. Rows
    * close in EVERY clustered dimension land in the same files, so a
    * range predicate on ANY of the columns — not just the first, as
    * with a lexicographic sort — touches a small, contiguous slice of
    * files and parquet row-group min/max stats prune the rest. The
    * multi-dimensional file-pruning layout for a 100 TB fact table
    * queried along several independent axes.
    *
    * The z-key is pure integer arithmetic (shifts + masks over the
    * bucket indices), fully codegen'd; nulls sort first via bucket 0.
    */
  def writeZOrdered(df: DataFrame, dir: String, cols: Seq[String],
      partitions: Int, bitsPerCol: Int = 8): Unit = {
    require(cols.nonEmpty, "at least one clustering column")
    require(bitsPerCol > 0 && bitsPerCol * cols.size <= 62,
      s"bitsPerCol × cols must fit a long, got $bitsPerCol × ${cols.size}")
    import org.apache.spark.sql.functions._
    val n = (1 << bitsPerCol).toLong
    val aggs = cols.flatMap(c => Seq(min(col(c).cast("double")),
      max(col(c).cast("double"))))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val zcol = cols.zipWithIndex.map { case (c, ci) =>
      // null bounds (empty input, or an entirely-null clustering column)
      // degenerate to (0,0) → every row lands in bucket 0, same as the
      // hi <= lo path below — getDouble on the null min/max would NPE
      val (lo, hi) =
        if (bounds.isNullAt(ci * 2) || bounds.isNullAt(ci * 2 + 1)) (0.0, 0.0)
        else (bounds.getDouble(ci * 2), bounds.getDouble(ci * 2 + 1))
      // bucket index in [0, n): equal-width between the observed bounds
      // (degenerate column → bucket 0); nulls → bucket 0
      val bucket =
        if (hi <= lo) lit(0L)
        else least(lit(n - 1), greatest(lit(0L),
          floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * n)
            .cast("long")))
      val b = coalesce(bucket, lit(0L))
      // spread bucket bit i of column ci to z-bit (i × stride + ci)
      (0 until bitsPerCol).map { i =>
        shiftleft(shiftright(b, i).bitwiseAND(1L),
          i * cols.size + (cols.size - 1 - ci))
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
    df.withColumn("__z", zcol)
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(dir)
  }

  /** Balanced, size-capped shard write: AQE's REBALANCE hint splits
    * oversized and coalesces undersized post-shuffle partitions to the
    * advisory size at runtime (no counting pass, skew handled), and
    * `maxRecordsPerFile` hard-caps what one file can hold. The answer
    * to "a 100 TB job must not emit 7 files of 3 TB next to 40k of
    * 2 MB" — downstream scan parallelism is set by this layout.
    */
  def writeSizedShards(df: DataFrame, dir: String,
      maxRecordsPerFile: Long): Unit =
    df.hint("rebalance")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(dir)

  /** Target file size of store compaction: [[compact]]'s and
    * [[compactGenerational]]'s default, and the keyed ingest gates'
    * store target (twice their graduation threshold). 512 MB: large
    * enough that scan parallelism is set by data size, small enough
    * that one generation merge (at most one residue file plus
    * ~`maxStoreFiles` batch appends) stays a bounded fraction of a
    * steady batch.
    */
  val StoreTargetBytes: Long = 512L << 20

  /** Compact a parquet directory into files near `targetBytes` — the
    * ACTION behind `Statistics.fileSizeProfile`'s small-file warning.
    * The target file count comes from the directory's on-disk byte
    * total (FS metadata, no data pass), then one rebalance-hinted
    * write re-lays the data: AQE splits oversized and coalesces
    * undersized post-shuffle partitions at runtime, so skewed inputs
    * still land near the target without a counting job. Writes to
    * `destDir` (never in place — the source stays readable until the
    * caller swaps directories), preserving any Hive `col=value`
    * subdirectory columns Spark surfaces on read.
    *
    * A 40k-small-file directory is a scheduler DoS at 100 TB scan time
    * (one task per file, open/footer overhead dominating); compaction
    * is the standing maintenance job that keeps scan parallelism set
    * by data size, not by ingest batch boundaries.
    *
    * Sizing uses the source's on-disk (compressed) byte total, so a
    * round-robin `repartition` to `ceil(total / targetBytes)`
    * partitions lands files near `targetBytes` at similar re-written
    * compression — unlike AQE's advisory partition size, which tracks
    * in-memory shuffle bytes and over-shoots parquet files ~3-5×.
    *
    * @return the file count written (one per partition)
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      destDir: String, targetBytes: Long = StoreTargetBytes): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val files = math.max(1L,
      (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(dir)
      .repartition(files)
      .write.mode("overwrite").parquet(destDir)
    files
  }

  /** Visible (non-hidden) file count of a store directory — the
    * compaction trigger's input. One FS listing; counts data files
    * only (`_`/`.`-prefixed markers and subdirectories excluded).
    */
  def dataFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    listDataFiles(spark, dir).size

  private def listDataFiles(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Count of SUB-GRADUATION data files (size < `graduationBytes`) —
    * the [[compactGenerational]] trigger's input. Counting only files
    * the generational merge would actually fold keeps the trigger
    * RELATIVE TO THE POST-COMPACTION FLOOR: graduated files (one per
    * `targetBytes` of corpus — unavoidable under any layout) never
    * count, so a store can grow past `maxStoreFiles × targetBytes`
    * without the trigger wedging open. The round-12 trigger compared
    * the RAW file count against the cap, so past ~cap × targetBytes of
    * store the post-compaction count stayed above the cap and every
    * micro-batch rewrote the whole corpus — the r12 verdict's
    * compaction wall.
    */
  def smallFileCount(spark: org.apache.spark.sql.SparkSession,
      dir: String, graduationBytes: Long): Int =
    listDataFiles(spark, dir).count(_.getLen < graduationBytes)

  /** Suffix of [[compactGenerational]]'s staging directory and the
    * commit-manifest filename it drops in the live store (hidden from
    * parquet readers by its `_` prefix, same rule as `_SUCCESS`).
    */
  private[graft] val GenStageSuffix = "__gen"
  private[graft] val GenManifest = "_graft_gen_commit"

  /** The staging directory of a [[compactGenerational]] on `dir`: an
    * UNDERSCORE-PREFIXED sibling with any `=` SANITIZED out of the
    * name, so that when `dir` is a LEAF of a partitioned store (a PQ
    * `centroid_id=` cell), the staging never pollutes the parent's
    * partition discovery. Both halves matter: an unhidden
    * `centroid_id=5__gen` sibling would be parsed as a partition
    * value, and Spark's hidden-path filter EXEMPTS `_`/`.` names that
    * contain `=` (so `_centroid_id=5__gen` still surfaces as a
    * conflicting partition column — measured, the spec pins the
    * sanitized form). The sanitized name is `=`-free, so the ordinary
    * `_SUCCESS`-style hidden rule applies during every fold window and
    * every crash-to-recovery window.
    *
    * The encoding is COLLISION-FREE (`~` → `~t` first, then `=` →
    * `~e`): the round-13 single-character `=` → `~` mapping was not
    * injective, so two sibling stores whose names differ only by `=`
    * vs `~` (e.g. leaves `a=b` and `a~b`) shared one staging directory
    * — interleaved compactions of both would clobber each other's
    * staging, and the no-manifest recovery path could delete the OTHER
    * store's live staging (round-13 advisor finding). A crashed
    * staging directory written under the old encoding is not found by
    * recovery after this change; it is hidden (`_`-prefixed, `=`-free)
    * and harmless, and the next compaction stages fresh.
    */
  private[graft] def genStageDir(dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val parent = p.getParent
    if (parent == null) dir + GenStageSuffix
    else new org.apache.hadoop.fs.Path(parent,
      "_" + p.getName.replace("~", "~t").replace("=", "~e") +
        GenStageSuffix).toString
  }

  /** The planned file movement of one staged generational compaction:
    * `oldNames` are the live store's sub-graduation files the merge
    * folded (deleted at commit), `newNames` the staged merged files
    * (moved into the live store at commit).
    */
  private[graft] final case class StagedGen(oldNames: Seq[String],
      newNames: Seq[String])

  /** GENERATIONAL (LSM-tiered) in-place compaction — the maintenance
    * step for an append-heavy store that must scale past
    * `maxStoreFiles × targetBytes` bytes, where a whole-store rewrite
    * hits the r12 wall (every trigger rewrites the entire corpus,
    * O(corpus) per micro-batch). Here each compaction
    * folds ONLY the sub-graduation files — files smaller than
    * `targetBytes / 2`, i.e. recent one-file batch appends plus the
    * previous generations' still-growing residue — into files near
    * `targetBytes`; files at or above the graduation threshold are
    * NEVER re-read or rewritten. Per-compaction work is therefore
    * bounded by (trigger count × append size + targetBytes) —
    * independent of store size — and a byte is rewritten at most
    * ~log2(targetBytes / (2 × appendBytes × triggerCount)) times on
    * its way to graduation (each merge at least doubles the residue it
    * rides in), not once per trigger for the store's lifetime.
    *
    * The live directory NEVER disappears: the merge writes to a
    * `<dir>__gen` staging directory, a one-file commit manifest
    * ([[GenManifest]], created via tmp-write + rename) records the
    * exact old→new file movement, staged files move in
    * under their job-unique names, and the folded originals are
    * deleted. A crash at any point is repaired by
    * [[recoverGenerational]]: before the manifest exists the store is
    * untouched (stray staging deleted); once the manifest exists the
    * commit ROLLS FORWARD idempotently.
    *
    * CONSISTENCY IS SINGLE-OWNER ONLY (round-13 advisor finding): the
    * duplicate-visible window — staged files moved in before the
    * folded originals are deleted — opens during EVERY routine commit,
    * not only in the crash-to-recovery window. A reader concurrent
    * with ANY commit may transiently double-count rows. Generational
    * compaction is read-consistent only under the single-owner read
    * schedule (recovery-before-read, then no commit until the read
    * finishes), which the streaming gates satisfy by construction
    * (one sequential foreachBatch owns the store and runs recovery
    * before every read); it is NOT a concurrent-reader-safe store.
    *
    * Flat stores only: a partitioned directory is refused.
    *
    * @return files written (0 when below two sub-graduation files —
    *         nothing worth folding)
    */
  def compactGenerational(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytes: Long = StoreTargetBytes): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    stageGenerational(spark, dir, targetBytes) match {
      case None => 0
      case Some(g) => commitGenerational(spark, dir, g); g.newNames.size
    }
  }

  /** The merge half of [[compactGenerational]]: fold the current
    * sub-graduation files into `<dir>__gen`, touching nothing in the
    * live store. Returns the planned movement for
    * [[commitGenerational]], or None when fewer than two
    * sub-graduation files exist.
    */
  private[graft] def stageGenerational(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      targetBytes: Long): Option[StagedGen] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(d), s"compactGenerational: $dir does not exist")
    require(!fs.listStatus(d).exists(_.isDirectory),
      s"compactGenerational: $dir is partitioned — flat stores only")
    require(!fs.exists(new org.apache.hadoop.fs.Path(dir, GenManifest)),
      s"compactGenerational: uncommitted manifest in $dir — run " +
        "recoverGenerational first")
    val grad = math.max(1L, targetBytes / 2)
    val small = listDataFiles(spark, dir).filter(_.getLen < grad)
    if (small.size < 2) None
    else {
      val stage = new org.apache.hadoop.fs.Path(genStageDir(dir))
      fs.delete(stage, true)
      val bytes = small.map(_.getLen).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      spark.read.parquet(small.map(_.getPath.toString): _*)
        .repartition(n)
        .write.mode("overwrite").parquet(genStageDir(dir))
      // staged part-file names carry the write job's UUID — unique
      // against everything already in the live store, so the commit
      // renames can never clobber
      val newNames = fs.listStatus(stage).toSeq.filter { st =>
        val nm = st.getPath.getName
        st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
      }.map(_.getPath.getName)
      Some(StagedGen(small.map(_.getPath.getName), newNames))
    }
  }

  /** The commit half of [[compactGenerational]] — metadata-only: write
    * the manifest (the commit point), move staged files in, delete the
    * folded originals, clean up. Idempotent from the manifest on; a
    * crash anywhere after the manifest rename is completed by
    * [[recoverGenerational]]'s roll-forward.
    */
  private[graft] def commitGenerational(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      g: StagedGen): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(dir, GenManifest)
    val tmp = new org.apache.hadoop.fs.Path(dir, GenManifest + ".tmp")
    val body = (g.oldNames.map("old " + _) ++ g.newNames.map("new " + _))
      .mkString("", "\n", "\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // the rename IS the commit: a manifest either exists complete or
    // not at all — recovery never has to adjudicate a partial one
    if (!fs.rename(tmp, manifest))
      throw new java.io.IOException(
        s"compactGenerational: rename $tmp -> $manifest failed")
    applyGen(fs, dir, g)
  }

  /** Roll a committed manifest forward. Every step skips work already
    * done, so replaying after a crash at any point converges.
    */
  private def applyGen(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      g: StagedGen): Unit = {
    val stage = new org.apache.hadoop.fs.Path(genStageDir(dir))
    g.newNames.foreach { n =>
      val src = new org.apache.hadoop.fs.Path(stage, n)
      val dst = new org.apache.hadoop.fs.Path(dir, n)
      if (fs.exists(src)) {
        if (fs.exists(dst)) { fs.delete(src, false); () } // replayed move
        else if (!fs.rename(src, dst))
          throw new java.io.IOException(
            s"generational commit: rename $src -> $dst failed")
      } else require(fs.exists(dst),
        s"generational commit: staged file $n missing from both $stage " +
          s"and $dir — manifest does not match on-disk state")
    }
    g.oldNames.foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(dir, n), false)
    }
    fs.delete(new org.apache.hadoop.fs.Path(dir, GenManifest), false)
    fs.delete(stage, true)
    ()
  }

  /** [[recoverGenerational]] across every LEAF directory of a
    * PARTITIONED store (the PQ codes table's `centroid_id=` cells; any
    * future hive-laid segment store) — the STORE OWNER's post-crash
    * entry. The ingest gate heals only the cells its batches touch, so
    * a crashed per-cell commit in a cell no later batch lands in would
    * otherwise stay unhealed indefinitely, and a serving query over it
    * would see the duplicate-visible window forever. Run this once at
    * serving startup / owner restart; per-serve-call recovery is NOT
    * the design (it would pay a listing + two metadata probes per leaf
    * per call). Returns the number of leaves actually repaired.
    */
  def recoverPartitionedGenerational(
      spark: org.apache.spark.sql.SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .count(st => recoverGenerational(spark, st.getPath.toString))
  }

  /** Repair an interrupted [[compactGenerational]] — run before every
    * read of a generationally-compacted store (the streaming gates do,
    * each batch). No manifest: the compaction never committed — delete
    * any stray staging directory, the store is untouched (returns
    * false). Manifest present: the commit point passed — parse it and
    * ROLL FORWARD (move remaining staged files in, delete the folded
    * originals), returning true. Cost on the healthy path: two
    * metadata existence checks.
    */
  def recoverGenerational(spark: org.apache.spark.sql.SparkSession,
      dir: String): Boolean = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(dir, GenManifest)
    val stage = new org.apache.hadoop.fs.Path(genStageDir(dir))
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val body = try {
        val bytes = new Array[Byte](fs.getFileStatus(manifest).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, "UTF-8")
      } finally in.close()
      val lines = body.split("\n").toSeq.filter(_.nonEmpty)
      val g = StagedGen(
        lines.filter(_.startsWith("old ")).map(_.stripPrefix("old ")),
        lines.filter(_.startsWith("new ")).map(_.stripPrefix("new ")))
      applyGen(fs, dir, g)
      true
    } else {
      // also reap a stale manifest tmp: its commit never happened
      fs.delete(new org.apache.hadoop.fs.Path(dir, GenManifest + ".tmp"),
        false)
      if (fs.exists(stage)) fs.delete(stage, true)
      false
    }
  }

  /** Hive-style directory partitioning (`dir/col=value/...`): the
    * layout for low-cardinality pruning columns (language, date,
    * source). Readers with an equality/IN predicate on `cols` touch
    * only matching directories — partition pruning happens before any
    * file is opened. Combine with [[writeSizedShards]] semantics via
    * `maxRecordsPerFile` to keep per-directory files bounded.
    */
  def writeHivePartitioned(df: DataFrame, dir: String, cols: Seq[String],
      maxRecordsPerFile: Long = 0L): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(cols: _*)
      .parquet(dir)
}
