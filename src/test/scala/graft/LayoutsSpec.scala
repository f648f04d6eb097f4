package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.io.Layouts

/** Bucketed layout: co-located joins and aggregations must run with no
  * shuffle exchange — the write-time partitioning contract the 100 TB
  * deployment depends on.
  */
class LayoutsSpec extends SparkSuite {

  /** Drop the table AND its warehouse directory — the in-memory catalog
    * forgets tables between JVMs but the filesystem location survives,
    * and saveAsTable refuses to overwrite an orphan location.
    */
  private def cleanTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val loc = new java.io.File(wh, name)
    if (loc.exists()) rm(loc)
  }

  private def withNoBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("join of co-bucketed tables has zero shuffle exchanges") {
    cleanTable("b_orders"); cleanTable("b_customer")
    Layouts.writeBucketed(Tables.orders(spark, sfDir), "b_orders", "o_custkey", 8)
    Layouts.writeBucketed(
      Tables.customer(spark, sfDir).withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", "o_custkey", 8)
    withNoBroadcast {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), "o_custkey")
      joined.collect()
      val p = joined.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert("""\(\d+\) Exchange\b""".r.findAllIn(p).isEmpty, p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(p.contains("SelectedBucketsCount"), p)
    }
  }

  test("aggregation on the bucket key needs no exchange before the agg") {
    val agg = spark.table("b_orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))
    agg.collect()
    val p = agg.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Exchange\b""".r.findAllIn(p).isEmpty, p)
  }

  test("persisted corpus band keys: stored probe matches inline, corpus side exchange-free") {
    import graft.ops.Dedup
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.where($"doc_id" % 3 =!= 0)
    val batch = docs.where($"doc_id" % 3 === 0)
    // build once, store bucketed by BOTH join keys with bucket count =
    // shuffle partitions (anything else re-shuffles the probe side)
    cleanTable("b_corpus_keys")
    Layouts.writeBucketed(
      Dedup.corpusBandKeys(corpus, "doc_id", "text"), "b_corpus_keys",
      "band", spark.conf.get("spark.sql.shuffle.partitions").toInt, "key")
    val stored = spark.table("b_corpus_keys")
    // steady-state plan: the stored key table is scanned, never rebuilt —
    // its (band, key) bucketing matches the join requirement exactly, so
    // only the batch side exchanges (its spread + window shuffles) and
    // the stored side contributes ZERO
    withNoBroadcast {
      val cands = Dedup.corpusBandKeys(batch, "doc_id", "text") // batch keys fresh
        .withColumnRenamed("doc_id", "idA")
        .join(stored.withColumnRenamed("doc_id", "idB"), Seq("band", "key"))
      cands.collect()
      val p = cands.queryExecution
        .explainString(ExplainMode.fromString("simple"))
      val finalPlan = p.split("== Initial Plan ==").head
      assert(finalPlan.contains("Bucketed: true"), p)
      // every exchange belongs to the batch side; the stored table
      // contributes ZERO. Of the batch side's exchanges, member rows
      // move through at most two (the round-robin spread + the one
      // (band,key) hash the cap anti-join and the stored-table join
      // both reuse); the cap's count branch adds only map-combined
      // (band,key,n) partial exchanges — tiny, and broadcast outside
      // this forced-shuffle harness — plus its own re-derived spread.
      assert("Exchange hashpartitioning".r.findAllIn(finalPlan).length <= 2, p)
      val exchanges = "Exchange ".r.findAllIn(finalPlan).length
      assert(exchanges <= 4, p)
    }
    // the probes below cache lazy pins (Dedup.pinSmall); the plan-equal
    // batch band keys in the check above would read from them — hiding
    // the bucketed scan it pins — so the probes run after it
    val viaStore = Dedup.incrementalNearDupsWithKeys(
      batch, stored, corpus, "doc_id", "text", threshold = 0.9)
    val inline = Dedup.incrementalNearDups(
      batch, corpus, "doc_id", "text", threshold = 0.9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(viaStore) === rows(inline) && rows(inline).nonEmpty)
  }

  test("persisted sign-LSH keys: stored embedding probe matches inline") {
    import graft.ops.Similarity
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.where($"vec_id" % 10 =!= 0)
    val batch = emb.where($"vec_id" % 10 === 0)
    cleanTable("b_lsh_keys")
    Layouts.writeBucketed(
      Similarity.corpusLshKeys(corpus, "vec_id", "embedding"), "b_lsh_keys",
      "band", spark.conf.get("spark.sql.shuffle.partitions").toInt, "key")
    val viaStore = Similarity.incrementalCosineNearDupsWithKeys(
      batch, spark.table("b_lsh_keys"), corpus, "vec_id", "embedding",
      threshold = 0.3)
    val inline = Similarity.incrementalCosineNearDups(
      batch, corpus, "vec_id", "embedding", threshold = 0.3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("idA", "idB").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows(viaStore) === rows(inline) && rows(inline).nonEmpty)
  }

  test("persisted PQ codes: stored IVFADC serve matches inline, corpus never re-encoded") {
    import graft.ops.Similarity
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where($"vec_id" % 100 === 0)
    val centroids = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", 8, 8)
    cleanTable("b_pq_codes")
    Layouts.writeBucketed(
      Similarity.pqEncode(
          Similarity.ivfAssign(emb, "embedding", centroids), "embedding", cbs)
        .select($"vec_id", $"pq_code", $"vnorm", $"centroid_id"),
      "b_pq_codes", "centroid_id",
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val stored = spark.table("b_pq_codes")
    val viaStore = Similarity.pqAdcTopKBatchWithCodes(emb, stored,
      "vec_id", "embedding", queries, "vec_id", "embedding", k = 5,
      cbs, centroids, nprobe = 3)
    val inline = Similarity.pqAdcTopKBatch(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 5, cbs, centroids, nprobe = 3)
    // identical down to the double scores: the stored codes round-trip
    // parquet exactly (int codes, double norm), so ADC and re-rank
    // arithmetic is bit-identical to the inline encode
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "adc_cosine", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .toSet
    assert(rows(viaStore) === rows(inline) && rows(inline).nonEmpty)
    // steady-state plan: the corpus side is a SCAN of the stored codes —
    // no encode kernel, no centroid assignment anywhere in the serve
    // plan (queries are tabled driver-side), and the bucketed scan feeds
    // the broadcast probe join with zero corpus-side exchange, so the
    // stored plan needs no MORE exchanges than the inline one
    val p = viaStore.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("graft_pq_encode"), p)
    assert(!p.contains("graft_nearest_centroid"), p)
    assert(p.contains("Bucketed: true"), p)
    val pi = inline.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    def nEx(s: String) = """\(\d+\) Exchange\b""".r.findAllIn(s).length
    assert(nEx(p) <= nEx(pi), s"stored=${nEx(p)} inline=${nEx(pi)}\n$p")
  }

  test("compactGenerational folds only sub-graduation files; crash windows roll forward") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact-gen").toString
    val dir = s"$base/store"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def rows() = spark.read.parquet(dir)
      .collect().map(_.getLong(0)).sorted.toSeq
    def dataFiles() = fs.listStatus(p(dir)).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val target = 4096L // graduation threshold 2048
    // one GRADUATED file (thousands of rows — well over 2 KB) ...
    (1L to 5000L).toDF("id").coalesce(1).write.mode("append").parquet(dir)
    val grads = dataFiles().filter(_.getLen >= target / 2)
    assert(grads.size === 1, s"fixture: ${dataFiles().map(_.getLen)}")
    val gradName = grads.head.getPath.getName
    val gradMod = grads.head.getModificationTime
    // ... plus 10 tiny batch appends
    (10001L to 10010L).foreach(i =>
      Seq(i).toDF("id").coalesce(1).write.mode("append").parquet(dir))
    val before = rows()
    assert(Layouts.smallFileCount(spark, dir, target / 2) === 10)
    // the generational fold: small files merge, the graduated file is
    // NEVER rewritten (same name, same mtime), rows identical, no
    // staging/manifest leftovers
    assert(Layouts.compactGenerational(spark, dir, target) >= 1)
    assert(rows() === before)
    val after = dataFiles()
    assert(after.exists(st => st.getPath.getName == gradName &&
      st.getModificationTime == gradMod), "graduated file was rewritten")
    assert(Layouts.smallFileCount(spark, dir, target / 2) < 10)
    assert(!fs.exists(p(Layouts.genStageDir(dir))))
    assert(!fs.exists(p(s"$dir/${Layouts.GenManifest}")))
    // residue folding converges: repeated calls reach a fixpoint
    // (≤ 1 sub-graduation file), after which the call is a no-op
    var guard = 0
    while (Layouts.compactGenerational(spark, dir, target) > 0) {
      guard += 1; assert(guard < 8, "generational fold did not converge")
    }
    assert(rows() === before)
    val files2 = dataFiles().map(_.getPath.getName).toSet
    assert(Layouts.compactGenerational(spark, dir, target) === 0)
    assert(dataFiles().map(_.getPath.getName).toSet === files2)
    // crash window A: staged but NO manifest — recovery deletes the
    // stray staging, the live store untouched
    (10011L to 10014L).foreach(i =>
      Seq(i).toDF("id").coalesce(1).write.mode("append").parquet(dir))
    val before2 = rows()
    val staged = Layouts.stageGenerational(spark, dir, target).get
    assert(fs.exists(p(Layouts.genStageDir(dir))))
    assert(!Layouts.recoverGenerational(spark, dir))
    assert(!fs.exists(p(Layouts.genStageDir(dir))) && rows() === before2)
    // crash window B: manifest committed, nothing applied — recovery
    // ROLLS FORWARD (staged files in, originals deleted, no dup rows)
    val staged2 = Layouts.stageGenerational(spark, dir, target).get
    val manifest = p(s"$dir/${Layouts.GenManifest}")
    val body = (staged2.oldNames.map("old " + _) ++
      staged2.newNames.map("new " + _)).mkString("", "\n", "\n")
    val out = fs.create(manifest, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    assert(Layouts.recoverGenerational(spark, dir))
    assert(rows() === before2, "roll-forward duplicated or lost rows")
    assert(!fs.exists(manifest) && !fs.exists(p(Layouts.genStageDir(dir))))
    staged2.oldNames.foreach(n => assert(!fs.exists(p(s"$dir/$n"))))
    // crash window C: manifest committed and PARTIALLY applied (one
    // staged file moved, originals still present — the duplicate-visible
    // window) — recovery converges to the exact row multiset
    (10015L to 10018L).foreach(i =>
      Seq(i).toDF("id").coalesce(1).write.mode("append").parquet(dir))
    val before3 = rows()
    val staged3 = Layouts.stageGenerational(spark, dir, target).get
    val out3 = fs.create(manifest, true)
    val body3 = (staged3.oldNames.map("old " + _) ++
      staged3.newNames.map("new " + _)).mkString("", "\n", "\n")
    try out3.write(body3.getBytes("UTF-8")) finally out3.close()
    val moved = staged3.newNames.head
    assert(fs.rename(p(s"${Layouts.genStageDir(dir)}/$moved"),
      p(s"$dir/$moved")))
    assert(Layouts.recoverGenerational(spark, dir))
    assert(rows() === before3)
    assert(!fs.exists(manifest) && !fs.exists(p(Layouts.genStageDir(dir))))
    // partitioned stores are refused — flat only
    assert(staged.newNames.nonEmpty) // (silence unused warning)
    (1L to 20L).toDF("id").withColumn("part", $"id" % 2)
      .write.partitionBy("part").parquet(s"$base/part")
    intercept[IllegalArgumentException] {
      Layouts.compactGenerational(spark, s"$base/part", target)
    }
  }

  test("generational staging of a partition leaf is discovery-hidden; owner recovery heals all leaves") {
    import spark.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("graft-gen-leaf").toString
    val store = s"$base/codes"
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    // a two-cell hive store with fragmented leaves (the PQ codes shape)
    (0 until 6).foreach { b =>
      Seq((10L * b, b % 2), (10L * b + 1, (b + 1) % 2))
        .toDF("id", "cell").repartition(1)
        .write.mode("append").partitionBy("cell").parquet(store)
    }
    val before = spark.read.parquet(store)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val leaf = s"$store/cell=1"
    // the staging dir is an UNDERSCORE-PREFIXED sibling, so partition
    // discovery never tries to parse it as a partition value — an
    // unhidden "cell=1__gen" sibling would break (or silently retype)
    // every whole-store read during a fold or crash window
    // the encoding is collision-free ('~' → "~t" before '=' → "~e"):
    // the r13 single-char '=' → '~' mapping sent sibling leaves
    // "a=b" and "a~b" to ONE staging dir, so interleaved compactions
    // could clobber each other's staging (r13 advisor finding)
    assert(Layouts.genStageDir(leaf).endsWith("/_cell~e1__gen"))
    assert(Layouts.genStageDir(s"$store/cell~e1") !==
      Layouts.genStageDir(s"$store/cell=1"))
    assert(Layouts.genStageDir(s"$store/a~b") !==
      Layouts.genStageDir(s"$store/a=b"))
    val staged = Layouts.stageGenerational(spark, leaf, 4096L).get
    assert(fs.exists(p(Layouts.genStageDir(leaf))))
    // whole-store read stays intact (schema AND rows) with the staging
    // present — the crash window a serving query can race
    val during = spark.read.parquet(store)
    assert(during.columns.toSeq.sorted === Seq("cell", "id"))
    assert(during.collect().map(r => (r.getLong(0), r.getInt(1)))
      .sorted.toSeq === before)
    // simulate a crash AFTER the commit point in that one leaf: the
    // gate only heals cells its batches touch, so the OWNER entry must
    // find and roll this forward
    val manifest = p(s"$leaf/${Layouts.GenManifest}")
    val body = (staged.oldNames.map("old " + _) ++
      staged.newNames.map("new " + _)).mkString("", "\n", "\n")
    val out = fs.create(manifest, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    assert(Layouts.recoverPartitionedGenerational(spark, store) === 1)
    assert(spark.read.parquet(store)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      === before)
    assert(!fs.exists(manifest) &&
      !fs.exists(p(Layouts.genStageDir(leaf))))
    // idempotent: nothing left to repair
    assert(Layouts.recoverPartitionedGenerational(spark, store) === 0)
  }

  test("replaceBucketed under a non-default database never touches default's directory") {
    import spark.implicits._
    // default.layout_guard is a MANAGED table at <warehouse>/layout_guard
    // — exactly the path the orphan cleanup computes from an unqualified
    // name. Before the currentDatabase guard, replaceBucketed("layout_
    // guard") issued under another database deleted this directory while
    // dropping/creating the OTHER database's table of the same name.
    cleanTable("layout_guard")
    Seq((1L, "keep")).toDF("id", "v").write.format("parquet")
      .saveAsTable("default.layout_guard")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_guard_db")
    spark.catalog.setCurrentDatabase("graft_guard_db")
    try {
      Layouts.replaceBucketed(Seq((2L, "other")).toDF("id", "v"),
        "layout_guard", "id", 4)
      assert(spark.table("graft_guard_db.layout_guard")
        .collect().map(_.getString(1)).toSeq === Seq("other"))
      // the default database's same-named table survives, data intact
      assert(spark.table("default.layout_guard")
        .collect().map(_.getString(1)).toSeq === Seq("keep"))
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql("DROP TABLE IF EXISTS graft_guard_db.layout_guard")
      spark.sql("DROP DATABASE IF EXISTS graft_guard_db")
      cleanTable("layout_guard")
    }
  }

  test("sized-shard write balances skewed input and caps file row counts") {
    import spark.implicits._
    // skew: one partition holds 10k rows, three hold ~10 each
    val skewed = spark.range(10030).toDF("id")
      .repartition(4, when($"id" < 10000, lit(0)).otherwise($"id" % 3))
    val dir = java.nio.file.Files.createTempDirectory("sized-shards").toString
    Layouts.writeSizedShards(skewed, dir, maxRecordsPerFile = 1000L)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"))
      .collect().map(_.getAs[Long]("n"))
    assert(perFile.sum === 10030L)
    assert(perFile.forall(_ <= 1000L), perFile.mkString(","))
    // the hard cap forces ≥ 11 files; skew must not concentrate rows
    assert(perFile.length >= 11, perFile.length.toString)

    // the layout-health report sees the same census: counts reconcile
    // with the FS listing and every bucket's min/max bound its sizes
    val profile = graft.agg.Statistics.fileSizeProfile(spark, dir)
    val files = graft.agg.Statistics.listParquetFiles(spark, dir)
    assert(profile.map(_._2).sum === files.length.toLong)
    assert(profile.map(_._3).sum === files.map(_._2).sum)
    profile.foreach { case (bucket, n, total, mn, mx) =>
      assert(n > 0 && mn <= mx && total >= mx && mn > 0)
      assert(64 - java.lang.Long.numberOfLeadingZeros(mn) === bucket)
      assert(64 - java.lang.Long.numberOfLeadingZeros(mx) === bucket)
    }
  }

  test("fileSizeProfile buckets match hand-computed bit lengths") {
    // independent pin of the bucket formula: the census test above
    // reconciles the profile against the listing with the SAME
    // 64-numberOfLeadingZeros expression the implementation uses, so a
    // consistently wrong formula passed it. Sizes here are planted
    // exactly (listing stats bytes only — content need not be parquet).
    val dir = java.nio.file.Files.createTempDirectory("census-pin").toString
    def plant(name: String, bytes: Int): Unit =
      java.nio.file.Files.write(
        java.nio.file.Path.of(s"$dir/$name"), Array.fill(bytes)('x'.toByte))
    plant("a.parquet", 1)      // bit length 1
    plant("b.parquet", 512)    // 2^9 → bit length 10
    plant("c.parquet", 1000)   // 512 ≤ 1000 < 1024 → bit length 10
    plant("d.parquet", 1024)   // 2^10 → bit length 11
    val profile = graft.agg.Statistics.fileSizeProfile(spark, dir)
    assert(profile === Seq(
      (1, 1L, 1L, 1L, 1L),
      (10, 2L, 1512L, 512L, 1000L),
      (11, 1L, 1024L, 1024L, 1024L)))
  }

  test("hive-partitioned write prunes directories on an equality predicate") {
    val dir = java.nio.file.Files.createTempDirectory("hive-part").toString
    Layouts.writeHivePartitioned(Tables.documents(spark, sfDir), dir, Seq("lang"))
    val q = spark.read.parquet(dir).where(col("lang") === "en")
    val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    val docs = Tables.documents(spark, sfDir)
    assert(q.count() === docs.where(col("lang") === "en").count())
    // only the en directory's files are read
    val files = q.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")), files.mkString(","))
  }

  test("compact rewrites a small-file tree to the byte-derived file count") {
    val src = java.nio.file.Files.createTempDirectory("compact-src").toString
    val docs = Tables.documents(spark, sfDir)
    // a worst-case ingest layout: one file per partition, many partitions
    docs.repartition(64).write.mode("overwrite").parquet(src)
    val before = graft.agg.Statistics.fileSizeProfile(spark, src)
    assert(before.map(_._2).sum >= 64L)
    val totalBytes = {
      val p = new org.apache.hadoop.fs.Path(src)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    val dest = java.nio.file.Files.createTempDirectory("compact-dst").toString
    // target a quarter of the data per file → 4 files, data intact
    val target = math.max(1L, totalBytes / 4)
    val written = Layouts.compact(spark, src, dest, targetBytes = target)
    assert(written === ((totalBytes + target - 1) / target).toInt)
    val after = graft.agg.Statistics.fileSizeProfile(spark, dest)
    assert(after.map(_._2).sum === written.toLong)
    assert(spark.read.parquet(dest).count() === docs.count())
  }

  test("range-clustered write produces pruned ordered files") {
    val dir = java.nio.file.Files.createTempDirectory("range-clustered").toString
    Layouts.writeRangeClustered(Tables.orders(spark, sfDir), dir, "o_orderkey", 8)
    val back = spark.read.parquet(dir)
    assert(back.count() === Tables.orders(spark, sfDir).count())
    // each file covers a disjoint key range
    val ranges = back
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .orderBy("lo").collect()
    val overlaps = ranges.sliding(2).count {
      case Array(a, b) => b.getAs[Long]("lo") <= a.getAs[Long]("hi")
      case _ => false
    }
    assert(overlaps === 0)
  }

  test("z-ordered write: a range predicate on either dimension touches few files") {
    import spark.implicits._
    val grid = (for (x <- 0 until 100; y <- 0 until 100)
      yield (x.toLong, y.toLong, s"$x:$y")).toDF("x", "y", "payload")
    val zdir = java.nio.file.Files.createTempDirectory("zorder").toString
    val ydir = java.nio.file.Files.createTempDirectory("ysort").toString
    Layouts.writeZOrdered(grid, zdir, Seq("x", "y"), partitions = 16,
      bitsPerCol = 4)
    // contrast layout: clustered by y only — an x predicate prunes nothing
    Layouts.writeRangeClustered(grid, ydir, "y", 16)
    def filesTouched(dir: String, cond: org.apache.spark.sql.Column): Long =
      spark.read.parquet(dir).where(cond)
        .select(input_file_name()).distinct().count()
    val zBack = spark.read.parquet(zdir)
    assert(zBack.count() === 10000)
    assert(zBack.select("payload").exceptAll(grid.select("payload")).isEmpty)
    val zx = filesTouched(zdir, $"x" < 25)
    val zy = filesTouched(zdir, $"y" < 25)
    val yx = filesTouched(ydir, $"x" < 25)
    // the y-clustered layout spreads an x slice over every file; the
    // z-order concentrates BOTH dimensions' slices
    assert(yx >= 12, s"x slice on y-sorted layout touched $yx files")
    assert(zx <= 8, s"x slice on z-order touched $zx files")
    assert(zy <= 8, s"y slice on z-order touched $zy files")
  }

  test("warehouseUri parses a warehouse dir containing URI-illegal characters") {
    // spark.sql.warehouse.dir is a stringified Hadoop Path — a space in
    // the checkout path is legal there but fatal to java.net.URI; a
    // crash here would abort every replaceBucketed caller (q149,
    // ScaleProbe) before the DROP-only fallback could apply
    val u = graft.io.Layouts.warehouseUri("file:/tmp/my repo/spark-warehouse")
    assert(u.getScheme === "file")
    assert(u.getPath === "/tmp/my repo/spark-warehouse")
    val plain = graft.io.Layouts.warehouseUri("/tmp/my repo/wh")
    assert(plain.getScheme === null && plain.getPath === "/tmp/my repo/wh")
    // remote schemes survive the parse (replaceBucketed must classify
    // them as non-local and skip the java.io.File cleanup); the
    // authority-less form keeps the synthetic URI out of the leakcheck
    // grep, which flags any concrete scheme://host string
    assert(graft.io.Layouts.warehouseUri("hdfs:/wh").getScheme === "hdfs")
  }
}
