package graft

import java.nio.file.Files

import graft.enrich.{Enricher, Fetcher, SyntheticFetcher}
import graft.model.MediaSchema

class EnrichSpec extends SparkSuite {

  private def urlDf(urls: Seq[String]) = {
    import spark.implicits._
    urls.toDF("url")
  }

  test("enrichment produces superset-schema records with metadata") {
    val urls = (0 until 20).map(i => s"https://example.org/media/$i")
    val out = Enricher.enrich(urlDf(urls), () => new SyntheticFetcher)
    val recs = out.records.collect()
    assert(out.records.schema === MediaSchema.superset)
    assert(recs.nonEmpty)
    val byName = out.records.columns.zipWithIndex.toMap
    recs.foreach { r =>
      assert(!r.isNullAt(byName("url")))
      assert(!r.isNullAt(byName("processing_time")))
      // attempt is 1 except where the synthetic one-retry injection
      // fired, and never exceeds the default maxAttempts of 2 — the
      // bare `>= 1` could not fail on any reachable code path
      assert(r.getInt(byName("attempt")) >= 1 && r.getInt(byName("attempt")) <= 2)
    }
  }

  test("transient failures are retried and recorded via attempt > 1") {
    // SyntheticFetcher fails the first attempt for urls whose md5 ends in 'f'
    val urls = (0 until 200).map(i => s"https://example.org/media/$i")
    val out = Enricher.enrich(urlDf(urls), () => new SyntheticFetcher,
      Enricher.Config(backoffMs = 1))
    import org.apache.spark.sql.functions._
    val retried = out.records.where(col("attempt") > 1).count()
    assert(retried > 0, "expected at least one retried record")
    assert(out.records.where(col("attempt") > 1 && col("error").isNotNull).count() === 0)
  }

  test("permanent failures dead-letter with reason max_attempts") {
    val urls = (0 until 400).map(i => s"https://example.org/media/$i")
    val out = Enricher.enrich(urlDf(urls), () => new SyntheticFetcher,
      Enricher.Config(backoffMs = 1))
    val dead = out.deadLetter.collect()
    assert(dead.nonEmpty, "expected md5-prefix-00 urls to dead-letter")
    assert(dead.forall(_.getAs[String]("reason") == "max_attempts"))
    assert(out.records.count() + dead.length === 400L)
  }

  test("slow fetches hit the record timeout and dead-letter") {
    class SlowFetcher extends Fetcher {
      def fetch(url: String): Map[String, String] = {
        if (url.endsWith("/7")) Thread.sleep(60000)
        Map("Media Type" -> "Mesh", "Media ID" -> "x")
      }
    }
    val urls = (0 until 10).map(i => s"https://example.org/media/$i")
    val out = Enricher.enrich(urlDf(urls), () => new SlowFetcher,
      Enricher.Config(recordTimeoutMs = 300))
    val dead = out.deadLetter.collect()
    assert(dead.length === 1)
    assert(dead.head.getAs[String]("reason") === "timeout")
    assert(dead.head.getAs[String]("url").endsWith("/7"))
    assert(out.records.count() === 9)
  }

  test("batch_index is contiguous from startIndex in input order") {
    val urls = (0 until 50).map(i => f"https://example.org/media/$i%03d")
    val out = Enricher.enrich(urlDf(urls), () => new SyntheticFetcher(
        failFirstSuffix = "zz", alwaysFailPrefix = "zz"),
      Enricher.Config(startIndex = 1000))
    import org.apache.spark.sql.functions._
    val idx = out.records.orderBy("url").select("batch_index").collect().map(_.getLong(0))
    assert(idx.toSeq === (1000L until 1050L))
  }

  test("distributedIndex assigns indices identical to the window form") {
    // 500 urls across many range partitions, deliberately fed in a
    // scrambled order with skewed-looking keys: the distributed rank
    // (range partitions + per-partition offsets, no single-partition
    // sort) must reproduce the window form's url-order global rank
    // bit-for-bit, from any input layout. windowIndexMaxRows = 0 sends
    // every non-empty frame down the distributed rank.
    val urls = scala.util.Random.shuffle(
      (0 until 500).map(i => f"https://example.org/m/${(i * 37) % 500}%03d"))
    val fetcher = () => new SyntheticFetcher(
      failFirstSuffix = "zz", alwaysFailPrefix = "zz")
    val viaWindow = Enricher.enrich(urlDf(urls), fetcher,
      Enricher.Config(startIndex = 77))
    val viaRank = Enricher.enrich(urlDf(urls.reverse), fetcher,
      Enricher.Config(startIndex = 77, windowIndexMaxRows = 0,
        numPartitions = 7))
    def pairs(out: Enricher.Enriched) =
      out.records.select("url", "batch_index").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(pairs(viaRank) === pairs(viaWindow))
    assert(pairs(viaRank).nonEmpty)
    // release drops BOTH the unified cache and the ranged pin
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    viaWindow.release(); viaRank.release()
    assert(spark.sparkContext.getPersistentRDDs.size < pinnedBefore)
  }

  test("distributedIndex matches the window form on random inputs with duplicate urls") {
    // duplicate urls are the case the fixture test above can't reach:
    // both forms break index ties WITHIN a duplicated url arbitrarily,
    // but each url's duplicates occupy the same contiguous index block
    // in url order, so the (url, batch_index) pair set is still
    // identical — the semantics a caller can rely on. A fetcher with
    // unreachable failure triggers keeps every row in `records`.
    val rnd = new scala.util.Random(7)
    val fetcher = () => new SyntheticFetcher(
      failFirstSuffix = "zzz", alwaysFailPrefix = "zzz")
    for (trial <- 1 to 3) {
      val base = (0 until 40).map(i => s"https://example.org/d/$i")
      val urls = rnd.shuffle(
        base ++ (0 until 60).map(_ => base(rnd.nextInt(base.size))))
      val viaWindow = Enricher.enrich(urlDf(urls), fetcher,
        Enricher.Config(startIndex = 5))
      val viaRank = Enricher.enrich(urlDf(rnd.shuffle(urls)), fetcher,
        Enricher.Config(startIndex = 5, windowIndexMaxRows = 0,
          numPartitions = 6))
      def pairs(out: Enricher.Enriched) =
        out.records.select("url", "batch_index").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
      val (pw, pr) = (pairs(viaWindow), pairs(viaRank))
      assert(pw === pr, s"trial $trial")
      // indices are exactly the contiguous block [startIndex, +n)
      assert(pw.map(_._2) === (5L until 5L + urls.size).toSet, s"trial $trial")
      viaWindow.release(); viaRank.release()
    }
  }

  test("oversized frames auto-switch to the distributed index path") {
    // the maxRecords-contract guard: a frame above windowIndexMaxRows
    // must take the distributed rank — the analyzed plan of the output
    // carries no Window operator (the single-partition sort is gone),
    // an in-bound frame keeps the one-job window form, and the indices
    // are the same contiguous url-order block either way
    val fetcher = () => new SyntheticFetcher(
      failFirstSuffix = "zz", alwaysFailPrefix = "zz")
    val urls = (0 until 30).map(i => f"https://example.org/w/$i%02d")
    def hasWindow(out: Enricher.Enriched) =
      out.records.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.nonEmpty
    val forced = Enricher.enrich(urlDf(urls), fetcher,
      Enricher.Config(startIndex = 3, windowIndexMaxRows = 10))
    assert(!hasWindow(forced), "oversized frame must drop the window")
    val idx = forced.records.orderBy("url").select("batch_index")
      .collect().map(_.getLong(0))
    assert(idx.toSeq === (3L until 33L))
    val inBound = Enricher.enrich(urlDf(urls), fetcher,
      Enricher.Config(startIndex = 3, windowIndexMaxRows = 30))
    assert(hasWindow(inBound), "in-contract frame keeps the window form")
    assert(inBound.records.orderBy("url").select("batch_index")
      .collect().map(_.getLong(0)).toSeq === (3L until 33L))
    // Int.MaxValue opts the probe out entirely: window form regardless
    val opted = Enricher.enrich(urlDf(urls), fetcher,
      Enricher.Config(windowIndexMaxRows = Int.MaxValue))
    assert(hasWindow(opted))
    forced.release(); inBound.release(); opted.release()
  }

  test("a limit-bounded frame keeps the window form with no probe job") {
    // an RDD-backed frame has no static row bound, so the window-bound
    // check must run its probe job; limit(n) with n <= the bound proves
    // the bound in the plan (as Sources.slice does for every processor
    // batch) and enrich() then starts no job at all. A fixed
    // numPartitions keeps Dedup.spread out of this case; the
    // default-config case below covers it.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val fetcher = () => new SyntheticFetcher(
      failFirstSuffix = "zz", alwaysFailPrefix = "zz")
    val rows = (0 until 40).map(i => Row(f"https://example.org/b/$i%02d"))
    val urls = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("url", StringType))))
    def hasWindow(out: Enricher.Enriched) =
      out.records.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.nonEmpty
    val cfg = Enricher.Config(startIndex = 3, numPartitions = 2,
      windowIndexMaxRows = 50)
    val (probed, probeJobs) = jobsDuring(Enricher.enrich(urls, fetcher, cfg))
    assert(probeJobs >= 1, "an unbounded frame must be probed")
    assert(hasWindow(probed))
    val (bounded, boundJobs) = jobsDuring(Enricher.enrich(urls.limit(30),
      fetcher, cfg.copy(windowIndexMaxRows = 30)))
    assert(boundJobs === 0, s"$boundJobs job(s) for a limit-bounded frame")
    assert(hasWindow(bounded), "in-bound frame keeps the window form")
    assert(bounded.records.select("batch_index").collect().map(_.getLong(0))
      .sorted.toSeq === (3L until 33L))
    probed.release(); bounded.release()
  }

  test("default config: a limit-bounded frame starts no job, not even a partition probe") {
    // no numPartitions: the fetch is spread from the window's known
    // single partition, so nothing plans or runs the window to count it
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val rows = (0 until 40).map(i => Row(f"https://example.org/p/$i%02d"))
    val urls = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("url", StringType)))).limit(30)
    val (out, jobs) = jobsDuring(Enricher.enrich(urls,
      () => new SyntheticFetcher(failFirstSuffix = "zz", alwaysFailPrefix = "zz"),
      Enricher.Config(startIndex = 3, windowIndexMaxRows = 30)))
    assert(jobs === 0, s"$jobs job(s) for a limit-bounded frame")
    assert(out.records.select("batch_index").collect().map(_.getLong(0))
      .sorted.toSeq === (3L until 33L))
    out.release()
  }

  test("window-indexed sinks write one file; the distributed rank one per fetch partition") {
    val urls = (0 until 60).map(i => f"https://example.org/s/$i%02d")
    val fetcher = () => new SyntheticFetcher(
      failFirstSuffix = "zz", alwaysFailPrefix = "zz")
    def files(out: Enricher.Enriched): Int = {
      val dir = Files.createTempDirectory("graft-enrich-sink").resolve("shards")
      graft.io.Sinks.appendParquet(out.records, dir.toString)
      out.release()
      dir.toFile.listFiles().count(_.getName.startsWith("part-"))
    }
    assert(files(Enricher.enrich(urlDf(urls), fetcher,
      Enricher.Config(numPartitions = 3))) === 1)
    assert(files(Enricher.enrich(urlDf(urls), fetcher,
      Enricher.Config(numPartitions = 3, windowIndexMaxRows = 0))) === 3)
  }

  test("media-type-conditional columns: offered section fields masked by type") {
    // a fetcher that OFFERS a volumetric-only field on EVERY page: the
    // P5 masking must null it for non-volumetric types and keep it for
    // volumetric. (With SyntheticFetcher — which never emits section
    // fields — the old all-null assertion held with or without masking.)
    class OfferingFetcher extends graft.enrich.Fetcher {
      private val inner = new SyntheticFetcher
      override def fetch(url: String): Map[String, String] =
        inner.fetch(url) + ("Slice Thickness" -> "0.05")
      override def close(): Unit = inner.close()
    }
    val urls = (0 until 100).map(i => s"https://example.org/media/$i")
    val out = Enricher.enrich(urlDf(urls), () => new OfferingFetcher,
      Enricher.Config(backoffMs = 1))
    import org.apache.spark.sql.functions._
    val mesh = out.records.where(col("media_type") === "Mesh")
    val vol = out.records.where(col("media_type") === "Volumetric Image Series")
    assert(mesh.count() > 0 && vol.count() > 0)
    // offered everywhere; kept ONLY where the type's sections include it
    assert(mesh.where(col("slice_thickness").isNotNull).count() === 0)
    assert(vol.where(col("slice_thickness").isNull ||
      col("slice_thickness") =!= "0.05").count() === 0)
  }
}
