package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.Trigger

import graft.{GraftSession, SparkEntry, Tables}
import graft.agg.Statistics
import graft.enrich.{Enricher, SyntheticFetcher}
import graft.pipeline.{Cursor, Pipelines}
import graft.streaming.EventStreams

/** Benchmark JVM: sets up a session, runs one workload through the
  * program's public functions, and writes `result.json` into the run
  * directory. It judges nothing — `run.py` checks the recorded facts
  * and computes every metric.
  *
  *     Harness <run-dir> <launch-ms>    (reads <run-dir>/config.json)
  *
  * Every op is timed around the public call alone. The op's output
  * facts are read, and its temp dirs, cached frames and persistent RDDs
  * released, after the timed window closes; `pins_left` and the live
  * heap are measured before anything is released.
  */
object Harness {
  private val om = new ObjectMapper()

  final class Op(val id: Long, val kind: String, val name: String,
      val phase: String, val pass: Int) {
    var start = 0L; var end = 0L; var due = 0L
    var buildStart = 0L; var buildEnd = 0L
    var ok = true; var error: String = null
    var pinsLeft = 0; var pinsMb = 0.0; var liveHeapMb = 0.0
    var codegenClasses = 0L; var codegenMs = 0.0
    val facts = mutable.LinkedHashMap.empty[String, Any]
    def toMap: Map[String, Any] = Map("id" -> id, "kind" -> kind,
      "name" -> name, "phase" -> phase, "pass" -> pass, "start" -> start,
      "end" -> end, "due" -> due, "build_start" -> buildStart,
      "build_end" -> buildEnd, "ok" -> ok, "error" -> error,
      "pins_left" -> pinsLeft, "pins_mb" -> pinsMb, "live_heap_mb" -> liveHeapMb,
      "codegen_classes" -> codegenClasses, "codegen_ms" -> codegenMs,
      "facts" -> facts.toMap)
  }

  final class Run(val cfg: JsonNode, val runDir: String) {
    var spark: SparkSession = _
    val tracer: Option[Tracer] =
      if (cfg.get("trace").asBoolean) Some(new Tracer) else None
    var tracing = false
    val corrupt: Boolean = cfg.get("corrupt").asBoolean
    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    /** The ingest phase's interval: the stream's jobs carry no op id. */
    var ingestPhase: Option[Tracer.OpRec] = None
    private var nextId = 0L
    val fixture: String = cfg.get("fixture").asText
    private val opTimeoutMs = (cfg.get("op_timeout_s").asDouble * 1000).toLong
    private val watchdog = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { t =>
      val th = new Thread(t, "perfbench-watchdog"); th.setDaemon(true); th
    }
    def now: Long = System.currentTimeMillis()

    def startTracing(): Unit = tracer.foreach { t =>
      if (!tracing) { t.register(spark); tracing = true }
    }

    def stopTracing(): Unit = tracer.foreach { t =>
      if (tracing) { t.drain(spark); t.unregister(spark); tracing = false }
    }

    /** A traced run times three passes: untraced, traced, untraced — the
      * traced one gives the layer rows, the other two the base of
      * `trace.overhead_share`.
      */
    def tracePass(pass: Int): Unit =
      if (pass == 1) startTracing() else if (pass == 2) stopTracing()

    /** Time `body` as one op. Exceptions fail the op, never the run; an
      * op still running after `op_timeout_s` has its jobs cancelled and
      * fails as timed out. With `sampleHeap` the live heap is measured
      * after the window, before any clean-up.
      */
    def op(kind: String, name: String, phase: String, pass: Int,
        sampleHeap: Boolean)(body: Op => Unit): Op = {
      nextId += 1
      val o = new Op(nextId, kind, name, phase, pass)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val cg0 = if (tracing) Tracer.codegen() else (0L, 0.0)
      sc.setLocalProperty(Tracer.OpKey, o.id.toString)
      val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
      val timer = watchdog.schedule((() => { timedOut.set(true); sc.cancelAllJobs() }): Runnable,
        opTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      o.start = now
      try body(o)
      catch { case e: Throwable =>
        o.ok = false
        o.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      o.end = now
      timer.cancel(false)
      if (timedOut.get) { o.ok = false; o.error = s"timed out after ${opTimeoutMs / 1000} s" }
      sc.setLocalProperty(Tracer.OpKey, null)
      if (tracing) {
        val cg1 = Tracer.codegen()
        o.codegenClasses = cg1._1 - cg0._1; o.codegenMs = cg1._2 - cg0._2
      }
      val held = sc.getPersistentRDDs.filter { case (k, _) => !before.contains(k) }
      o.pinsLeft = held.size
      val heldIds = held.keySet
      o.pinsMb = sc.getRDDStorageInfo.filter(i => heldIds.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum / 1e6
      if (sampleHeap) o.liveHeapMb = liveHeapMb()
      ops += o
      o
    }

    /** Post-op cleanup, outside every timed window. */
    def release(dirs: String*): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      dirs.foreach(deleteTree)
    }
  }

  /** Heap still reachable after a full collection, in MiB: what the
    * program retains (cached blocks, pinned frames, driver state), not
    * what its allocation stream has touched. Collections 150 ms apart
    * repeat until one frees less than 1 MiB (at most five): a collection
    * queues the weak references of Spark's `ContextCleaner`, which polls
    * its queue every 100 ms and then drops the shuffle and broadcast
    * state that the next collection frees; and objects another thread (a
    * stream trigger, a listener) holds only for a moment do not count.
    */
  def liveHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = collect()
    var rounds = 1
    var freed = Double.MaxValue
    while (rounds < 5 && freed >= 1.0) {
      Thread.sleep(150)
      val next = collect()
      freed = last - next
      last = math.min(last, next)
      rounds += 1
    }
    last
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
  }

  private def countFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).filter(f => Files.isRegularFile(f) &&
      !f.getFileName.toString.startsWith(".")).count()
  }

  // ------------------------------------------------------------- set-up

  /** Set-up, timed from the launch of the JVM: session, table
    * registration, warm-up query on the tiny fixture. The workload's
    * prime pass follows; `setup_s` runs until the first timed op starts.
    */
  private def setup(r: Run, launchMs: Long): Map[String, Any] = {
    val t0 = launchMs
    r.spark = GraftSession.local("perfbench")
    r.spark.sparkContext.setLogLevel("ERROR")
    val t1 = r.now
    Tables.names.foreach { n =>
      if (n == "events") Tables.events(r.spark, r.fixture).schema
      else Tables.load(r.spark, r.fixture, n).schema
    }
    val t2 = r.now
    SparkEntry.queries(r.cfg.get("warmup_query").asText)(r.spark,
      r.cfg.get("tiny").asText).write.format("noop").mode("overwrite").save()
    val t3 = r.now
    Map("launch_ms" -> t0, "start_s" -> (t1 - t0) / 1e3, "tables_s" -> (t2 - t1) / 1e3,
      "warmup_s" -> (t3 - t2) / 1e3, "total_s" -> (t3 - t0) / 1e3)
  }

  // ----------------------------------------------------------- pipeline

  private def pipelinePass(r: Run, p: JsonNode, urls: String, nUrls: Int,
      phase: String, pass: Int): Unit = {
    val base = s"${r.runDir}/pipe/$phase-$pass"
    val cfg = Enricher.Config(backoffMs = 1)
    val fetcher = () => new SyntheticFetcher
    val canary = r.op("canary", "canary", phase, pass, phase == "timed") { o =>
      val (ok, avg) = Pipelines.canary(r.spark, urls, s"$base/canary",
        fetcher, p.get("canary_records").asInt, cfg)
      o.facts ++= Seq("accepted" -> ok, "avg_s" -> avg)
    }
    val tPlan0 = System.nanoTime()
    val plan = Pipelines.plan(nUrls, p.get("segments").asInt,
      canary.facts.get("avg_s").map(_.asInstanceOf[Double]).getOrElse(0.0))
    val planS = (System.nanoTime() - tPlan0) / 1e9
    val cursorPath = s"$base/cursor.txt"
    var cur = Cursor.read(cursorPath)
    var batch = 0
    val batches = mutable.ArrayBuffer.empty[Op]
    var failed = false
    while (!failed && cur.hasMore && cur.totalProcessed < nUrls) {
      val before = cur
      // batches repeat the same work: the pass's last one samples the heap
      val last = cur.totalProcessed + p.get("batch_size").asInt >= nUrls
      val o = r.op("batch", s"batch$batch", phase, pass, phase == "timed" && last) { _ =>
        cur = Pipelines.processor(r.spark, urls, s"$base/out", fetcher,
          p.get("batch_size").asInt, cursorPath, nUrls, enrichConfig = cfg)
      }
      val dead = cur.skippedCount - before.skippedCount
      o.facts ++= Seq("start_index" -> before.nextIndex,
        "consumed" -> (cur.totalProcessed - before.totalProcessed),
        "produced" -> (cur.totalProcessed - before.totalProcessed - dead),
        "dead" -> dead, "failed_attempts" -> (cur.errorCount - before.errorCount))
      r.release()
      batches += o
      failed = !o.ok
      batch += 1
    }
    if (r.corrupt) {
      // deliberately damage the output: drop one shard file
      Statistics.listParquetFilesRaw(r.spark, s"$base/out/shards").headOption
        .foreach(f => Files.deleteIfExists(Paths.get(new java.net.URI(f._1))))
    }
    val agg = r.op("aggregate", "aggregator", phase, pass, phase == "timed") { o =>
      val st = Pipelines.aggregator(r.spark, s"$base/out/shards", s"$base/agg")
      o.facts("total_records") = st.totalRecords
    }
    agg.facts("statistics_json") =
      scala.util.Try(Files.readString(Paths.get(s"$base/agg/statistics.json"))).getOrElse("")
    agg.facts("shard_rows") =
      scala.util.Try(r.spark.read.parquet(s"$base/out/shards").count()).getOrElse(-1L)
    val tl = System.nanoTime()
    val listed = scala.util.Try(
      Statistics.listParquetFilesRaw(r.spark, s"$base/out/shards")).getOrElse(Seq.empty)
    agg.facts("listing_s") = (System.nanoTime() - tl) / 1e9
    agg.facts("shard_files") = listed.size
    val filesWritten = countFiles(base)
    r.release(base)
    val all = Seq(canary) ++ batches ++ Seq(agg)
    def dur(o: Op) = (o.end - o.start) / 1e3
    r.passes += Map("kind" -> "pipeline", "phase" -> phase, "pass" -> pass,
      "urls" -> nUrls, "urls_file" -> urls,
      "canary_s" -> dur(canary), "plan_s" -> planS,
      "plan_segments" -> plan.segments.size,
      "process_s" -> batches.map(dur).sum, "aggregate_s" -> dur(agg),
      "wall_s" -> (all.map(dur).sum + planS), "files_written" -> filesWritten,
      "op_ids" -> all.map(_.id))
  }

  private def pipeline(r: Run): Unit = {
    val p = r.cfg.get("pipeline")
    pipelinePass(r, p, p.get("prime_list").asText, p.get("prime_urls").asInt,
      "prime", 0)
    p.get("url_lists").asScala.map(_.asText).zipWithIndex.foreach { case (urls, i) =>
      r.tracePass(i)
      pipelinePass(r, p, urls, p.get("urls_per_pass").asInt, "timed", i)
    }
  }

  // ------------------------------------------------------------ queries

  /** Verify's order-independent fingerprint: per column, the non-null
    * count and the exact decimal sum of 60-bit md5 prefixes of the value
    * cast to string.
    */
  private def digest(df: DataFrame): (Long, String) = {
    val aggs = df.columns.toSeq.zipWithIndex.flatMap { case (c, i) =>
      val s = col(s"`$c`").cast("string")
      Seq(count(s).as(s"n$i"),
        sum(conv(substring(md5(s), 1, 15), 16, 10).cast("decimal(38,0)")).as(s"h$i"))
    }
    val row = df.agg(count(lit(1)).as("rows"), aggs: _*).head()
    val cols = df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      s"$c:${row.get(1 + 2 * i)}:${row.get(2 + 2 * i)}"
    }
    (row.getLong(0), cols.mkString("|"))
  }

  /** One query op: build the DataFrame and collect its rows. The rows
    * the timed execution returned are digested after the window closes,
    * so every op, prime or timed, has its output checked.
    */
  private def queryOp(r: Run, name: String, phase: String, pass: Int,
      sampleHeap: Boolean): Op = {
    var out: Array[Row] = null
    var schema: StructType = null
    val o = r.op("query", name, phase, pass, sampleHeap) { o =>
      o.buildStart = r.now
      val df = SparkEntry.queries(name)(r.spark, r.fixture)
      o.buildEnd = r.now
      schema = df.schema
      out = df.collect()
    }
    if (out != null) {
      // --corrupt: deliberately damage the output, one duplicated row
      val rows = if (r.corrupt) out ++ out.take(1) else out
      val (n, d) = digest(r.spark.createDataFrame(rows.toSeq.asJava, schema))
      o.facts ++= Seq("rows" -> n, "digest" -> d)
    }
    o
  }

  private def queryPasses(r: Run, names: Seq[String], passes: Int): Unit = {
    names.foreach { n => queryOp(r, n, "prime", 0, sampleHeap = false); r.release() }
    (0 until passes).foreach { pass =>
      r.tracePass(pass)
      val ps = r.now
      // every pass runs the same queries: the last one samples the heap
      val ids = names.map { n =>
        val o = queryOp(r, n, "timed", pass, sampleHeap = pass == passes - 1)
        r.release(); o
      }
      r.passes += Map("kind" -> "queries", "phase" -> "timed", "pass" -> pass,
        "wall_s" -> ids.map(o => (o.end - o.start) / 1e3).sum,
        "clock_s" -> (r.now - ps) / 1e3, "op_ids" -> ids.map(_.id))
    }
  }

  // ------------------------------------------------------------- ingest

  /** Open-loop near-dup ingest: one generator thread moves pre-staged
    * files into the stream's input dir on a fixed schedule while
    * `ingestNearDupKeyed` consumes them with a processing-time trigger.
    */
  private def ingest(r: Run): Unit = {
    val g = r.cfg.get("ingest")
    val base = s"${r.runDir}/ingest"
    val (corpus, keys, in, chk) = (s"$base/corpus", s"$base/keys", s"$base/in", s"$base/chk")
    val hashes = g.get("num_hashes").asInt
    val bands = g.get("bands").asInt
    val tSeed = r.now
    Tables.documents(r.spark, r.fixture).select("doc_id", "text")
      .coalesce(1).write.parquet(corpus)
    graft.ops.Dedup.corpusBandKeys(r.spark.read.parquet(corpus), "doc_id",
      "text", numHashes = hashes, bands = bands).coalesce(1).write.parquet(keys)
    Files.createDirectories(Paths.get(in))
    val corpusBefore = r.spark.read.parquet(corpus).count()
    r.extra("ingest_seed_s") = (r.now - tSeed) / 1e3
    r.release()
    val files = g.get("files").asScala.map(_.asText).toVector
    val schema = r.spark.read.parquet(files.head).schema
    val interval = g.get("interval_ms").asLong
    val triggerMs = g.get("trigger_ms").asLong
    r.startTracing()
    val q = EventStreams.ingestNearDupKeyed(r.spark, schema, in, corpus, keys,
      chk, "doc_id", "text", threshold = g.get("threshold").asDouble,
      numHashes = hashes, bands = bands,
      maxFilesPerTrigger = g.get("max_files_per_trigger").asInt,
      trigger = Trigger.ProcessingTime(triggerMs))
    // processing-time triggers fire on wall-clock multiples of the
    // interval: start the schedule just after the boundary that follows
    // the stream's first (empty) trigger, so every run offers its files at
    // the same phase of the trigger clock and they land in one batch
    val started = r.now
    while (q.isActive && q.recentProgress.isEmpty && r.now - started < 60000) Thread.sleep(10)
    val t0 = (r.now / triggerMs + 1) * triggerMs + 50
    val drops = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val gen = new Thread(() => {
      files.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * interval
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = Paths.get(f).getFileName.toString
        // stage under a dot name, then rename: the source never lists a
        // half-written file
        Files.copy(Paths.get(f), Paths.get(s"$in/.$name"), StandardCopyOption.REPLACE_EXISTING)
        Files.move(Paths.get(s"$in/.$name"), Paths.get(s"$in/$name"), StandardCopyOption.ATOMIC_MOVE)
        drops.put(name, System.currentTimeMillis())
      }
    }, "perfbench-loadgen")
    gen.setDaemon(true)
    gen.start()
    val deadline = t0 + (g.get("timeout_s").asDouble * 1000).toLong
    // done when every file is in a committed batch whose progress is out
    def done = !gen.isAlive && {
      val committed = committedFiles(chk)
      val reported = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSet
      committed.size == files.size && committed.values.forall(reported.contains)
    }
    while (q.isActive && r.now < deadline && !done) Thread.sleep(100)
    gen.join(5000)
    val progress = q.recentProgress.map(Tracer.progressMap).toVector
    val failure = q.exception.map(_.getMessage)
    // what the idle stream retains: its state, corpus and key reads
    r.extra("ingest_live_heap_mb") = liveHeapMb()
    q.stop()
    r.ingestPhase = Some(Tracer.OpRec(-1, t0, r.now))
    val fileBatch = committedFiles(chk)
    val commit = progress.filter(_("rows").asInstanceOf[Long] > 0).map(p =>
      p("batch").asInstanceOf[Long] ->
        (p("start_ms").asInstanceOf[Long] + p("trigger_ms").asInstanceOf[Long])).toMap
    if (r.corrupt)
      r.spark.read.parquet(corpus).limit(1).write.mode("append").parquet(corpus)
    val after = r.spark.read.parquet(corpus)
    val inputIds = r.spark.read.parquet(files: _*).select("doc_id")
    val present = after.select("doc_id").join(inputIds, Seq("doc_id"), "left_semi")
      .distinct().collect().map(_.getLong(0)).sorted
    // rows the stream consumed, from its offset log: numInputRows counts
    // a row once per evaluation of the micro-batch, not once per row
    val consumed = files.filter(f => fileBatch.contains(Paths.get(f).getFileName.toString))
    val ingestFacts = Map("corpus_before" -> corpusBefore,
      "corpus_rows" -> after.count(),
      "corpus_distinct_ids" -> after.select("doc_id").distinct().count(),
      "rows_in" -> (if (consumed.isEmpty) 0L else r.spark.read.parquet(consumed: _*).count()),
      "rows_in_reported" -> progress.map(_("rows").asInstanceOf[Long]).sum,
      "present_input_ids" -> present.toSeq,
      "corpus_files" -> countFiles(corpus),
      "stream_error" -> failure.orNull)
    files.zipWithIndex.foreach { case (f, i) =>
      val name = Paths.get(f).getFileName.toString
      val o = new Op(1000000L + i, "file", name, "timed", 0)
      o.due = t0 + i * interval
      o.start = o.due
      o.facts("dropped") = Option(drops.get(name)).map(_.longValue).getOrElse(0L)
      val b = fileBatch.get(name)
      o.facts("batch") = b.getOrElse(-1L)
      b.flatMap(commit.get) match {
        case Some(c) => o.end = c
        case None => o.ok = false; o.error = "file never committed"; o.end = r.now
      }
      r.ops += o
    }
    r.extra("ingest") = ingestFacts
    r.extra("stream_progress") = progress
    r.extra("ingest_phase") = r.ingestPhase.map(p => Map("start" -> p.start, "end" -> p.end))
    r.release(base)
  }

  /** File name → id of the committed micro-batch that consumed it, from
    * the file source's offset log and the stream's commit log.
    */
  private def committedFiles(chk: String): Map[String, Long] = {
    val srcLog = Paths.get(s"$chk/sources/0")
    if (!Files.isDirectory(srcLog)) Map.empty
    else Files.list(srcLog).iterator().asScala.toVector
      .filter(f => f.getFileName.toString.forall(_.isDigit) &&
        Files.exists(Paths.get(s"$chk/commits/${f.getFileName}")))
      .flatMap { f =>
        val b = f.getFileName.toString.toLong
        Files.readAllLines(f).asScala.drop(1).map { line =>
          val path = om.readTree(line).get("path").asText
          path.substring(path.lastIndexOf('/') + 1) -> b
        }
      }.toMap
  }

  private def curation(r: Run): Unit = {
    val qc = r.cfg.get("queries")
    queryPasses(r, qc.get("order").asScala.map(_.asText).toVector,
      qc.get("passes").asInt)
    ingest(r)
  }

  // --------------------------------------------------------------- main

  private def toJava(v: Any): AnyRef = v match {
    case null => null
    case None => null
    case Some(x) => toJava(x)
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toVector.asJava
    case a: Array[_] => a.toVector.map(toJava).asJava
    case d: Double => if (d.isNaN || d.isInfinite) null else Double.box(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val runDir = args(0)
    val cfg = om.readTree(new java.io.File(s"$runDir/config.json"))
    val r = new Run(cfg, runDir)
    val setups = setup(r, args(1).toLong)
    cfg.get("workload").asText match {
      case "pipeline" => pipeline(r)
      case "curation" => curation(r)
      case w => sys.error(s"unknown workload $w")
    }
    r.stopTracing()
    val trace = r.tracer.map { t =>
      val recs = r.ops.filter(o => o.phase == "timed" && o.kind != "file" && o.pass == 1).map(o =>
        Tracer.OpRec(o.id, o.start, o.end, o.buildStart, o.buildEnd)).toSeq ++ r.ingestPhase
      val (spans, counters) = t.attribute(recs)
      Map("spans" -> spans, "counters" -> counters.map { case (k, v) => k.toString -> v },
        "stream_progress" -> t.progressEvents)
    }
    val result = Map("setup" -> setups, "ops" -> r.ops.map(_.toMap),
      "passes" -> r.passes, "extra" -> r.extra, "trace" -> trace,
      "peak_rss_mb" -> peakRssMb())
    om.writeValue(new java.io.File(s"$runDir/result.json"), toJava(result))
    r.spark.stop()
  }
}
