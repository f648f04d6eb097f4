package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's recommended configuration —
  * one place where local test runs and cluster deployments agree.
  *
  * Cluster deployments set master/executor topology externally and get
  * the same SQL behavior by passing
  * `spark.sql.extensions=graft.functions.GraftExtensions` (injected here
  * too, so `graft_*` expressions and the Jaccard rewrite exist in every
  * derived session, not just ones that touched [[Tables]]).
  */
object GraftSession {

  /** env-tunable knobs shared by Verify/Bench/CLI. Defaults to every
    * core on the box (local[32] on the reference test machine) — the
    * session's thread count AND spark.sql.shuffle.partitions, so local
    * runs exercise real parallelism (a low hardcoded default serializes
    * every backoff/sleep-bearing stage and hides skew).
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — read as epoch-ns Long
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // test-SF files are single-digit MB; 128m would scan one-task.
      // Cluster runs override (or unset) for production file sizes.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"))
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // whole-stage-codegen class cache (static conf, default 100
      // entries): a workload cycling through >100 distinct plans —
      // the 165-query bench suite, a multi-query pipeline, any busy
      // shared session — evicts every entry between revisits and
      // re-pays Janino compilation per plan per cycle (measured: the
      // round-10 interleaved bench read a diffuse ~0.25 s/query over
      // back-to-back iterations, ~40 s across the suite). Compiled
      // classes are KB-sized; 5000 entries is a few hundred MB ceiling
      // on a driver that budgets GBs for broadcasts.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config(LocalFileSystemConf)

  /** Writes on `file:` paths go through [[graft.io.NioLocalFileSystem]],
    * which sets permissions without forking `chmod` per created file and
    * directory (the stock local filesystem forks when libhadoop's native
    * IO is missing). A session default, not an option: the permissions
    * it sets are the stock filesystem's.
    */
  val LocalFileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName)

  /** Local session sized by SPARK_GRAFT_CPUS (the shape Verify/Bench and
    * the CLI run with; SPARK_MASTER overrides for a real cluster).
    */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ------------------------------------------------------- X5 cancellation
  //
  // The reference's only operational kill switch is a workflow that
  // cancels every in-flight processor/coordinator/aggregator run
  // (cancel_workflows.yml:22-61). Spark's analog is job groups: tag each
  // pipeline's jobs with its group id, and a cancel request aborts every
  // running stage of that group (interrupting executor threads).

  /** The three pipeline group ids, mirroring the reference's cancel list. */
  val PipelineGroups: Seq[String] =
    Seq("graft-processor", "graft-coordinator", "graft-aggregator")

  /** Run `body`'s jobs under a cancellable group tag. */
  def runCancellable[T](spark: SparkSession, groupId: String,
      description: String = "")(body: => T): T = {
    spark.sparkContext.setJobGroup(groupId, description, interruptOnCancel = true)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Cancel every running job of one group. */
  def cancel(spark: SparkSession, groupId: String): Unit =
    spark.sparkContext.cancelJobGroup(groupId)

  /** The kill switch: cancel all graft pipeline groups
    * (cancel_workflows.yml's loop over its three workflows).
    */
  def cancelAll(spark: SparkSession,
      groups: Seq[String] = PipelineGroups): Unit =
    groups.foreach(cancel(spark, _))
}
