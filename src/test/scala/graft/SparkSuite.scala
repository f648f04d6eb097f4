package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM-wide — Spark
  * session startup dominates test time otherwise).
  */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the sessions' fork-free local filesystem, so every spec writes
      // through the filesystem production runs use
      .config(GraftSession.LocalFileSystemConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  def sfDir: String = TestSpark.sfDir

  /** `body`'s result and the number of Spark jobs it started. Jobs are
    * told apart by a thread-local property `body` inherits (so jobs of
    * other threads don't count); the listener bus is asynchronous, so a
    * marker job run after `body` — delivered in order — flushes it.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val (r, jobs, _) = scheduledDuring(body)
    (r, jobs)
  }

  /** `body`'s result and the task count of every stage it submitted,
    * by stage id (stages skipped as already computed are absent) — the
    * width a stage actually ran at, told apart like [[jobsDuring]].
    */
  def stageWidthsDuring[T](body: => T): (T, Map[Int, Int]) = {
    val (r, _, widths) = scheduledDuring(body)
    (r, widths)
  }

  private def scheduledDuring[T](body: => T): (T, Int, Map[Int, Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageSubmitted}
    val sc = spark.sparkContext
    val key = "graft.spec.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val widths = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == tag + "-marker" => flushed.countDown()
          case _ =>
        }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).map(_.getProperty(key)).contains(tag))
          widths.put(s.stageInfo.stageId, s.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val r = try body finally sc.setLocalProperty(key, tag + "-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      import scala.jdk.CollectionConverters._
      (r, jobs.get, widths.asScala.toMap)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
