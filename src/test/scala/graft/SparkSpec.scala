package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — suites
  * run sequentially under sbt's forked test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      // the string-config path users take to enable the SQL surface
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The Spark jobs `body` schedules, counted by a listener between two
    * marker jobs: events reach a listener in posting order, so once the
    * closing marker is seen every job `body` started has been counted.
    * With `outsideSql`, only jobs that run outside any SQL execution —
    * the metadata jobs a file-source read schedules: listing and footer
    * inference. */
  def jobsDuring[A](body: => A, outsideSql: Boolean = false): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-during-${java.util.UUID.randomUUID()}"
    val markers = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == tag))
          markers.incrementAndGet()
        else if (markers.get() == 1 && !(outsideSql &&
            props.exists(_.getProperty("spark.sql.execution.id") != null)))
          jobs.incrementAndGet()
      }
    }
    def marker(seen: Int): Unit = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (markers.get() < seen && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      assert(markers.get() == seen, "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      marker(1)
      val out = body
      marker(2)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
