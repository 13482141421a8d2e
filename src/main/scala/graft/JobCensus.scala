package graft

import org.apache.spark.scheduler._
import java.util.Locale
import scala.collection.mutable

/** Profiling aid (r18, guide §1): run ONE declared query and print a
  * per-scheduled-job table — jobId, wall ms, gap ms since the previous
  * job ended (driver-side dead time), task count, and the job group /
  * description / callsite — so the lifecycle tier's job chains are
  * attributable line by line. Measurement tooling only: never touches
  * query code, never used by Bench/Verify.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=4 \
  *   sbt "runMain graft.JobCensus q_knn_index [q_more ...]"
  */
object JobCensus {
  private final case class JobRow(id: Int, start: Long, var end: Long,
    var tasks: Int, desc: String, site: String)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobCensus <queryName> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftConf.localSession(Bench.localDirFor(sfDir))
    val rows = mutable.ArrayBuffer.empty[JobRow]
    val byId = mutable.HashMap.empty[Int, JobRow]
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        val tasks = js.stageInfos.map(_.numTasks).sum
        val r = JobRow(js.jobId, js.time, 0L, tasks, desc, site)
        rows += r; byId(js.jobId) = r; ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = lock.synchronized {
        byId.get(je.jobId).foreach(_.end = je.time); ()
      }
    })
    def fmt(v: Double): String = String.format(Locale.ROOT, "%.0f", Double.box(v))
    args.foreach { qname =>
      val fn = SparkEntry.queries.getOrElse(qname,
        sys.error(s"unknown query: $qname"))
      // warm pass (JIT/class-load) then measured pass, like min-of-2
      (1 to 2).foreach { pass =>
        lock.synchronized { rows.clear(); byId.clear() }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally SparkEntry.releasePins()
        val wall = (System.nanoTime() - t0) / 1e6
        Thread.sleep(300) // let listener drain
        if (pass == 2) lock.synchronized {
          println(s"===== $qname pass$pass wall=${fmt(wall)}ms jobs=${rows.size}")
          val sorted = rows.sortBy(_.start)
          var prevEnd = 0L
          var sumDur = 0L; var sumGap = 0L
          sorted.foreach { r =>
            val dur = math.max(0L, r.end - r.start)
            val gap = if (prevEnd == 0) 0L else math.max(0L, r.start - prevEnd)
            prevEnd = math.max(prevEnd, if (r.end > 0) r.end else r.start)
            sumDur += dur; sumGap += gap
            println(f"job=${r.id}%4d dur=${dur}%5dms gap=${gap}%5dms tasks=${r.tasks}%4d  ${r.desc.take(60)}%-60s ${r.site.take(48)}")
          }
          println(s"----- $qname sum(jobDur)=${sumDur}ms sum(gap)=${sumGap}ms wall=${fmt(wall)}ms")
        }
      }
    }
    spark.stop()
  }
}
