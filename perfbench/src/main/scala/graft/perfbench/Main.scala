package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark, driven by a single client thread.
  *
  * `prepare` turns the generated inputs into the program's own state,
  * `warmup` runs untimed operations, `run` does the workload's fixed
  * timed work, and `check` verifies outputs after the timed region.
  * Operations report their latencies into `samples`. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def run(): Unit
  def check(): Unit
  /** One read-only operation of the workload, repeated after the checks
    * with tracing off and on to measure the tracing overhead. */
  def probe(): Unit
  /** Workload-specific result fields (already-encoded JSON values). */
  def report: Map[String, String]
  /** Per-layer values measured by the workload itself. */
  def layer: Map[String, Double]
  /** Per-layer measurements that only the traced run takes, after the
    * output checks (outside the timed region). */
  def tracedExtras(): Map[String, Double] = Map.empty
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Time `body` in ms; an exception counts the operation as failed. */
  def op(name: String)(body: => Unit): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try body
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        e.printStackTrace()
    }
    sample(name, (System.nanoTime() - t0) / 1e6)
  }
}

object Workload {
  /** SHA-256 of the rows, each rendered by `cell` and `|`-joined, sorted. */
  def digest(rows: Array[org.apache.spark.sql.Row], cell: Any => String): String = {
    val lines = rows.map(_.toSeq.map(cell).mkString("|")).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Bytes of the parquet files under the local directory `root`.
    * A plain directory walk: the Hadoop local file system's listing
    * reads each file's permissions and is far slower, which would
    * inflate the traced run's timed region. */
  def parquetBytes(root: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          java.nio.file.Files.isRegularFile(p))
        .map(java.nio.file.Files.size).sum
    } finally walk.close()
  }
}

object Main {
  private def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }

  /** Fixed single-thread spin; its wall time tracks effective CPU
    * speed, so a slow run can be told apart from a slow host. */
  private def canaryMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Highest heap-after-GC usage seen since `reset`. */
  private object HeapPeak extends NotificationListener {
    @volatile var peakBytes = 0L
    def reset(): Unit = peakBytes = 0L
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(this, null, null))
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
        if (used > peakBytes) peakBytes = used
      }
  }

  /** Tracing overhead of one operation: the median, over interleaved
    * pairs, of the workload's probe timed with tracing on (spans and
    * both listeners) minus the same probe with tracing off. None when
    * a probe fails; the failure counts against the workload. */
  private def overheadMs(spark: SparkSession, w: Workload, trace: Trace): Option[Double] = {
    val pairs = 3
    def timed(on: Boolean): Double = {
      if (on) trace.attach(spark) else trace.detach(spark)
      trace.on = on
      val t0 = System.nanoTime()
      try w.probe() finally trace.on = false
      (System.nanoTime() - t0) / 1e6
    }
    w.attempted += 1
    try {
      val diffs = (0 until pairs).map { i =>
        // alternate which side goes first, so a warming cache favours neither
        if (i % 2 == 0) { val off = timed(false); timed(true) - off }
        else { val on = timed(true); on - timed(false) }
      }.sorted
      Some(diffs(pairs / 2))
    } catch {
      case NonFatal(e) =>
        w.failed += 1
        System.err.println(s"[perfbench] overhead probe failed: $e"); e.printStackTrace()
        None
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val data = opts("data")
    val work = opts("work")
    val traced = opts("trace") == "1"
    val seed = opts("seed").toLong
    val cpus = Runtime.getRuntime.availableProcessors()

    HeapPeak.install()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark = graft.GraftConf.recommended(builder, taskSlots = cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced)
    if (traced) trace.attach(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val w: Workload = workload match {
      case "pit_serve"     => new PitServe(spark, data, work, seed, trace, opts)
      case "corpus_ingest" => new CorpusIngest(spark, data, work, seed, trace, opts)
      case other           => sys.error(s"unknown workload: $other")
    }

    // set-up, then the warm-up operations
    trace.on = false
    val t0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - t1) / 1e9
    w.samples.clear() // warm-up operations still count in attempted/failed
    trace.on = traced

    // timed region
    System.gc()
    val canary0 = canaryMs()
    val stat0 = procStat()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    HeapPeak.reset()
    val wall0 = trace.nowMs()
    val start = System.nanoTime()
    w.run()
    val timedMs = (System.nanoTime() - start) / 1e6
    val wall1 = trace.nowMs()
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    System.gc() // at least one after-GC sample, on the final state
    Thread.sleep(100) // GC notifications arrive on a service thread
    val heapPeakMb = HeapPeak.peakBytes / 1048576.0
    val stat1 = procStat()
    val canary1 = canaryMs()
    trace.on = false
    if (traced) trace.drain(spark)

    // untimed output checks
    val checkStart = System.nanoTime()
    try w.check()
    catch {
      case NonFatal(e) =>
        w.failed += 1; w.attempted += 1
        System.err.println(s"[perfbench] output check crashed: $e"); e.printStackTrace()
    }
    val checkS = (System.nanoTime() - checkStart) / 1e9
    val extras = if (!traced) Map.empty[String, Double]
      else overheadMs(spark, w, trace).map("trace.overhead_ms" -> _).toMap ++ w.tracedExtras()

    val d = stat1.zip(stat0).map { case (a, b) => a - b }
    val host = Json.obj(Seq(
      "user_jf" -> d(0).toString, "sys_jf" -> d(2).toString,
      "idle_jf" -> d(3).toString, "iowait_jf" -> d(4).toString,
      "steal_jf" -> (if (d.length > 7) d(7) else 0L).toString,
      "total_jf" -> d.sum.toString,
      "canary_ms" -> Json.arr(Seq(canary0, canary1).map(Json.num))))
    val fields = Seq(
      "workload" -> Json.str(workload),
      "cpus" -> cpus.toString,
      "session_s" -> Json.num(sessionS),
      "prepare_s" -> Json.num(prepareS),
      "warmup_s" -> Json.num(warmupS),
      "timed_ms" -> Json.num(timedMs),
      "timed_window" -> Json.arr(Seq(wall0, wall1).map(Json.num)),
      "cpu_ms" -> Json.num(cpuMs),
      "heap_peak_mb" -> Json.num(heapPeakMb),
      "check_s" -> Json.num(checkS),
      "attempted" -> w.attempted.toString,
      "failed" -> w.failed.toString,
      "host" -> host,
      "samples" -> Json.obj(w.samples.map { case (k, v) => k -> Json.arr(v.map(Json.num)) }),
      "layer" -> Json.obj((w.layer ++ extras).map { case (k, v) => k -> Json.num(v) }),
      "trace" -> (if (traced) trace.toJson else "null")) ++ w.report
    val out = new java.io.File(opts("out"))
    java.nio.file.Files.write(out.toPath, Json.obj(fields).getBytes("UTF-8"))
    spark.stop()
  }
}
