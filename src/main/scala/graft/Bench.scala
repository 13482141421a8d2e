package graft
import java.lang.management.ManagementFactory
import java.util.Locale
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Failures are NOT swallowed: a query that throws lands in the
  * `errors` map (query → per-pass error list), is omitted from the
  * `queries` map and the headline total, and the process exits
  * nonzero — a broken query can never masquerade as a fast pass.
  *
  * == Measurement methodology (r3, hardened r5) ==
  *
  * Instrumented runs showed the 5-30× per-query slowdowns that moved
  * between rounds ("the cliff moves", VERDICT r2) happen with a cold
  * JIT delta, zero GC, and a near-empty code cache: the JVM was
  * *descheduled*, not degraded. This container is a Firecracker microVM
  * and /proc/stat shows thousands of CPU-seconds of steal time —
  * bursty hypervisor contention stalls all 32 vCPUs at once, and
  * whichever query runs during a burst eats its cost.
  *
  * Therefore the bench:
  *  (a) records per-query machine evidence — steal / iowait / idle
  *      jiffies deltas plus process-CPU, JIT, GC, class-load and
  *      memory-pool deltas — so a slow number is attributable;
  *  (b) records per-query PROCESS USER-CPU (utime from /proc/self/stat)
  *      and publishes its min-across-passes in the summary line
  *      (`"cpu"` map). Wall time stays the gated metric, but user-CPU
  *      is immune to steal/idle/kernel-zero-fill contamination and is
  *      the primary regression signal round-over-round (VERDICT r4:
  *      identical bytecode ran 1.48 s and 18.9 s wall with unchanged
  *      user-CPU);
  *  (c) runs the suite SPARK_GRAFT_REPEAT (default 2) times in one JVM
  *      and reports each query's MINIMUM across passes ("policy":
  *      "min-of-N"); and
  *  (d) NOISE-GATES each pass: a pass whose machine-wide /proc/stat
  *      delta is steal-heavy (>5 % of capacity) or sys-dominated
  *      (sys > user — the kernel page-fault/zero-fill signature that
  *      contaminated BOTH r4 passes) schedules one extra pass, up to
  *      SPARK_GRAFT_MAX_REPEAT (default 4). min-of-2 alone was beaten
  *      by sustained contamination in r4; the gate buys more samples
  *      exactly when the host is loud. Per-pass verdicts land in the
  *      evidence sidecar (`"passQuality"`); and
  *  (e) times a CPU CANARY — a fixed single-thread xorshift spin — at
  *      each pass boundary. The r5d contamination mode inflated wall
  *      AND process-user-CPU 20-30× on unchanged queries while steal
  *      and sys read clean (host oversubscription the guest books as
  *      its own user time); the canary measures effective CPU speed
  *      directly, so a pass whose worst canary exceeds 1.5× the
  *      session's floor is marked contaminated and buys an extra pass
  *      like (d).
  *
  * Env knobs (profiling aids):
  *   SPARK_GRAFT_ONLY=q1,q2   restrict to named queries (unknown names abort)
  *   SPARK_GRAFT_ORDER=declared|reverse|name   execution order (default declared)
  *   SPARK_GRAFT_REPEAT=N     baseline passes (default 2; 1 = raw single pass)
  *   SPARK_GRAFT_MAX_REPEAT=N cap on noise-triggered extra passes (default 4)
  *   SPARK_GRAFT_AQE=on|off   adaptive execution (default on; "off" probes
  *                            static-plan sensitivity, VERDICT r9 #8)
  */
object Bench {

  /** The driver's per-round SF dir — shared by the env fallback AND
    * the headline-vs-isolated sidecar check (r15, ADVICE r14: two
    * hardcoded copies meant a moved default would silently classify
    * every run as isolated and let BENCH_EVIDENCE.json go stale). */
  private val DefaultSfDir = "/root/testdata/sf0.1"

  /** RAM-backed `spark.local.dir` for driver-testdata runs (r17).
    *
    * Per-thread /proc attribution + JFR native-method sampling on the
    * r16/r17 "hot window" flagged passes found the system time was the
    * HARNESS'S OWN shuffle-file churn on the virtio disk: every tiny
    * sf0.1 stage creates, mmaps, unmaps and deletes its shuffle
    * data+index files under /tmp, and on this kernel those metadata
    * ops cost ~16 s of kernel CPU per query at 32 threads — 1.6× the
    * suite's entire user CPU, which is exactly the sys>user signature
    * the noise gate (correctly) flags. Measured on q_head_mass:
    * local.dir on tmpfs drops per-query sys 17 s → 0.6 s, process cpu
    * 20.6 s → 3.4 s, wall −31%.
    *
    * Scope: ONLY the driver's small-sf testdata tree (≤ sf0.1, whole
    * inputs are MBs — shuffle volume is far below /dev/shm), and only
    * when /dev/shm has ≥ 8 GiB headroom. Scale-calibration dirs
    * (/tmp/graft_sf1..100) stay on disk: their shuffle + DISK_ONLY
    * pinned blocks are GBs and exist precisely to NOT live in memory.
    * SPARK_GRAFT_LOCAL_DIR overrides both ways (set a disk path to
    * force disk at small sf, or a tmpfs path for a scale run you know
    * fits). At 100 TB this knob is moot — a cluster's shuffle dirs
    * are provisioned local disks and the per-file cost amortizes over
    * multi-MB partitions; this is a single-box bench-geometry fix. */
  private[graft] def localDirFor(sfDir: String,
      overrideDir: Option[String] = sys.env.get("SPARK_GRAFT_LOCAL_DIR"))
      : Option[String] =
    overrideDir.filter(_.nonEmpty).orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      try {
        if (sfDir.startsWith("/root/testdata/") &&
            java.nio.file.Files.isDirectory(shm) &&
            java.nio.file.Files.getFileStore(shm).getUsableSpace > (8L << 30))
          Some("/dev/shm/graft-bench-local")
        else None
      } catch { case _: Throwable => None }
    }

  /** SPARK_GRAFT_ONLY=q1,q2: the declared queries a Bench or Verify
    * run restricts itself to; None runs all. Unknown names abort: a
    * typo'd ONLY must not masquerade as an ultra-fast green run
    * (ADVICE r2). */
  private[graft] def onlyQueries(tool: String): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty) {
        System.err.println(s"[$tool] unknown SPARK_GRAFT_ONLY names: ${unknown.mkString(",")}")
        sys.exit(2)
      }
    }
    only
  }

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in hand-written oracle SQL would
    * otherwise make the oracle checker's json.load fail. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private final case class Snap(
      compileMs: Long, gcMs: Long, loadedClasses: Long,
      codeCacheUsedMb: Long, metaspaceUsedMb: Long, heapUsedMb: Long,
      procCpuMs: Long, userJf: Long, systemJf: Long, idleJf: Long,
      iowaitJf: Long, stealJf: Long, selfUserJf: Long, selfSysJf: Long)

  /** Machine-wide jiffies from /proc/stat line 1 (USER_HZ=100):
    * user nice system idle iowait irq softirq steal. */
  private def procStat(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      finally src.close()
    } catch { case _: Throwable => Array.fill(8)(0L) }

  /** This process's (utime, stime) jiffies from /proc/self/stat.
    * comm (field 2) may contain spaces — parse from the last ')'. */
  private def procSelfStat(): (Long, Long) =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/self/stat")))
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (rest(11).toLong, rest(12).toLong)
    } catch { case _: Throwable => (0L, 0L) }

  /** Locale-independent fixed-point format: f"" interpolators use the
    * default locale, and a comma decimal separator would corrupt the
    * JSON summary line (ADVICE r4). */
  private def fmt(v: Double): String =
    String.format(Locale.ROOT, "%.3f", Double.box(v))

  private def snap(): Snap = {
    val comp = ManagementFactory.getCompilationMXBean
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val cl = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def poolMb(pred: String => Boolean): Long =
      pools.filter(p => pred(p.getName)).map(_.getUsage.getUsed).sum >> 20
    val procCpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1000000L
      case _ => 0L
    }
    val st = procStat()
    def jf(i: Int) = if (st.length > i) st(i) else 0L
    val (selfU, selfS) = procSelfStat()
    Snap(
      compileMs = if (comp != null) comp.getTotalCompilationTime else 0L,
      gcMs = gc,
      loadedClasses = cl,
      codeCacheUsedMb = poolMb(n => n.contains("CodeHeap") || n.contains("Code Cache")),
      metaspaceUsedMb = poolMb(_.contains("Metaspace")),
      heapUsedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20,
      procCpuMs = procCpu,
      userJf = jf(0), systemJf = jf(2), idleJf = jf(3),
      iowaitJf = jf(4), stealJf = jf(7),
      selfUserJf = selfU, selfSysJf = selfS)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)
    // SPARK_GRAFT_AQE=off benches with adaptive execution disabled —
    // the plan-shape sensitivity probe (VERDICT r9 #8): a suite whose
    // total collapses without AQE was leaning on runtime re-planning
    // to paper over a static-plan problem. PipelineOpsSpec already
    // sweeps row-identity under AQE on/off at spec scale; this is the
    // same sweep for sf0.1 wall time.
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "on") match {
      case "off" => false
      case "on"  => true
      case other =>
        System.err.println(s"[bench] SPARK_GRAFT_AQE must be on|off, got: $other")
        sys.exit(2); false
    }
    // the tool mains' one session (GraftConf.localSession), with
    // RAM-backed shuffle dirs at driver-testdata scale (see localDirFor)
    val spark = GraftConf.localSession(localDirFor(sfDir),
      "spark.sql.adaptive.enabled" -> aqe.toString)
    // Per-query SCHEDULED-JOB counter (r18, VERDICT r17 #1 done-bar:
    // per-lifecycle job counts land in the evidence sidecar). Listener
    // events are async but job-start is enqueued synchronously at
    // submit, and the bench runs queries sequentially — the per-query
    // delta is exact for all practical purposes. Measurement evidence
    // only: timing methodology unchanged.
    val jobCount = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobCount.incrementAndGet(); ()
        }
      })
    val only = onlyQueries("bench")
    val ordered = sys.env.getOrElse("SPARK_GRAFT_ORDER", "declared") match {
      case "reverse" => SparkEntry.queryOrder.reverse
      case "name"    => SparkEntry.queryOrder.sorted
      case _         => SparkEntry.queryOrder
    }
    val selected = ordered.filter(n => only.forall(_.contains(n)))
      .map(n => n -> SparkEntry.queries(n))
    if (selected.isEmpty) {
      System.err.println("[bench] selection is empty — nothing to run")
      sys.exit(2)
    }
    val basePasses = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val maxPasses = math.max(basePasses,
      sys.env.getOrElse("SPARK_GRAFT_MAX_REPEAT", "4").toInt)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      selected.foreach { case (name, fn) =>
        System.err.println(s"===== $name =====\n" +
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    // noop sink: materializes every output row (unlike count(), which
    // lets Catalyst drop final sorts and prune all columns).
    // CPU canary: fixed single-thread spin; wall time ∝ 1/effective
    // CPU speed. Warmed before the loop so JIT state is steady.
    def canaryMs(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 40000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      if (x == 42L) System.err.println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 3).foreach(_ => canaryMs())
    var canaryFloor = Double.MaxValue
    var canaryMax = 0.0

    var failures = List.empty[(String, String)]
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val bestCpu = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var jvmRows = Seq.empty[String]
    var passQuality = Seq.empty[String]
    var pass = 0
    var planned = basePasses
    while (pass < planned) {
      pass += 1
      val canaryStart = canaryMs()
      val p0 = snap()
      selected.foreach { case (name, fn) =>
        val s0 = snap(); val t0 = System.nanoTime()
        val jobs0 = jobCount.get()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            failures ::= (name -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
          // release intra-query pins INSIDE the timed region (r18,
          // VERDICT r17 #5): the query pays its own cleanup, and
          // DISK_ONLY blocks never linger into the next query
          finally SparkEntry.releasePins()
        val elapsed = (System.nanoTime() - t0) / 1e9
        val jobsDelta = jobCount.get() - jobs0
        val s1 = snap()
        // vtime quirk on this kernel: a window's process CPU is
        // sometimes booked entirely to stime (utime delta 0 against
        // seconds of getProcessCpuTime). Fall back to total process
        // CPU for such samples — a slight overestimate beats a bogus 0
        // poisoning the min.
        val rawUserSec = (s1.selfUserJf - s0.selfUserJf) / 100.0
        val procMs = s1.procCpuMs - s0.procCpuMs
        val selfUserSec =
          if (rawUserSec == 0 && procMs >= 100) procMs / 1000.0 else rawUserSec
        jvmRows :+= s"""{"pass":$pass,"q":"$name","sec":${fmt(elapsed)},""" +
          s""""jobs":$jobsDelta,""" +
          s""""cpuMs":${s1.procCpuMs - s0.procCpuMs},""" +
          s""""selfUserJf":${s1.selfUserJf - s0.selfUserJf},"selfSysJf":${s1.selfSysJf - s0.selfSysJf},""" +
          s""""stealJf":${s1.stealJf - s0.stealJf},"iowaitJf":${s1.iowaitJf - s0.iowaitJf},""" +
          s""""idleJf":${s1.idleJf - s0.idleJf},"userJf":${s1.userJf - s0.userJf},""" +
          s""""sysJf":${s1.systemJf - s0.systemJf},""" +
          s""""jitMs":${s1.compileMs - s0.compileMs},"gcMs":${s1.gcMs - s0.gcMs},""" +
          s""""classes":${s1.loadedClasses - s0.loadedClasses},""" +
          s""""ccMb":${s1.codeCacheUsedMb},"metaMb":${s1.metaspaceUsedMb},"heapMb":${s1.heapUsedMb}}"""
        System.err.println(s"[bench] ${jvmRows.last}")
        // errored queries are OMITTED from the summary queries map (the
        // error rides the errors map; a negative sentinel corrupted
        // per-query round-over-round comparisons, ADVICE r8) and from
        // the headline total — the total is the sum of queries that RAN.
        if (ok) {
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), elapsed)
          bestCpu(name) = math.min(bestCpu.getOrElse(name, Double.MaxValue), selfUserSec)
        }
      }
      // Noise gate: judge the whole pass from the machine-wide jiffy
      // deltas. steal>5% of capacity = hypervisor contention burst;
      // sys>user = the kernel page-fault/zero-fill signature (r4's
      // pathology: q_window_lag 51 s kernel vs 2.7 s user). Either
      // verdict buys one extra pass (bounded by maxPasses) so min-of-N
      // draws from at least one quiet sample.
      val p1 = snap()
      val canaryEnd = canaryMs()
      canaryFloor = math.min(canaryFloor, math.min(canaryStart, canaryEnd))
      val canaryWorst = math.max(canaryStart, canaryEnd)
      canaryMax = math.max(canaryMax, canaryWorst)
      val dUser = p1.userJf - p0.userJf; val dSys = p1.systemJf - p0.systemJf
      val dSteal = p1.stealJf - p0.stealJf
      val dTotal = dUser + dSys + dSteal +
        (p1.idleJf - p0.idleJf) + (p1.iowaitJf - p0.iowaitJf)
      val contaminated =
        (dTotal > 0 && dSteal.toDouble / dTotal > 0.05) || dSys > dUser ||
          canaryWorst > 1.5 * canaryFloor
      passQuality :+= s"""{"pass":$pass,"userJf":$dUser,"sysJf":$dSys,""" +
        s""""stealJf":$dSteal,"totalJf":$dTotal,""" +
        s""""canaryStartMs":${fmt(canaryStart)},"canaryEndMs":${fmt(canaryEnd)},""" +
        s""""contaminated":$contaminated}"""
      System.err.println(s"[bench] passQuality ${passQuality.last}")
      if (contaminated && planned < maxPasses) planned += 1
    }
    val qs = best.map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    val cpuQs = bestCpu.map { case (k, v) => jstr(k) + ":" + fmt(v) }
      .mkString("{", ",", "}")
    // one key per failing query, value = list of per-pass errors in
    // occurrence order (duplicate JSON keys are parser-dependent and
    // silently dropped the per-pass distinction, ADVICE r8)
    val failedQueries = failures.reverse.map(_._1).distinct
    def errList(q: String): String = failures.reverse.collect {
      case (`q`, msg) => msg
    }.map(jstr).mkString("[", ",", "]")
    val errs = failedQueries.map(q => jstr(q) + ":" + errList(q))
      .mkString("{", ",", "}")
    val total = best.values.filter(_ > 0).sum
    val cpuTotal = bestCpu.values.sum
    // Pass-level verdict for the driver's JSON: was ANY pass clean, and
    // how loud was the loudest canary vs the session floor? (VERDICT r5
    // task 4 — the driver's wall numbers were contamination-inflated
    // two rounds running; this puts the machine's verdict in the
    // summary line itself.)
    val anyClean = passQuality.exists(_.contains("\"contaminated\":false"))
    val worstCanary =
      if (canaryMax <= 0 || canaryFloor <= 0 || canaryFloor == Double.MaxValue) 1.0
      else canaryMax / canaryFloor
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","policy":"min-of-$pass",""" +
      s""""cpuTotal":${fmt(cpuTotal)},"queries":$qs,"cpu":$cpuQs,"errors":$errs,""" +
      s""""cleanPass":$anyClean,"worstCanaryRatio":${fmt(worstCanary)},"aqe":"${if (aqe) "on" else "off"}","sf":"$sfDir"}"""
    val evidence = s"""{"summary":$line,"passQuality":${passQuality.mkString("[", ",", "]")},""" +
      s""""jvm":${jvmRows.mkString("[", ",", "]")}}"""
    // The driver captures only the last ~2000 bytes of the run's output
    // and parses the last JSON line it finds; sbt appends ~70 bytes of
    // "[success] Total time" after us. The full 94-query summary is
    // ~4 KB — that is why BENCH_r05.json came back "parsed": null. The
    // stdout line therefore caps itself at STDOUT_BUDGET bytes: headline
    // total + verdict always, then slowest-first per-query entries while
    // they fit; the complete maps live in BENCH_EVIDENCE.json (committed)
    // and on stderr.
    // HEADLINE vs ISOLATED sidecar (r14, VERDICT r13 #5): only the
    // full-suite default-SF AQE-on run — the driver's per-round shape —
    // may write the committed BENCH_EVIDENCE.json; an isolated run
    // (SPARK_GRAFT_ONLY subset, alternate SF dir, AQE=off probe) lands
    // at a deterministic side path instead, so a calibration run can
    // never clobber the committed headline (two restore commits in two
    // rounds say this kept happening).
    val isHeadline = only.isEmpty && aqe && sfDir == DefaultSfDir
    val evidencePath =
      if (isHeadline) "BENCH_EVIDENCE.json"
      else {
        val tag = sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
          .replaceAll("^_+|_+$", "") +
          (if (only.isDefined) "_subset" else "") +
          (if (aqe) "" else "_noaqe")
        s"BENCH_EVIDENCE_SIDE_$tag.json"
      }
    val stdoutBudget = 1600
    val stdoutLine =
      if (line.length <= stdoutBudget) line
      else {
        // errors must not blow the cap either (they matter most on
        // failing runs): first 5, messages truncated, count always
        // present; full messages stay in the evidence sidecar + stderr
        val errsShort = failedQueries.take(5).map { q =>
          jstr(q) + ":" + failures.reverse.collect { case (`q`, msg) => msg }
            .map(m => jstr(m.take(60))).mkString("[", ",", "]")
        }.mkString("{", ",", "}")
        val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","policy":"min-of-$pass",""" +
          s""""cpuTotal":${fmt(cpuTotal)},"cleanPass":$anyClean,""" +
          s""""worstCanaryRatio":${fmt(worstCanary)},"nQueries":${best.size},""" +
          s""""fullIn":"$evidencePath","nErrors":${failures.size},""" +
          s""""errors":$errsShort,"queries":{"""
        val tailPart = s"""},"aqe":"${if (aqe) "on" else "off"}","sf":"$sfDir"}"""
        val entries = best.toSeq.sortBy(-_._2)
          .map { case (k, v) => jstr(k) + ":" + fmt(v) }
        val sb = new StringBuilder(head)
        var used = head.length + tailPart.length
        var first = true
        entries.foreach { e =>
          val add = e.length + (if (first) 0 else 1)
          if (used + add <= stdoutBudget) { if (!first) sb += ','; sb ++= e; used += add; first = false }
        }
        sb ++= tailPart
        sb.toString
      }
    try {
      // temp + ATOMIC_MOVE: a reader (or a killed run) never sees a
      // half-written sidecar (same protocol as the catalog's _CURRENT).
      val tmp = java.nio.file.Paths.get(evidencePath + ".tmp")
      java.nio.file.Files.write(tmp,
        evidence.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(evidencePath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      System.err.println(s"[bench] evidence sidecar: $evidencePath" +
        (if (isHeadline) " (headline)" else " (isolated run — side path)"))
    } catch { case e: Throwable => System.err.println(s"[bench] evidence write failed: $e") }
    spark.stop()
    System.err.println(s"[bench] full summary: $line")
    println(stdoutLine)
    if (failures.nonEmpty) {
      failures.foreach { case (n, e) => System.err.println(s"[bench] FAILED $n: $e") }
      sys.exit(1)
    }
  }
}
