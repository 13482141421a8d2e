package graft

import org.apache.spark.sql.SparkSession

/** ONE-CALL recommended session configuration (r17, VERDICT r16
  * missing #1): the dials the engine's own Bench/Verify sessions run
  * under, packaged so a production user building their own
  * SparkSession gets the measured plans without reading a scaladoc.
  * Without this, every corpus-keyed [[graft.plans.BoundedTopK]] fold
  * (`semanticGateBatch`, `knnGraphIndexBatch`, the graph builders)
  * silently runs under Spark's 128-distinct-key sort fallback or the
  * pair re-key — measured ~2.5× the cpu at the fourth decade
  * (BASELINE.md r16, q_knn_graph_t 4493 → 1810 cpu s).
  *
  * The load-bearing dial is
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold`: the
  * number of DISTINCT KEYS an ObjectHashAggregate's per-task hash map
  * may hold before falling back to a (spillable, but map-side-combine-
  * forfeiting) external sort. The recommended value is DERIVED from
  * executor heap and task concurrency (r17, VERDICT r16 #1 — the r16
  * pin was a constant 2²¹, which at a fifth-decade key load would
  * have let the map grow past the heap with the memory-safe re-key
  * bypassed): see [[graft.plans.BoundedTopK.recommendedHashAggKeys]]
  * for the sizing rule and
  * [[graft.operators.Similarity]]'s `topKPerQuery` for the guard that
  * re-keys when the expected load cannot hash under the SAME budget.
  *
  * NOTE the threshold is SESSION-GLOBAL (ADVICE r16): it applies to
  * every ObjectHashAggregate in the session, not just BoundedTopK
  * folds. The derived value is sized so that ANY aggregate whose
  * per-key buffer is O(engine-typical) stays inside the heap budget
  * before falling back; an application mixing in its own aggregates
  * with UNBOUNDED per-key buffers (e.g. collect_list of wide rows
  * over high-cardinality keys) should size its own threshold —
  * Spark's sort fallback, not the hash map, is the memory-safe
  * regime for those.
  */
object GraftConf {

  /** Fraction of executor heap the derivation budgets for CONCURRENT
    * ObjectHashAggregate hash maps (all task slots aggregating at
    * once). 3/8: Spark's unified memory region is 0.6 of heap and
    * the object-agg map is NOT tracked by the memory manager (the
    * key-count fallback exists precisely because its bytes are
    * invisible to it), so the budget must leave room for tracked
    * execution memory (shuffle/sort/join state), storage (pinned
    * checkpoints), and user objects under the same GC. Measured
    * calibration: BASELINE.md r17's forced-cliff sweep. */
  val HashAggHeapFraction: Double = 0.375

  /** Heap-bytes budget for concurrent untracked aggregation state.
    * Overridable via the `graft.hashAggHeapBudgetBytes` system
    * property (validated like the engine's other dials) so the cliff
    * probe and specs can force either regime deterministically. */
  def hashAggHeapBudgetBytes(
      heapBytes: Long = Runtime.getRuntime.maxMemory): Long =
    sys.props.get("graft.hashAggHeapBudgetBytes").map { s =>
      val v = try s.toLong catch {
        case e: NumberFormatException => throw new IllegalArgumentException(
          s"graft.hashAggHeapBudgetBytes='$s' is not a long", e)
      }
      require(v > 0, s"graft.hashAggHeapBudgetBytes=$v must be > 0")
      v
    }.getOrElse((heapBytes * HashAggHeapFraction).toLong)

  /** The derived fallback-threshold value for a given executor heap
    * and per-executor task concurrency — the ONE source of truth
    * Bench/Verify and `recommended` share. */
  def recommendedHashAggKeys(
      heapBytes: Long = Runtime.getRuntime.maxMemory,
      taskSlots: Int = Runtime.getRuntime.availableProcessors()): Long =
    graft.plans.BoundedTopK.recommendedHashAggKeys(
      hashAggHeapBudgetBytes(heapBytes), taskSlots)

  /** Executor heap for a LIVE session: `spark.executor.memory` when
    * set (cluster mode), else this JVM's max heap (local mode, where
    * driver == executor). */
  def executorHeapBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.executor.memory")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .filter(_ > 0)
      .getOrElse(Runtime.getRuntime.maxMemory)

  /** Concurrent task slots PER EXECUTOR for a live session — the
    * number of simultaneously-growing aggregation maps one heap
    * hosts: `spark.executor.cores` when set, else the scheduler's
    * default parallelism (local[n] → n). */
  def taskSlots(spark: SparkSession): Int =
    spark.conf.getOption("spark.executor.cores")
      .map(_.toInt).filter(_ > 0)
      .getOrElse(math.max(1, spark.sparkContext.defaultParallelism))

  /** Apply the recommended dials to a session BUILDER. `heapBytes` /
    * `taskSlots` default to this JVM (correct for local mode); a
    * cluster deployment passes its executor heap and
    * `spark.executor.cores`. Static confs (`spark.buffer.pageSize`)
    * can only land here, not on a live session. */
  def recommended(builder: SparkSession.Builder,
      heapBytes: Long = Runtime.getRuntime.maxMemory,
      taskSlots: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    builder
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        recommendedHashAggKeys(heapBytes, taskSlots).toString)
      // map-key semantics several declared queries rely on (last
      // writer wins, the engine's documented JSON/map contract)
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // small task-memory pages: with a large heap the 64 MiB default
      // page makes every sort/window/agg task zero-fill whole pages —
      // measured as seconds of SYSTEM time per window query (r3)
      .config("spark.buffer.pageSize", "4m")

  /** The local session every tool main (Bench, Verify, JobCensus,
    * ScaleUp) runs in: `local[SPARK_GRAFT_CPUS]` (default 4) with as
    * many shuffle partitions, UTC, no UI, the [[recommended]] dials,
    * log level WARN, and `spark.local.dir` at `localDir` when given.
    * `extra` confs apply last. */
  def localSession(localDir: Option[String],
      extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Defensive: older testdata wrote events.ts as timestamp[ns];
      // keep the legacy flag so Tables.events' Long-nanos branch still
      // works if the generator flips back (current data is timestamp[us]).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val builder = (localDir.map("spark.local.dir" -> _) ++ extra)
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
    val spark = recommended(builder, taskSlots = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the RUNTIME-settable recommended dials to a LIVE session
    * (the fallback threshold is a session SQL conf). Heap and slots
    * are derived from the session itself. Returns the session. */
  def applyTo(spark: SparkSession): SparkSession = {
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      recommendedHashAggKeys(
        executorHeapBytes(spark), taskSlots(spark)).toString)
    spark
  }
}
