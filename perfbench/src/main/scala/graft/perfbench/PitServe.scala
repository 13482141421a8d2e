package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.fs.{FeatureCatalog, FeatureDef, FeatureGroup, RecordLog, Serving}

/** Feature-store serving with writes beside the reads.
  *
  * Set-up registers two groups — `spend` (purchase amounts) and
  * `activity` (last event type and value) — writes the generated event
  * log into the record log and compacts it. The timed work is one
  * round of `compactEvery` ticks. Each tick issues `serves`
  * point-in-time serves, alternating `latestAsOf` at a random as-of
  * time with `pointInTimeJoin` of a random label frame against both
  * groups, collects every result, then writes the next day's batch;
  * the round ends with a compaction of the log. Each served
  * result's digest is checked afterwards against a plain
  * `row_number()` recompute over the generated log. */
final class PitServe(spark: SparkSession, data: String, work: String,
    seed: Long, trace: Trace, p: Map[String, String]) extends Workload {
  import spark.implicits._

  private val days = p("days").toInt
  private val users = p("users").toInt
  private val serves = 4 // per tick
  private val compactEvery = 2 // ticks per round
  private val labels = 200 // users drawn per pointInTimeJoin
  private val rnd = new scala.util.Random(seed)
  private val dayUs = 86400000000L
  private val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z

  private var catalog: FeatureCatalog = _
  private var log: RecordLog = _
  private val served = ArrayBuffer.empty[String]
  private var ticksWritten = 0
  private var serveIdx = 0
  private val filesSeen = ArrayBuffer.empty[Double]
  private val bytesWritten = ArrayBuffer.empty[Double]

  private def events(path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    raw.withColumn("ts", col("ts").cast(TimestampType))
  }
  private def spendRows(df: DataFrame) = df.filter(col("event_type") === "purchase")
    .select(col("user_id"), col("ts"), col("event_id"), col("value").as("amount"))
  private def activityRows(df: DataFrame) = df.filter(col("event_type") =!= "purchase")
    .select(col("user_id"), col("ts"), col("event_id"),
      col("event_type").as("last_type"), col("value").as("last_value"))

  private def group(name: String): FeatureGroup =
    trace.span("fs.catalog")(catalog.getGroup(name)
      .getOrElse(sys.error(s"group $name missing from the catalog")))

  private def logBytes(): Long = Workload.parquetBytes(log.root)

  def prepare(): Unit = {
    val root = s"$work/fs"
    catalog = new FeatureCatalog(spark, s"$root/catalog")
    catalog.registerFeatures(Seq(
      FeatureDef("amount", "user", "float"),
      FeatureDef("last_type", "user", "str"),
      FeatureDef("last_value", "user", "float")))
    val spend = catalog.createGroup(FeatureGroup("spend", 1, Seq("amount"), "user_id"))
    val act = catalog.createGroup(
      FeatureGroup("activity", 1, Seq("last_type", "last_value"), "user_id"))
    log = new RecordLog(spark, s"$root/log")
    val ev = events(s"$data/events.parquet")
    log.write(spend, spendRows(ev))
    log.write(act, activityRows(ev))
    log.compact(spend)
    log.compact(act)
  }

  /** The digest checks.py recomputes: doubles as rounded hundredths,
    * NULL as `~`. */
  private def digest(rows: Array[Row]): String = Workload.digest(rows, {
    case null      => "~"
    case d: Double => math.round(d * 100).toString
    case v         => v.toString
  })

  /** One serve of `kind` (0: `latestAsOf` of the activity group, 1:
    * `pointInTimeJoin` of `label` against both groups), collected; the
    * rows and the executed query. */
  private def serveOnce(kind: Int, asOfUs: Long, label: Seq[Long]): (Array[Row], DataFrame) = {
    val asOf = timestamp_micros(lit(asOfUs))
    if (kind == 0) {
      val g = group("activity")
      trace.span("fs.serve") {
        val q = Serving.latestAsOf(log.read(g), "user_id", "ts", Some(asOf), Seq(col("event_id")))
          .select("user_id", "event_id", "last_type", "last_value")
        (q.collect(), q)
      }
    } else {
      val (gs, ga) = (group("spend"), group("activity"))
      trace.span("fs.serve") {
        val q = Serving.pointInTimeJoin(label.toDF("user_id"),
          Seq((log.read(gs), Seq("amount")), (log.read(ga), Seq("last_type", "last_value"))),
          "user_id", asOf = asOf, tieBreak = Seq(col("event_id")))
          .select("user_id", "amount", "last_type", "last_value")
        (q.collect(), q)
      }
    }
  }

  private def serve(tick: Int, record: Boolean): Unit = {
    val kind = serveIdx % 2
    val asOfUs = baseUs + (rnd.nextDouble() * (days + tick) * dayUs).toLong
    val label = if (kind == 1) Seq.fill(labels)(rnd.nextInt(users).toLong).distinct.sorted
      else Seq.empty
    op("serve_ms") {
      trace.span("serve", serveIdx.toLong) {
        val (rows, q) = serveOnce(kind, asOfUs, label)
        if (record) served += Json.obj(Seq(
          "tick" -> tick.toString, "kind" -> kind.toString, "asof_us" -> asOfUs.toString,
          "labels" -> Json.arr(label.map(_.toString)), "rows" -> rows.length.toString,
          "digest" -> Json.str(digest(rows))))
        if (trace.on) filesSeen += PitServe.filesScanned(q).toDouble
      }
    }
    serveIdx += 1
  }

  private def write(tick: Int): Unit = op("write_ms") {
    trace.span("write", tick.toLong) {
      val batch = events(f"$data/ticks/tick_$tick%04d.parquet")
      val (gs, ga) = (group("spend"), group("activity"))
      val before = if (trace.on) logBytes() else 0L
      trace.span("fs.write") {
        log.write(gs, spendRows(batch))
        log.write(ga, activityRows(batch))
      }
      if (trace.on) bytesWritten += (logBytes() - before).toDouble
    }
  }

  private def compact(tick: Int): Unit = op("compact_ms") {
    trace.span("compact", tick.toLong) {
      val (gs, ga) = (group("spend"), group("activity"))
      trace.span("fs.compact") { log.compact(gs); log.compact(ga) }
    }
  }

  def warmup(): Unit = {
    // one serve of each kind against the prepared log; the warm-up
    // writes nothing, so the timed ticks start from the prepared state
    serve(0, record = false); serve(0, record = false)
    serveIdx = 0
  }

  /** One round: `compactEvery` ticks, then a compaction. */
  def run(): Unit = {
    for (tick <- 0 until compactEvery) {
      for (_ <- 0 until serves) serve(tick, record = true)
      write(tick)
      ticksWritten = tick + 1
    }
    compact(compactEvery - 1)
  }

  /** A serve of each kind against the final log, results dropped. */
  def probe(): Unit = {
    val asOfUs = baseUs + (days + ticksWritten) * dayUs
    serveOnce(0, asOfUs, Seq.empty)
    serveOnce(1, asOfUs, (0L until labels.toLong).map(_ * users / labels))
  }

  /** Digests are checked by the Python side against DuckDB; here only
    * the final log size is taken. */
  private var finalBytes = 0L
  def check(): Unit = finalBytes = logBytes()

  def report: Map[String, String] = Map(
    "serves" -> Json.arr(served),
    "ticks_written" -> ticksWritten.toString,
    "log_bytes" -> finalBytes.toString)

  def layer: Map[String, Double] = Map(
    "fs.files_per_serve" -> mean(filesSeen),
    "fs.bytes_written" -> mean(bytesWritten))

  private def mean(xs: scala.collection.Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object PitServe extends AdaptiveSparkPlanHelper {
  /** Files the executed query's parquet scans read, after partition
    * pruning (each scan's `numFiles` metric). */
  def filesScanned(q: DataFrame): Long =
    collectWithSubqueries(q.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum
}
