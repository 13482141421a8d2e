package graft.fs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only entity-snapshot log — R7 `write_features`
  * (feature_store.py:322-370) re-expressed as wide columnar parquet.
  *
  * Physical layout (designed for the 100 TB case, SURVEY.md §1.3-1.4):
  * one directory per (group, version) — `root/group=<name>/v=<n>/` —
  * partitioned by snapshot date (`p_date`). Group/version pruning is a
  * directory lookup. A caller's filter on `p_date` prunes whole dates
  * (Catalyst's PruneFileSourcePartitions); the point-in-time serves
  * filter on `ts`, not `p_date`, so they prune no date and scan every
  * file of the group, and only the `ts` min/max parquet stats skip row
  * groups inside a file. Values are real typed columns (not the reference's
  * JSON-in-TEXT blob, feature_store.py:366) so scans are columnar and
  * filters/projections push down to the footer.
  *
  * Required columns on write: the group's entityKey + `ts: timestamp`.
  * Like the reference, extra columns not declared in the group are
  * stored anyway with a warning (feature_store.py:347-349) — lax on
  * write, schema-on-read.
  *
  * Compacted form: each date dir holds ONE data file, its rows sorted by
  * (`p_date`, entityKey, `ts`). Every writer ([[write]], [[forget]],
  * [[compact]]) lays the dates it writes down in that form, so a date
  * leaves it only when a later append adds a second file to it, and
  * [[compact]] rewrites only such dates.
  */
final class RecordLog(val spark: SparkSession, val root: String) {

  def dir(group: FeatureGroup): String =
    s"$root/group=${group.name}/v=${group.version}"

  /** R7: append a batch of snapshots (the reference writes one row per
    * call; a DataFrame append is the batch generalization). Every
    * record carries a `version` column — the reference's EntityRecord
    * version (feature_store.py:107,357), defaulting to 1 when the
    * batch doesn't declare one. Each date of the batch is laid down in
    * compacted form (one sorted file); a date the log already held now
    * holds one more file, and the next [[compact]] rewrites it. */
  def write(group: FeatureGroup, snapshots: DataFrame): Unit = {
    // finish any crashed staged swap BEFORE appending (review r7): a
    // marked stage recovered only at the NEXT compact/forget would
    // swap its stale pre-crash copy over every record appended in
    // between — recovery must run ahead of any new write so appends
    // always land on a fully-swapped log
    recoverCompact(group); recoverForget(group)
    require(snapshots.columns.contains(group.entityKey),
      s"snapshot batch must carry entity key '${group.entityKey}'")
    require(snapshots.columns.contains("ts"),
      "snapshot batch must carry a 'ts' timestamp column")
    val declared = (group.features :+ group.entityKey).toSet + "ts" + "version"
    val extra = snapshots.columns.filterNot(declared)
    if (extra.nonEmpty)
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"columns not in group '${group.name}': ${extra.mkString(", ")}")
    val versioned =
      if (snapshots.columns.contains("version")) snapshots
      else snapshots.withColumn("version", lit(1))
    layDown(group, versioned.withColumn("p_date", to_date(col("ts"))),
      dir(group), "append")
  }

  /** Write `rows` (carrying `p_date`) under `dest` in compacted form.
    * The shuffle on the partition column comes first: without it every
    * task writes one file per date it happens to hold — tasks × dates
    * small files (the classic dynamic-insert small-file explosion; at
    * 100 TB that's millions of KB-sized files and a metastore
    * meltdown). Hashing dates across the session's partitions bounds
    * output to one file per date. The sort leads with `p_date`: the
    * planned write sorts each task by its partition column, and a
    * local sort that does not start with it is dropped under that one,
    * leaving the file unordered by key. */
  private def layDown(group: FeatureGroup, rows: DataFrame, dest: String,
      mode: String): Unit =
    rows.repartition(col("p_date"))
      .sortWithinPartitions(col("p_date"), col(group.entityKey), col("ts"))
      .write.mode(mode).partitionBy("p_date").parquet(dest)

  /** Full log for a group (schema-on-read; partition column `p_date`
    * retained for pruning by callers).
    *
    * Uses ONE file's footer for the schema (Spark's default) — the
    * fast path when every append carried the same columns. Because
    * [[write]] is lax (undeclared columns are stored with a warning),
    * a log whose batches evolved — a feature added later — holds
    * heterogeneous file schemas, and this read can silently miss the
    * late-added column depending on which footer wins. Use
    * [[readMerged]] for that case.
    *
    * Read through [[ParquetDir]]: the group dir is walked once on the
    * driver — one `listStatus` per directory, so O(date dirs) metadata
    * calls per read — and the one footer is read on the driver, once
    * per new listing. A read schedules no Spark job. */
  def read(group: FeatureGroup): DataFrame = {
    // a crash mid-swap leaves some dates deleted and their replacement
    // still in the stage — reading that state silently serves partial
    // data, so reads finish a marked recovery too (two fs.exists
    // metadata checks on the no-crash path; same single-writer
    // contract — a concurrent reader during a crashed writer's window
    // was never safe)
    recoverCompact(group); recoverForget(group)
    ParquetDir.read(spark, dir(group))
  }

  /** Schema-evolution-safe read: unions every file's parquet schema
    * (`mergeSchema`), so a feature column added by a later append
    * surfaces for the whole log, null-filled for rows written before
    * it existed — the standard append-only-log evolution contract.
    * Reads every file's footer the first time a listing is seen: on
    * the driver while the log holds at most
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` files, in
    * one distributed footer-merge job above that ([[ParquetDir]]'s scale
    * posture); take [[read]] when the schema is known stable. Lists
    * like [[read]]. */
  def readMerged(group: FeatureGroup): DataFrame = {
    recoverCompact(group); recoverForget(group) // see read()
    ParquetDir.read(spark, dir(group), MergeSchema)
  }

  private val MergeSchema = Map("mergeSchema" -> "true")

  /** Compact the log's files: every append to a date the log already
    * holds leaves one more file in it, so a daily-written group would
    * accumulate O(writes) small files per partition — the classic
    * streaming-append pathology that turns a 100 TB scan into a
    * metadata storm. Compaction rewrites each DIRTY date in compacted
    * form (one file, rows sorted by (`p_date`, entityKey, `ts`), which
    * also tightens the parquet min/max stats the PIT reads skip on). A
    * date is dirty when its dir holds more than one data file, or its
    * one file below a nested level (a `p_epoch` streaming log, which
    * compaction flattens). Clean dates are neither read nor rewritten,
    * so a compaction costs what was appended since the last one, and
    * one with nothing dirty schedules no write job. Uses the
    * evolution-safe read, so mixed-schema files merge into the union
    * schema. When [[read]]'s one-footer schema differs from that union
    * — a column added by a later append — every date is dirty, so that
    * every file carries the union and [[read]] sees the column after
    * the compaction. The dates found dirty come from the same driver
    * listing [[read]] takes; the stage reads them through a `p_date`
    * filter, so partition pruning skips the clean dates' files.
    *
    * CRASH SAFETY (ADVICE r6): an in-place overwrite would hold the
    * source rows only as non-fault-tolerant localCheckpoint blocks
    * while the commit deletes existing date dirs — a crash in that
    * window loses partitions with no durable copy. So compaction is
    * STAGED: (1) write the compacted dirty dates to a hidden
    * `_compact_staged` dir under the log (hidden from parquet readers
    * by the leading underscore), (2) drop a `_STAGED` marker — from
    * this point the compacted data is durable, (3) swap each staged
    * date dir into place (delete old, rename staged), (4) remove the
    * stage. A crash before (2) discards the stage on the next compact;
    * a crash after (2) is finished by the next compact's recovery pass
    * — the swap is idempotent per date. Same single-writer contract as
    * every log mutation. */
  def compact(group: FeatureGroup): Unit =
    // a pass that rewrote lists once more: the second pass infers the
    // new listing's schemas (memoized for the next read and compaction)
    // and, when that listing leads with a clean date's file lacking a
    // column of the union, rewrites every date; otherwise it is a no-op
    if (compactDirty(group)) compactDirty(group)

  /** One [[compact]] pass: stage and swap the dirty dates. Whether it
    * rewrote any. */
  private def compactDirty(group: FeatureGroup): Boolean = {
    recoverCompact(group); recoverForget(group) // see read()
    val listed = ParquetDir.listing(spark, dir(group))
    val (root, files) = listed
    val merged = ParquetDir.load(spark, listed, MergeSchema)
    // each file's path below the log dir: (p_date=<d>, …, part-…)
    val byDate = files.map(f => root.toUri.relativize(f.getPath.toUri).getPath.split('/'))
      .filter(_.head.startsWith("p_date=")).groupBy(_.head)
    val evolved = ParquetDir.load(spark, listed, Map.empty).schema != merged.schema
    val dirty =
      if (evolved) byDate.keySet
      else byDate.collect { case (d, fs) if fs.length > 1 || fs.head.length > 2 => d }.toSet
    if (dirty.isEmpty) return false
    val values = dirty.map(_.stripPrefix("p_date="))
    val rows =
      if (dirty.size == byDate.size) merged
      else merged.filter(col("p_date").cast("string").isin(values.toSeq: _*) ||
        (col("p_date").isNull && lit(values.contains(NullDate))))
    val stage = new Path(root, CompactStage)
    layDown(group, rows, stage.toString, "overwrite")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new Path(stage, "_STAGED"), true).close()
    swapStaged(group, CompactStage)
    true
  }

  /** The dir value of the null date (rows with a null `ts`). */
  private val NullDate = "__HIVE_DEFAULT_PARTITION__"

  /** Right-to-be-forgotten: remove every record whose entity key is in
    * `ids`, rewriting ONLY the date partitions that actually contain
    * one — on a 100 TB log a deletion batch touches the handful of
    * dates the entity was active, and the other partitions' files are
    * not read, rewritten, or even listed. Two phases: (1) a pruned scan
    * (the `isin` pushes to parquet row-group stats) finds the affected
    * dates and doomed row count; (2) survivors of just those dates are
    * staged in compacted form and swapped under the same crash-safe
    * `_STAGED` protocol as [[compact]]. A date whose every row is
    * forgotten stages an `_EMPTY` tombstone dir (a dynamic-partition write emits nothing
    * for an empty partition), so the swap stays idempotent: a staged
    * date missing after a crash means "already swapped", never "delete
    * the destination again". Single-writer, like every log mutation.
    * Returns the number of records removed.
    *
    * Batch-size posture: a GDPR-sized batch (a handful of ids) inlines
    * the ids as an `isin` literal list — it pushes to parquet row-group
    * stats, so phase (1) skips files that can't contain a doomed row.
    * A LARGE deletion batch (a court-ordered source takedown, tens of
    * thousands of ids) would compile those literals into every task's
    * predicate — driver-side plan explosion — so above
    * [[ForgetInlineMax]] the ids become a broadcast-joined frame
    * instead: one semi-join finds the affected dates, one anti-join
    * keeps the survivors. The anti-join's null semantics reproduce the
    * isin path's carve-outs by construction: a null-key row never
    * equi-matches, so it always survives. */
  def forget(group: FeatureGroup, ids: Seq[Any]): Long = {
    require(ids.nonEmpty, "forget: need at least one entity id")
    val base = new org.apache.hadoop.fs.Path(dir(group))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverForget(group)
    val key = col(group.entityKey)
    val log = readMerged(group)
    val idsFrame: Option[DataFrame] =
      if (ids.size <= ForgetInlineMax) None
      else {
        // ids arrive as Seq[Any]: route them through strings + a cast to
        // the key's type, mirroring the analyzer coercion the isin path
        // gets for free — a Row built on the raw JVM values would make
        // success depend on batch size (Int ids against a LongType key
        // coerce under isin but crash Row encoding) (review r9)
        val keyType = log.schema(group.entityKey).dataType
        val rows = ids.map(v =>
          org.apache.spark.sql.Row(if (v == null) null else v.toString))
        Some(spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("__forget_raw",
                org.apache.spark.sql.types.StringType))))
          .select(col("__forget_raw").cast(keyType).as("__forget_id")))
      }
    def doomed(df: DataFrame): DataFrame = idsFrame match {
      case Some(f) => df.join(broadcast(f), key === col("__forget_id"), "left_semi")
      case None    => df.filter(key.isin(ids: _*))
    }
    def survivors(df: DataFrame): DataFrame = idsFrame match {
      case Some(f) => df.join(broadcast(f), key === col("__forget_id"), "left_anti")
      case None    =>
        // null-key rows must SURVIVE: `!isin` evaluates to NULL
        // (dropped) for them, and write() never forbids null entity
        // keys — without the carve-out a forget batch would silently
        // erase every null-key row sharing a date with a forgotten
        // entity (review r7)
        df.filter(key.isNull || !key.isin(ids: _*))
    }
    val affected = doomed(log)
      .groupBy(col("p_date")).agg(count(lit(1)).as("n"))
      .collect() // bounded: the entity's active dates, not the log
    if (affected.isEmpty) return 0L
    val dates = affected.map(_.getAs[java.sql.Date]("p_date"))
    val removed = affected.map(_.getAs[Long]("n")).sum
    val stage = new org.apache.hadoop.fs.Path(base, ForgetStage)
    // a forgotten entity may hold rows with a NULL ts → the null date
    // partition (__HIVE_DEFAULT_PARTITION__). `isin` is null-intolerant
    // — the same trap as the key filter below — so the null date needs
    // its own predicate arm AND its hive name in the tombstone pass, or
    // forget would COUNT those rows as removed while never rewriting
    // their partition (review r7 #2)
    val realDates = dates.filter(_ != null)
    val dateHit =
      if (realDates.length == dates.length) col("p_date").isin(realDates: _*)
      else col("p_date").isNull || col("p_date").isin(realDates: _*)
    layDown(group, survivors(log.filter(dateHit)), stage.toString, "overwrite")
    dates.foreach { d =>
      val dirName =
        if (d == null) s"p_date=$NullDate" else s"p_date=$d"
      val staged = new org.apache.hadoop.fs.Path(stage, dirName)
      if (!fs.exists(staged)) {
        fs.mkdirs(staged)
        fs.create(new org.apache.hadoop.fs.Path(staged, "_EMPTY"), true).close()
      }
    }
    val marker = new org.apache.hadoop.fs.Path(stage, "_STAGED")
    fs.create(marker, true).close()
    swapStaged(group, ForgetStage)
    removed
  }

  /** Finish (or discard) a compaction a previous crashed run left
    * behind: a stage WITH the `_STAGED` marker is complete and gets
    * swapped in; one without is a partial write and is deleted. Called
    * automatically by [[compact]]; exposed so an operator can repair a
    * log without triggering a fresh rewrite. */
  def recoverCompact(group: FeatureGroup): Unit =
    recoverStage(group, CompactStage)

  /** [[recoverCompact]]'s twin for a crashed [[forget]]. */
  def recoverForget(group: FeatureGroup): Unit =
    recoverStage(group, ForgetStage)

  private val CompactStage = "_compact_staged"
  private val ForgetStage = "_forget_staged"

  /** Largest deletion batch [[forget]] inlines as `isin` literals;
    * larger batches broadcast-join instead (see [[forget]]'s doc). */
  val ForgetInlineMax: Int = 1000

  private def recoverStage(group: FeatureGroup, stageName: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir(group))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(base, stageName)
    if (!fs.exists(stage)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(stage, "_STAGED")))
      swapStaged(group, stageName)
    else fs.delete(stage, true)
  }

  /** The swap step of [[compact]]/[[forget]]: move every staged date
    * dir into place; an `_EMPTY`-tombstoned date deletes its
    * destination outright. Idempotent — a date already swapped by a
    * crashed prior attempt is simply absent from the stage. */
  private def swapStaged(group: FeatureGroup, stageName: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(dir(group))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(base, stageName)
    fs.listStatus(stage).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("p_date=")) {
        val dest = new org.apache.hadoop.fs.Path(base, st.getPath.getName)
        fs.delete(dest, true)
        if (fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_EMPTY")))
          fs.delete(st.getPath, true)
        else
          require(fs.rename(st.getPath, dest),
            s"staged swap: failed to move ${st.getPath} into place")
      }
    }
    fs.delete(stage, true)
  }

  /** Retention: drop whole date partitions older than `before`
    * (exclusive). Deletion is a directory unlink per expired date — no
    * data is read or rewritten, which is what makes retention viable
    * on a 100 TB log. Returns the number of partitions removed. */
  def expire(group: FeatureGroup, before: java.sql.Date): Int = {
    val base = new org.apache.hadoop.fs.Path(dir(group))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0
    // finish any crashed swap first — a marked stage swapped AFTER this
    // unlink would resurrect the very dates being expired (review r7)
    recoverCompact(group); recoverForget(group)
    val cutoff = before.toLocalDate
    val expired = fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("p_date=") &&
          (try java.time.LocalDate.parse(n.stripPrefix("p_date="))
             .isBefore(cutoff)
           catch { case _: java.time.format.DateTimeParseException => false })
      }
    expired.foreach(st => fs.delete(st.getPath, true))
    expired.size
  }
}
