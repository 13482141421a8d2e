package graft.operators

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.fs.ParquetDir

/** The persisted-index families' delta layout, owned here: every
  * span, MinHash, keyword, IVF, PQ and k-NN graph table is a
  * hive-partitioned `<indexDir>/<table>/batch_id=<id>` dir, and every
  * family clears, appends, compacts, rebuilds and pins its parameters
  * through this one object.
  *
  * WRITE CONTRACT: a build writes the base under `batch_id=-1`
  * (negative ids are the build/compact base's), and an append
  * OVERWRITES its own `batch_id=<batchId>` partition, so a replayed
  * batch (at-least-once foreachBatch delivery) replaces its previous
  * rows instead of double-counting them — append is IDEMPOTENT per
  * batchId. Distinct batchIds remain the caller's exactly-once
  * sequencing (two writers sharing an id lose one write); concurrent
  * appends under DIFFERENT ids are safe by partition isolation
  * against each other — but never against a live compact/rebuild:
  * every append runs [[beginAppend]]'s recover-before-write, which
  * DELETES an unmarked in-flight stage, so an append racing a
  * compactor destroys the compactor's staged fold. Quiescence between
  * appends and maintenance is therefore part of the append contract
  * too, not only the compact side's; [[locked]] is the opt-in
  * cross-process guard — wrap BOTH paths in it.
  *
  * Pinned parameters (hash family, dials, caps) live in a one-row
  * `<indexDir>/meta` table ([[writeMeta]] / [[readMeta]]), so appends,
  * probes and maintenance run under the INDEX's parameters, never a
  * caller's. */
private[graft] object IndexLayout {

  /** Recursively delete a table directory (no-op when absent) — the
    * build-side reset: a rebuild must clear PRIOR batch partitions,
    * which a per-partition overwrite cannot (it only replaces its own
    * `batch_id` dir). */
  def clear(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** The preamble every family's append runs before it writes:
    * reject a reserved batchId, then recover the index-level stage
    * and each of `tables`' stages, in that order. Recover-before-write
    * is the [[graft.fs.RecordLog]] discipline: after a MID-SWAP
    * compact crash the live table is missing, and an append that
    * recreated it would doom the staged corpus to the stale-stage
    * discard on the next maintenance run ([[recoverCompact]]). */
  def beginAppend(spark: SparkSession, indexDir: String,
      tables: Seq[String], batchId: Long, caller: String): Unit = {
    require(batchId >= 0, s"$caller: batchId=$batchId " +
      "(negative ids are reserved for the build/compact base)")
    recoverCompact(spark, indexDir)
    tables.foreach(t => recoverCompact(spark, s"$indexDir/$t"))
  }

  /** Write an index's one-row pinned-params `meta` table, columns in
    * order: an `Int` value is an int column, a `Long` a long one. */
  def writeMeta(spark: SparkSession, indexDir: String,
      cols: Seq[(String, Any)]): Unit = {
    val schema = StructType(cols.map {
      case (name, _: Int)  => StructField(name, IntegerType, nullable = false)
      case (name, _: Long) => StructField(name, LongType, nullable = false)
      case (name, v) => throw new IllegalArgumentException(
        s"meta column $name: unsupported value $v")
    })
    spark.createDataFrame(java.util.List.of(Row.fromSeq(cols.map(_._2))), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** An index's pinned-params row, by column name; None when the
    * index has no `meta` dir (an uncapped keyword index, or an index
    * older than its family's meta). One bounded read, memoized in
    * [[graft.fs.PathSigCache]] on the meta dir's listing signature: a
    * rebuild rewrites the meta files and forces one fresh read. A
    * `meta` that is not exactly one row fails loudly, naming `who`. */
  def readMeta(spark: SparkSession, indexDir: String,
      who: String): Option[Meta] = {
    val dir = s"$indexDir/meta"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try graft.fs.PathSigCache.walk(fs, p)
      catch { case _: java.io.FileNotFoundException => return None }
    val (cols, rows) = graft.fs.PathSigCache.cachedAt(dir, "meta",
        graft.fs.PathSigCache.signature(files)) {
      val df = ParquetDir.read(spark, dir)
      (df.columns, df.limit(2).collect()) // bounded: one pinned-params row
    }
    require(rows.length == 1, s"$who $indexDir: malformed meta")
    Some(Meta(who, indexDir, cols.zipWithIndex.collect {
      case (c, i) if !rows(0).isNullAt(i) => c -> rows(0).get(i)
    }.toMap))
  }

  /** A [[readMeta]] row; absent and null columns read as None. */
  final case class Meta(who: String, indexDir: String, values: Map[String, Any]) {
    def long(name: String): Option[Long] =
      values.get(name).map(_.asInstanceOf[java.lang.Number].longValue)
    def int(name: String): Option[Int] = long(name).map(_.toInt)
    /** A column the family always pins; its absence fails loudly. */
    def required(name: String): Int = int(name).getOrElse(
      throw new IllegalArgumentException(s"$who $indexDir: meta missing $name"))
  }

  /** Compact one delta table: fold all `batch_id` partitions through
    * `fold` into a single `batch_id=-1` base, under the
    * [[graft.fs.RecordLog]] crash-safe staged-swap protocol (VERDICT
    * r11 #7 — append-forever deltas otherwise grow one file set per
    * micro-batch until the probe's scan is a metadata storm):
    *
    *  1. recover any prior interrupted compact (a marked stage is
    *     durable → finish its swap; an unmarked stage is garbage →
    *     discard),
    *  2. write the folded table to a SIBLING stage dir (invisible to
    *     probes reading `tableDir`),
    *  3. drop a `_STAGED` marker — the folded data is now durable,
    *  4. swap: delete the live table, rename the stage into place.
    *
    * A crash before (3) discards the stage next time. A crash after
    * (3) but before the live delete ALSO discards it — the fold is
    * re-derivable from live, which may have received appends since
    * the crash (see [[recoverCompact]]); only the mid-swap crash
    * (live already deleted) finishes the rename, because there the
    * stage is the sole surviving copy. Probes
    * racing the swap window can see a missing dir: compaction runs
    * under the index family's single-writer/quiescence contract
    * ([[graft.fs.DirLock]] is the opt-in cross-process guard), and a
    * replay of a pre-compaction batchId afterwards would re-add
    * already-folded deltas — compact only beyond the replay
    * horizon, OR pass `excludeBatchId` (r15, VERDICT r14 #7): that
    * batch's partition is preserved VERBATIM in the compacted table
    * instead of folded into the base, so the one batch still inside
    * the replay horizon — a streaming gate compacting at its own
    * micro-batch boundary — keeps its overwrite-idempotent partition
    * and its probe exclusion (a fold would hide the prior attempt's
    * rows inside `batch_id=-1`, where `excludeBatchId` probes can no
    * longer see past them: the batch would dedup against itself). */
  def compactTable(spark: SparkSession, tableDir: String,
      partitionByCols: Seq[String] = Nil,
      excludeBatchId: Option[Long] = None)(
      fold: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Unit = {
    val live = new org.apache.hadoop.fs.Path(tableDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompact(spark, tableDir)
    val stage = new org.apache.hadoop.fs.Path(tableDir + StageSuffix)
    val all = ParquetDir.read(spark, tableDir)
    val foldIn = excludeBatchId match {
      case Some(b) if all.columns.contains("batch_id") =>
        all.filter(org.apache.spark.sql.functions.col("batch_id") =!= b)
      case _ => all
    }
    val w = fold(foldIn).write.mode("overwrite")
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*)
     else w).parquet(s"$stage/batch_id=-1")
    // the excluded batch's partition rides into the stage untouched
    // (rewritten, not folded) — the table stays complete through the
    // swap and the batch's own append overwrite stays idempotent
    excludeBatchId.foreach { b =>
      val part = new org.apache.hadoop.fs.Path(live, s"batch_id=$b")
      if (fs.exists(part)) {
        val pw = ParquetDir.read(spark, part.toString).write.mode("overwrite")
        (if (partitionByCols.nonEmpty) pw.partitionBy(partitionByCols: _*)
         else pw).parquet(s"$stage/batch_id=$b")
      }
    }
    fs.create(new org.apache.hadoop.fs.Path(stage, Marker), true).close()
    swapStage(fs, stage, live)
  }

  /** Crash-safe WHOLE-INDEX rebuild (r12) — the offline-RETRAIN path
    * the IVF/PQ quantizer-drift contract defers to ("retraining is a
    * rare offline event"): `build` writes a complete fresh index
    * (centroids/codebooks AND data tables) into a SIBLING stage dir
    * invisible to probes, then the marker + swap make it live
    * atomically-enough — the same protocol as [[compactTable]], at
    * the index-dir level (`<indexDir>__staged`, so it never collides
    * with a table-level compact stage under `<indexDir>/<table>`).
    *
    * Without this, a retrain is `build*Index` over the live dir:
    * centroids overwrite FIRST, assignment second — a crash between
    * them serves a new quantizer over the old assignment (silently
    * wrong probes, not just missing data). Here any crash that leaves
    * the live index standing leaves it UNTOUCHED (the stage — marked
    * or not — is discarded on the next write: a retrain is always
    * re-runnable, while live may have taken appends since the crash);
    * only the mid-swap crash, where live is already gone, is finished
    * from the durable stage ([[recoverCompact]]'s rule). Same
    * single-writer/quiescence contract as compaction;
    * a replayed append from before the retrain re-lands its batch
    * under the NEW quantizer — correct by the frozen-quantizer append
    * contract (assignment is recomputed, not replayed). */
  def stagedRebuild(spark: SparkSession, indexDir: String)(
      build: String => Unit): Unit = {
    val live = new org.apache.hadoop.fs.Path(indexDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompact(spark, indexDir) // finish a marked / drop a garbage stage
    val stage = new org.apache.hadoop.fs.Path(indexDir + StageSuffix)
    build(stage.toString)
    fs.create(new org.apache.hadoop.fs.Path(stage, Marker), true).close()
    swapStage(fs, stage, live)
  }

  /** Recover a crashed compact/rebuild's stage; called at the start
    * of every [[compactTable]] / [[stagedRebuild]].
    *
    * An UNMARKED stage is garbage (pre-marker crash) — discarded. A
    * MARKED stage is finished ONLY when the live dir is MISSING: that
    * is the mid-swap crash (after `delete(live)`, before the rename),
    * the one state where the stage is the sole surviving copy. When
    * the live dir still EXISTS, the marked stage is discarded even
    * though its data is durable — the fold/rebuild that produced it
    * is always RE-DERIVABLE from live, while the live table may have
    * received appends AFTER the crash (days of ingest before anyone
    * re-ran maintenance); swapping the stale stage in would silently
    * destroy those batches. Re-deriving a compact is cheap; a lost
    * append is unrecoverable. */
  def recoverCompact(spark: SparkSession, tableDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(tableDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(tableDir + StageSuffix)
    if (!fs.exists(stage)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(stage, Marker)) &&
        !fs.exists(live))
      swapStage(fs, stage, live) // mid-swap crash: stage is the only copy
    else fs.delete(stage, true) // stale stage: live wins, re-derive later
  }

  private def swapStage(fs: org.apache.hadoop.fs.FileSystem,
      stage: org.apache.hadoop.fs.Path,
      live: org.apache.hadoop.fs.Path): Unit = {
    if (fs.exists(live)) fs.delete(live, true)
    if (!fs.rename(stage, live))
      throw new java.io.IOException(s"compact swap: rename $stage -> $live")
    fs.delete(new org.apache.hadoop.fs.Path(live, Marker), false)
  }

  private val StageSuffix = "__staged"
  private val Marker = "_STAGED"

  /** Where an index's cross-process [[graft.fs.DirLock]] lives: a
    * SIBLING dir, never inside the index itself — a whole-index
    * [[stagedRebuild]] swap deletes the live dir, and a lock stored
    * there would be destroyed BY the guarded operation (the holder
    * would then fail its own release as "stolen"). One path rule for
    * every family, so appends, compactions, and rebuilds of the same
    * index all serialize on the same file. */
  def lockDir(indexDir: String): String =
    indexDir.stripSuffix("/") + "__lock"

  /** Run one index mutation under the index's cross-process
    * [[graft.fs.DirLock]] (at [[lockDir]]) — the opt-in serialization
    * for deployments where two ingest jobs could race the same batchId
    * or overlap a compact/rebuild (the catalog's steal-after-crash
    * lock, proven under real process death). Appends and maintenance
    * are mutually destructive when interleaved — an append's
    * recover-before-write deletes a live compact's unmarked stage — so
    * wrap BOTH sides of every family's mutation surface:
    * `locked(dir)(Similarity.appendToIvfIndex(…))`,
    * `locked(dir)(Dedup.compactSpanIndex(…))`, and so on. */
  def locked[T](indexDir: String)(op: => T): T =
    graft.fs.DirLock.withLock(lockDir(indexDir))(op)

  /** Run independent Spark actions CONCURRENTLY from a small driver
    * thread pool (r18, guide §2.6 / VERDICT r17 #1): a build's tiny
    * bounded writes (meta, centroids, fine levels) are each a
    * scheduled job whose latency is dominated by scheduling + commit,
    * and the driver paid them strictly sequentially — overlapping
    * them (and backfilling the big assigned write's straggler tail)
    * removes dead driver time without changing any result: every task
    * writes to a DISTINCT path. Failures propagate: the first
    * non-fatal exception rethrows after all tasks settle (no
    * half-observed build); a fatal error, or an interrupt of the
    * waiting thread, propagates at once. Sequential when given 0/1
    * tasks. */
  def runParallel(tasks: (() => Unit)*): Unit = {
    if (tasks.length <= 1) { tasks.foreach(_()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(tasks.length, 4),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-build-${n.incrementAndGet()}")
          t.setDaemon(true); t
        }
      })
    try {
      val futs = tasks.map(t => pool.submit(
        new java.util.concurrent.Callable[Unit] { def call(): Unit = t() }))
      var first: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            val cause = e.getCause
            if (!scala.util.control.NonFatal(cause)) throw cause
            if (first == null) first = cause
        }
      }
      if (first != null) throw first
    } finally pool.shutdown()
  }

  /** Number of data files under a table directory (recursive,
    * `_`- and `.`-prefixed names excluded) — the compaction specs'
    * file-count-collapse evidence. */
  def dataFileCount(spark: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    graft.fs.PathSigCache.walk(fs, p).count { f =>
      val name = f.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }
  }
}
