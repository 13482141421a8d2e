package graft.fs

import java.sql.Timestamp
import java.util.UUID

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Parquet-backed feature registry — R1-R6, R11 of the reference
  * (feature_store.py:195-320,510-516) re-expressed as small Dataset
  * transforms over a versioned catalog directory.
  *
  * Storage: `root/features/v_<n>/` + `root/groups/v_<n>/` parquet dirs;
  * every mutation writes a fresh versioned dir and flips the
  * [[VersionPointer]]. No Delta/Iceberg on the offline classpath,
  * so versioning is hand-rolled; a `_LOCK` file serializes the
  * read-modify-write across processes on a shared filesystem (the
  * reference's SQLite writer lock, feature_store.py:147-150, played the
  * same role), while keeping every historical catalog state readable.
  *
  * Catalog tables are tiny (thousands of rows at most) — driver-side
  * collect here is deliberate and scale-safe, and lookups read a memo
  * of the current version (see `select`); the 100 TB data path never
  * goes through this class.
  */
final class FeatureCatalog(val spark: SparkSession, val root: String,
    val maxCatalogRows: Int = FeatureCatalog.MaxCatalogRows) {
  import spark.implicits._

  private val featuresDir = s"$root/features"
  private val groupsDir = s"$root/groups"

  /** Catalog-table collects are driver-side BY DESIGN (registry rows
    * are metadata, 10³–10⁵ realistically) — but design intent is not a
    * bound, so every whole-table collect rides a limit that caps the
    * transfer at [[FeatureCatalog.MaxCatalogRows]]+1 rows and fails
    * LOUDLY past it (VERDICT r9 #9, the `maxPlayers` pattern): a
    * pathological million-row registry errors with the dial named
    * instead of slowly OOMing the driver. */
  private def boundedCollect[T](ds: Dataset[T], table: String): Seq[T] =
    bounded(ds.limit(maxCatalogRows + 1).collect().toSeq, table)

  private def bounded[T](rows: Seq[T], table: String): Seq[T] = {
    require(rows.length <= maxCatalogRows,
      s"catalog table '$table' exceeds maxCatalogRows=$maxCatalogRows — " +
        "this registry has outgrown driver-side catalog semantics; " +
        "shard it or raise the bound")
    rows
  }

  /** The rows of `dir`'s current version that satisfy `p` — the one
    * read path of every lookup and mutation. The version `_CURRENT`
    * names is memoized whole in [[PathSigCache]], one entry per `v_<n>`
    * dir: a `v_<n>` is fully written before `_CURRENT` names it and is
    * never rewritten, so the memo is exact, and a mutation from any
    * process moves `_CURRENT` and is seen on the next call. A warm
    * lookup reads `_CURRENT`, lists the version dir and filters in
    * memory, with no Spark job. A version past
    * [[FeatureCatalog.MemoRows]] rows is not pinned: its lookups run
    * the filter as a Spark query, as before the memo. Either way the
    * result rides [[bounded]]. */
  private def select[T: org.apache.spark.sql.Encoder](
      dir: String, table: String, defaultRow: T)(p: T => Boolean): Seq[T] =
    currentVersion(dir) match {
      case None => Seq.empty
      case Some(v) =>
        def ds = readTableAt(dir, defaultRow, Some(v))
        val memo = PathSigCache.cached(spark, s"$dir/v_$v", "catalog") {
          val rows = ds.limit(FeatureCatalog.MemoRows + 1).collect().toSeq
          Option.when(rows.length <= FeatureCatalog.MemoRows)(rows)
        }
        memo match {
          case Some(rows) => bounded(rows.filter(p), table)
          case None       => boundedCollect(ds.filter(p), table)
        }
    }

  // derived once per catalog: a product encoder is built by reflection,
  // about 2 ms, which would otherwise be most of a warm lookup
  private lazy val featureEncoder = implicitly[org.apache.spark.sql.Encoder[FeatureDef]]
  private lazy val groupEncoder = implicitly[org.apache.spark.sql.Encoder[FeatureGroup]]

  private def featureRows(p: FeatureDef => Boolean): Seq[FeatureDef] =
    select(featuresDir, "features", FeatureDef.migrationDefault)(p)(featureEncoder)

  private def groupRows(p: FeatureGroup => Boolean): Seq[FeatureGroup] =
    select(groupsDir, "groups", FeatureGroup.migrationDefault)(p)(groupEncoder)

  /** Spark's ascending string order (UTF-8 bytes, nulls first), so the
    * in-memory sorts order as the `orderBy` they replace. */
  private val sparkOrder: Ordering[String] =
    Ordering.Option(Ordering.fromLessThan[UTF8String](_.compareTo(_) < 0))
      .on((s: String) => Option(s).map(UTF8String.fromString))

  // ---- versioned-dir plumbing -------------------------------------------

  private def currentVersion(dir: String): Option[Int] =
    VersionPointer.current(spark, dir)

  /** Read the current table version, forward-migrating old on-disk
    * schemas: columns added to the model since the catalog was written
    * (e.g. `id` pre-r2) are filled with defaults instead of letting
    * `.as[T]` throw AnalysisException on a pre-existing dir (ADVICE
    * r2). Defaults come from the model's `migrationDefault` instance —
    * the case class's OWN declared defaults, serialized through the
    * same Encoder that defines the table schema, so a field's backfill
    * can never drift from its declaration (ADVICE r4: the old
    * type-keyed rules would have backfilled any future non-nullable
    * Boolean as true regardless of its real default). Mechanically the
    * missing columns are taken from a one-row defaults frame via a
    * broadcast cross join — catalog tables are metadata-tiny. */
  private def readTable[T: org.apache.spark.sql.Encoder](
      dir: String, defaultRow: T): Dataset[T] =
    readTableAt(dir, defaultRow, currentVersion(dir))

  private def readTableAt[T: org.apache.spark.sql.Encoder](
      dir: String, defaultRow: T, version: Option[Int]): Dataset[T] =
    version match {
      case Some(v) =>
        val raw = ParquetDir.read(spark, s"$dir/v_$v")
        val have = raw.columns.toSet
        val schema = implicitly[org.apache.spark.sql.Encoder[T]].schema
        val missing = schema.fields.filterNot(f => have.contains(f.name))
        val migrated =
          if (missing.isEmpty) raw
          else {
            import org.apache.spark.sql.functions.{broadcast, col}
            val defaults = spark.createDataset(Seq(defaultRow)).toDF()
              .select(missing.map(f => col(f.name)).toSeq: _*)
            raw.crossJoin(broadcast(defaults))
          }
        migrated.as[T]
      case None => spark.emptyDataset[T]
    }

  /** Catalog versions still readable under `dir` (every mutation leaves
    * its predecessor's `v_<n>` directory in place). */
  private def versionsOf(dir: String): Seq[Int] =
    VersionPointer.versions(spark, dir)

  private def writeTable[T](dir: String, ds: Dataset[T]): Unit = {
    val next = currentVersion(dir).getOrElse(-1) + 1
    ds.coalesce(1).write.mode("overwrite").parquet(s"$dir/v_$next")
    VersionPointer.publish(spark, dir, next)
  }

  /** Serialize a catalog read-modify-write: without it two writers can
    * both read version n and race to write v_(n+1) (ADVICE r1). Lock =
    * exclusive `_LOCK` file creation carrying a unique owner token; a
    * lock whose file is older than [[FeatureCatalog.LockStealAfterMs]]
    * is presumed orphaned (owner JVM died between createFile and the
    * finally) and is stolen with a warning instead of wedging every
    * writer forever (ADVICE r2). Catalog mutations are sub-second, so
    * a minute-old lock is dead with high confidence.
    *
    * Steal protocol (ADVICE r3): stealing is an atomic
    * `Files.move(_LOCK, unique-temp)` — of N contenders observing the
    * same stale lock exactly one move succeeds, and only the winner
    * removes the moved-aside file; everyone then re-contends on
    * CREATE_NEW. The old delete-then-create steal let two waiters both
    * delete/create and both enter the critical section. Release deletes
    * the lock only after verifying it still carries THIS acquisition's
    * token, so a (pathological) steal of a live lock can't cascade into
    * the victim deleting the thief's lock. The wait deadline spans
    * LockStealAfterMs + LockTimeoutMs so a waiter that arrives while an
    * orphaned lock is still young always lives to steal it rather than
    * timing out first (ADVICE r3). */
  private def withLock[A](dir: String)(body: => A): A =
    // protocol extracted to the shared DirLock (r12) so index appends
    // can opt into the same guard; this private delegate remains both
    // as the catalog's seam and as the entry point the forked-JVM
    // CatalogLockChild drives by reflection
    DirLock.withLock(dir)(body)

  private def now(): Timestamp = new Timestamp(System.currentTimeMillis())

  // ---- R1-R3: features ---------------------------------------------------

  def features: Dataset[FeatureDef] =
    readTable[FeatureDef](featuresDir, FeatureDef.migrationDefault)

  /** Time travel: the registry exactly as it stood at catalog version
    * `v` — every mutation leaves its predecessor's `v_<n>` dir intact,
    * so any audit ("what was registered when this model trained?")
    * reads history without restores. [[featureVersions]] lists what's
    * on disk; an unknown version throws (same as a missing dir). */
  def featuresAt(v: Int): Dataset[FeatureDef] =
    readTableAt[FeatureDef](featuresDir, FeatureDef.migrationDefault, Some(v))

  def featureVersions: Seq[Int] = versionsOf(featuresDir)

  /** R1 `register_feature` (feature_store.py:195-241): validate dtype,
    * mint uuid, upsert keyed by unique name (INSERT OR REPLACE ≡
    * filter-out + union). */
  def registerFeature(fd: FeatureDef): FeatureDef =
    registerFeatures(Seq(fd)).head

  /** Batch form of R1: validates every dtype up front, then takes the
    * lock ONCE and writes ONE new catalog version for the whole batch
    * (a loop of registerFeature writes — and fsyncs — a version per
    * feature). Within-batch name duplicates resolve last-wins, matching
    * the reference's INSERT OR REPLACE applied in call order. */
  def registerFeatures(fds: Seq[FeatureDef]): Seq[FeatureDef] = {
    require(fds.nonEmpty, "empty feature batch")
    fds.foreach { fd =>
      if (!Dtypes.All.contains(fd.dtype))
        throw new IllegalArgumentException(
          s"Invalid dtype: ${fd.dtype}. Must be one of ${Dtypes.All.toSeq.sorted.mkString(", ")}")
    }
    val stamped = fds.map(fd => fd.copy(
      id = if (fd.id.nonEmpty) fd.id else UUID.randomUUID().toString,
      createdAt = fd.createdAt.orElse(Some(now()))))
    // last-wins within the batch, preserving first-occurrence order
    val deduped = stamped.reverse.distinctBy(_.name).reverse
    val names = deduped.map(_.name).toSet
    withLock(featuresDir) {
      val kept = featureRows(f => !names.contains(f.name))
      writeTable(featuresDir, spark.createDataset(kept ++ deduped))
    }
    stamped
  }

  /** R2 `get_feature` (feature_store.py:243-247). ≤ 1 row by the
    * unique-name upsert invariant; rides [[bounded]] anyway so the
    * result is capped even if the invariant were broken. */
  def getFeature(name: String): Option[FeatureDef] =
    featureRows(_.name == name).headOption

  /** R3 `list_features` (feature_store.py:249-261): active only, ordered. */
  def listFeatures(entityType: Option[String] = None): Seq[FeatureDef] =
    featureRows(f => f.isActive && entityType.forall(_ == f.entityType))
      .sortBy(f => (f.entityType, f.name))(Ordering.Tuple2(sparkOrder, sparkOrder))

  /** Soft delete (reference `is_active` flag, feature_store.py:164). */
  def deactivateFeature(name: String): Unit = withLock(featuresDir) {
    val updated = featureRows(_ => true).map(f =>
      if (f.name == name) f.copy(isActive = false) else f)
    writeTable(featuresDir, spark.createDataset(updated))
  }

  // ---- R4-R6, R11: groups ------------------------------------------------

  def groups: Dataset[FeatureGroup] =
    readTable[FeatureGroup](groupsDir, FeatureGroup.migrationDefault)

  /** Time travel for the group table — see [[featuresAt]]. */
  def groupsAt(v: Int): Dataset[FeatureGroup] =
    readTableAt[FeatureGroup](groupsDir, FeatureGroup.migrationDefault, Some(v))

  def groupVersions: Seq[Int] = versionsOf(groupsDir)

  /** R4 `create_group` (feature_store.py:263-306): every member must exist
    * in the registry (the reference loops one SELECT per member,
    * feature_store.py:284-286 — here a single anti-join reports all
    * missing members at once); (name, version) unique; uuid + created_at
    * stamped (feature_store.py:74,88). */
  def createGroup(g: FeatureGroup): FeatureGroup = {
    if (!FeatureGroup.Frequencies.contains(g.frequency))
      throw new IllegalArgumentException(s"Invalid frequency: ${g.frequency}")
    val registered = featureRows(_ => true).map(_.name).toSet
    val missing = g.features.filterNot(registered)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"Features not registered: ${missing.mkString(", ")}")
    val stamped = g.copy(
      id = if (g.id.nonEmpty) g.id else UUID.randomUUID().toString,
      createdAt = g.createdAt.orElse(Some(now())))
    withLock(groupsDir) {
      val existing = groupRows(_ => true)
      if (existing.exists(x => x.name == g.name && x.version == g.version))
        throw new IllegalArgumentException(
          s"Group ${g.name} version ${g.version} already exists")
      writeTable(groupsDir, spark.createDataset(existing :+ stamped))
    }
    stamped
  }

  /** R5 `get_group` by uuid (feature_store.py:308-312). ≤ 1 row by
    * uuid uniqueness; [[bounded]] caps the result regardless. */
  def getGroupById(id: String): Option[FeatureGroup] =
    groupRows(_.id == id).headOption

  /** R6 `get_group_by_name` (feature_store.py:314-320). ≤ 1 row by the
    * UNIQUE(name, version) invariant; [[bounded]] caps it. */
  def getGroup(name: String, version: Int = 1): Option[FeatureGroup] =
    groupRows(g => g.name == name && g.version == version).headOption

  /** R11 `list_groups` (feature_store.py:510-516). */
  def listGroups(): Seq[FeatureGroup] =
    groupRows(_ => true).sortBy(g => (g.name, g.version))(
      Ordering.Tuple2(sparkOrder, Ordering.Int))
}

object FeatureCatalog {
  /** Hard cap on rows any catalog-table collect may pull to the
    * driver — past this, registry semantics (whole-table upserts,
    * in-memory ordering) stop being metadata operations. */
  val MaxCatalogRows: Int = 1000000
  /** Largest catalog version the lookup memo holds whole (a few MB of
    * rows); a bigger registry's lookups query instead of pinning it. */
  val MemoRows: Int = 10000
  /** Give up waiting for a contended lock after this long
    * (aliases [[DirLock.TimeoutMs]] — one protocol, one dial). */
  val LockTimeoutMs: Long = DirLock.TimeoutMs
  /** Steal a lock file older than this (owner presumed dead;
    * aliases [[DirLock.StealAfterMs]]). */
  val LockStealAfterMs: Long = DirLock.StealAfterMs
}
