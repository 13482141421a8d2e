package graft.fs

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{GraftParquetBridge, ParquetFileFormat}

/** The one reader of every persisted parquet table: the record log and
  * the six index families' tables. [[read]] returns what
  * `spark.read.options(options).parquet(dir)` returns — the same rows,
  * schema and column order, the same partition columns, the same
  * errors — without the metadata jobs `spark.read` schedules: the
  * listing job past 32 paths and the footer job of every schema
  * inference.
  *
  * Listing: the dir is walked once on the driver ([[PathSigCache.walk]],
  * one `listStatus` per directory, skipping what a file-source listing
  * skips: `_SUCCESS`, `.crc`, `_temporary`, `_`-prefixed stages), and the
  * walk seeds Spark's own [[InMemoryFileIndex]], so partition inference
  * stays Spark's. The leaf statuses carry no block locations, so the
  * scan asks for no locality (object stores have none to give).
  *
  * Schema: inferred as `ParquetFileFormat.inferSchema` infers it (see
  * [[GraftParquetBridge.inferSchema]]) and memoized in [[PathSigCache]]
  * on the listing's signature, the read options and the session
  * settings the inference reads: a rewrite of the table re-infers once.
  *
  * Scale posture: the listing costs O(directories) driver metadata
  * calls per read. A plain read takes one footer: O(1) on the driver at
  * any size. A `mergeSchema` read reads every footer on the driver
  * while the listing holds at most
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` files —
  * Spark's own cutoff between driver and job listing — and above it
  * keeps Spark's distributed footer merge, one job per new listing.
  *
  * A path with glob characters, or options that change what a listing
  * holds (`basePath`, `recursiveFileLookup`, `pathGlobFilter`,
  * `modifiedBefore`, `modifiedAfter`), goes through `spark.read`
  * itself. A streaming file sink's `_spark_metadata` log is not
  * consulted; no table here is written by one. */
object ParquetDir {

  private val ListingOptions =
    Set("basepath", "recursivefilelookup", "pathglobfilter", "modifiedbefore", "modifiedafter")

  def read(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame =
    if (dir.exists("{}[]*?\\".contains(_)) ||
        options.keys.exists(k => ListingOptions(k.toLowerCase(java.util.Locale.ROOT))))
      spark.read.options(options).parquet(dir)
    else load(spark, listing(spark, dir), options)

  /** The dir's qualified path and its data files, from one driver-side
    * walk. A missing dir raises the `AnalysisException` `spark.read`
    * raises. */
  private[fs] def listing(spark: SparkSession, dir: String): (Path, Array[FileStatus]) = {
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(base)
    try (root, PathSigCache.walk(fs, root, n => !GraftBridge.hiddenPathName(n)))
    catch {
      case _: java.io.FileNotFoundException =>
        throw GraftBridge.pathNotFound(root.toString)
    }
  }

  /** The table as `spark.read.options(options).parquet(root)` reads it,
    * from its [[listing]]. An empty listing raises the
    * `AnalysisException` `spark.read` raises. */
  private[fs] def load(spark: SparkSession, listed: (Path, Array[FileStatus]),
      options: Map[String, String]): DataFrame = {
    val (root, files) = listed
    val seed: FileStatusCache = new FileStatusCache {
      @volatile private var leaves = Option(files)
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == root) leaves else None
      override def putLeafFiles(p: Path, l: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = leaves = None
    }
    val index = new InMemoryFileIndex(spark, Seq(root), options, None, seed)
    val format = new ParquetFileFormat
    val dataSchema = PathSigCache.cachedAt(root.toString,
        s"schema:${GraftParquetBridge.schemaInputs(spark, options)}",
        PathSigCache.signature(files)) {
      GraftParquetBridge.inferSchema(spark, options, index.allFiles())
        .getOrElse(throw GraftBridge.schemaNotInferred(format.toString))
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      GraftBridge.asNullable(dataSchema), None, format, options)(spark))
  }
}
