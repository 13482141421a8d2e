package graft.fs

import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The `_CURRENT` pointer of a versioned directory: `dir/v_<n>`
  * subdirectories, each written whole before `dir/_CURRENT` names it,
  * so a reader never sees a half-written version and a crash before
  * the flip leaves the pointer on the previous complete one. The one
  * protocol of [[FeatureCatalog]]'s tables and
  * [[graft.streaming.StreamingFeatures.maintainLatest]]'s serving table.
  *
  * Everything goes through the Hadoop filesystem of `dir`'s scheme, the
  * one Spark writes the `v_<n>` dirs through, so a `file://` (or any
  * other) URI root keeps pointer and versions side by side. Under
  * Hadoop's checksummed local filesystem the pointer is read and
  * written through the raw filesystem beneath it: the pointer is a few
  * bytes flipped by rename, and a `.crc` sidecar would only go stale
  * when anything else rewrites the file. */
private[graft] object VersionPointer {

  private val Name = "_CURRENT"

  private def rawFs(spark: SparkSession, dir: Path): FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  /** The version `dir/_CURRENT` names; None before the first publish. */
  def current(spark: SparkSession, dir: String): Option[Int] = {
    val ptr = new Path(dir, Name)
    val in =
      try rawFs(spark, ptr).open(ptr)
      catch { case _: java.io.FileNotFoundException => return None }
    val text = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    Some(text.toIntOption.getOrElse(throw new IllegalStateException(
      s"$ptr holds '$text', not a version number")))
  }

  /** Make `v` the current version of `dir`: write the pointer to a temp
    * file, then rename it over `_CURRENT` in one overwriting rename.
    * On the local filesystem that rename is POSIX `rename(2)`, atomic;
    * elsewhere it is `FileContext.rename(OVERWRITE)`, which throws on
    * failure. */
  def publish(spark: SparkSession, dir: String, v: Int): Unit = {
    val base = new Path(dir)
    val fs = rawFs(spark, base)
    val tmp = new Path(base, s"$Name.tmp$v")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    val cur = new Path(base, Name)
    fs match {
      case local: RawLocalFileSystem =>
        if (!local.rename(tmp, cur))
          throw new java.io.IOException(s"rename $tmp -> $cur failed")
      case _ =>
        FileContext.getFileContext(base.toUri, spark.sparkContext.hadoopConfiguration)
          .rename(tmp, cur, Options.Rename.OVERWRITE)
    }
  }

  /** Every `v_<n>` version under `dir`, ascending; empty when `dir` is
    * missing. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val base = new Path(dir)
    val listed =
      try rawFs(spark, base).listStatus(base)
      catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
    listed.toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v_") => n.stripPrefix("v_").toIntOption }
      .flatten.sorted
  }
}
