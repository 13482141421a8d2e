package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private helpers: the `private[sql]`
  * Column↔Expression converters that Spark 4 moved behind
  * `org.apache.spark.sql.classic.ExpressionUtils` (needed to expose
  * custom Catalyst expressions, graft.plans, as user `Column`s), and
  * the file-source listing filter, schema typing and errors that `graft.fs.RecordLog`
  * shares with `spark.read`. No Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** True for a file or directory name a file-source listing skips
    * (`_`/`.`-prefixed, except `_metadata` files and `_k=v` dirs). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** `schema` with every field nullable, as `spark.read` types a
    * file source's data schema. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** The error `spark.read` raises for a missing input path. */
  def pathNotFound(path: String): Throwable =
    errors.QueryCompilationErrors.dataPathNotExistError(path)

  /** The error `spark.read` raises when no file yields a schema. */
  def schemaNotInferred(format: String): Throwable =
    errors.QueryCompilationErrors.dataSchemaNotSpecifiedError(format)
}
