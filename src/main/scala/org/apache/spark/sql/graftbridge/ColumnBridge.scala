package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, LongType, StructType}

/** Spark 4's public `Column` wraps a Connect-compatible ColumnNode and no
  * longer exposes its catalyst Expression; the classic-runtime converter
  * (`org.apache.spark.sql.classic.ExpressionUtils`) is `private[sql]`.
  * This bridge lives in an `org.apache.spark.sql` subpackage solely to
  * re-export those two conversions for the engine's custom catalyst
  * expressions (e.g. graft.functions.LastWriterAgg). Classic runtime only —
  * exactly where custom catalyst expressions run anyway.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `ExpectsInputTypes` requiring every child to be LONG, for engine
  * expressions outside `org.apache.spark.sql` (`AbstractDataType`, the type
  * of `inputTypes`, is `private[sql]`). A mismatch fails analysis. */
trait LongInputTypes extends ExpectsInputTypes { self: Expression =>
  override def inputTypes: Seq[AbstractDataType] = children.map(_ => LongType)
}

/** Spark's own schema merge and nullability relaxation (both `private`
  * to Spark), so a schema built on the driver from recorded file schemas is
  * the one a schema-merging Parquet read would infer from the footers. */
object SchemaBridge {
  /** `a` with `b`'s fields merged in, as Parquet schema merging does it. */
  def merge(a: StructType, b: StructType): StructType =
    a.merge(b, SQLConf.get.caseSensitiveAnalysis)

  /** `s` with every field, nested ones too, nullable — how a file source
    * reads its data schema. */
  def asNullable(s: StructType): StructType = s.asNullable
}
