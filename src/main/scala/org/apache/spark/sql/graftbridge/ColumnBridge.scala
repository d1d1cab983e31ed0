package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, LongType}

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
