package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{classic, Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{ColumnConversions, ExpressionColumnNode}
import org.apache.spark.sql.types.{StructField, StructType}

/** Bridge between Catalyst `Expression`s and the public `Column` API.
  *
  * Spark 4 moved the Expression↔Column conversions behind `private[sql]`
  * (`org.apache.spark.sql.classic.columnNodeSupport`); custom Catalyst
  * expressions still need them to surface as `Column`s. This object lives
  * under `org.apache.spark.sql` solely to regain that access — no Spark
  * internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))
  def expression(c: Column): Expression = ColumnConversions.expression(c)

  /** `columns` over one row of `input`, resolved once for row-at-a-time
    * evaluation: analyzed in `session` (its time zone, ANSI mode and
    * function registry), each `RuntimeReplaceable` swapped for its
    * replacement, and bound to `input`'s ordinals. That swap is the one
    * optimizer rule an expression needs before it can evaluate; no other
    * rule runs, so nothing is folded away. Returns each column's output
    * field with its bound expression, ready for `UnsafeProjection.create`.
    */
  def bind(session: SparkSession, input: StructType,
      columns: Seq[Column]): Seq[(StructField, Expression)] = {
    val s = session.asInstanceOf[classic.SparkSession]
    val relation = LocalRelation(DataTypeUtils.toAttributes(input))
    val analyzed = classic.Dataset.ofRows(s, relation).select(columns: _*).queryExecution.analyzed
    val Project(list, child) = ReplaceExpressions(analyzed): @unchecked
    list.map { e =>
      val body = e match { case a: Alias => a.child; case other => other }
      StructField(e.name, e.dataType, e.nullable) -> BindReferences.bindReference(body, child.output)
    }
  }
}
