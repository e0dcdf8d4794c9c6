package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeExpression, ExpressionColumnNode}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 split `Column` from Catalyst (`Column` wraps a `ColumnNode`);
  * attaching a custom Expression needs the classic-converter node types,
  * which are `private[sql]` — hence this shim package under
  * `org.apache.spark.sql`. This is the standard extension seam for
  * libraries shipping custom codegen expressions on Spark 4.x.
  */
object Bridge {

  /** Wrap a custom Expression (whose children were built with `childExpr`)
    * as a user-facing Column.
    */
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** Use a public Column as a child of a custom Expression. The resulting
    * placeholder is resolved by the classic ColumnNode→Expression converter
    * during analysis.
    */
  def childExpr(c: Column): Expression = ColumnNodeExpression(c.node)

  /** A DataSource V2 table built in code, as a DataFrame: the same relation
    * `spark.read.format(...).load()` plans, with no options.
    */
  def relation(spark: SparkSession, table: Table): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, DataSourceV2Relation.create(table, None, None))
}
