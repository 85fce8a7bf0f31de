package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** Bridge into `private[sql]` `Dataset.ofRows`, so a driver-side frame
  * can be built over rows that are ALREADY in Catalyst form.
  * `createDataFrame(rows, schema)` converts and copies every row it is
  * given; a caller that grows one relation write by write converts each
  * row once ([[toInternal]]) and rebuilds the leaf over the accumulated
  * rows ([[frame]]) without touching the earlier ones. Lives in the
  * spark.sql package namespace solely to cross the access boundary.
  */
object LocalRows {
  /** Compact (unsafe) Catalyst copies of `rows`, laid out by `schema`. */
  def toInternal(schema: StructType, rows: Seq[Row]): Vector[InternalRow] = {
    val toRow = ExpressionEncoder(schema, lenient = true).createSerializer()
    rows.iterator.map(r => toRow(r).copy()).toVector
  }

  /** One `LocalRelation` leaf over `rows`; the rows are shared, not
    * copied. The leaf is marked analyzed: it has nothing to resolve, and
    * the analyzer's expression passes would each walk every row of its
    * `data`, making the frame's construction O(rows) instead of O(1). */
  def frame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame = {
    val leaf = LocalRelation(DataTypeUtils.toAttributes(schema), rows)
    leaf.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], leaf)
  }
}
