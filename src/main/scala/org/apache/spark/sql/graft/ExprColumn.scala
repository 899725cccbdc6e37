package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one `private[sql]` doorway this library uses: wrap a custom Catalyst
  * [[Expression]] into a public [[Column]] (and back). Spark 4.x exposes no
  * public factory for third-party expressions — its own bloom predicate
  * (`BloomFilterMightContain`) is internal-only, unregistered in the SQL
  * function registry — so [[graft.functions.BloomProbe]], a codegen'd
  * predicate, needs this two-line shim. Deliberately minimal: nothing else
  * in the repo needs a `private[sql]` member (the store's parquet writer,
  * `graft.state.BucketWrite`, uses public execution-layer classes). */
object ExprColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
