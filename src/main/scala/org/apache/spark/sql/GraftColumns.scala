package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.InSet

/** Columns the public Column API cannot build. Turning a Catalyst
  * expression into a Column is private to `org.apache.spark.sql`, hence
  * this file's package. */
object GraftColumns {

  /** `name IN values` as one `InSet` — the shape Spark gives an `isin` of
    * more than 10 literals, for any number of values: a data source takes
    * it as a pushed filter, and its generated code references the set
    * instead of compiling each value in. */
  def inSet(name: String, values: Set[Long]): Column =
    classic.ExpressionUtils.column(InSet(UnresolvedAttribute(name), values.toSet[Any]))
}
