package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.internal.SQLConf

/** Column ⇄ Expression bridge. Spark 4 made the direct constructors
  * `private[sql]` (Connect refactor); this shim lives under
  * `org.apache.spark.sql` so custom Catalyst expressions (SURVEY.md
  * §2.8) can surface as `Column`s through public-jar API only.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c` with every single-part column reference named in `to` (matched
    * with the session's resolver) replaced by the mapped Column — e.g.
    * a per-row boost rebound onto a lambda element's fields, while its
    * other references stay bound to the row. The conversion is eager:
    * [[toExpression]] returns a lazy wrapper on which a `transformUp`
    * silently rewrites nothing. */
  def rebind(c: Column, to: Map[String, Column]): Column = {
    val resolver = SQLConf.get.resolver
    val targets = to.map { case (name, t) => name -> ColumnNodeToExpressionConverter(t.node) }
    toColumn(ColumnNodeToExpressionConverter(c.node).transformUp {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        targets.collectFirst { case (name, t) if resolver(a.name, name) => t }.getOrElse(a)
    })
  }
}
