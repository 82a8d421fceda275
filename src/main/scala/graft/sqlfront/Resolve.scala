package graft.sqlfront

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column => toColumn, ofRows, sqlParser}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

/** Binds the table names of one statement when it runs, the way the
  * reference's Schema resolves a name to its Table (Schema.java): SQL text
  * is parsed with the session's parser, and every single-part relation
  * name `lookup` knows, in the statement or in any of its subqueries,
  * becomes `SubqueryAlias(name, <analyzed plan of that frame>)`. A CTE of
  * the same name shadows it, as Spark's CTE substitution would; a name
  * `lookup` does not know is left for Spark to resolve (or reject). Nothing
  * is registered in the session, so two engines on one session never see
  * each other's tables. */
private[sqlfront] object Resolve {
  type Lookup = String => Option[DataFrame]

  /** The frame of SQL statement `text`. */
  def frame(spark: SparkSession, text: String, lookup: Lookup): DataFrame =
    ofRows(spark, plan(sqlParser(spark).parsePlan(text), lookup, Set.empty))

  /** The column of SQL expression `text`, its subqueries bound. */
  def column(spark: SparkSession, text: String, lookup: Lookup): Column =
    toColumn(expression(sqlParser(spark).parseExpression(text), lookup, Set.empty))

  private def plan(p: LogicalPlan, lookup: Lookup, ctes: Set[String]): LogicalPlan = p match {
    case UnresolvedRelation(Seq(n), _, _) if !ctes(n.toLowerCase) =>
      lookup(n).fold(p)(df => SubqueryAlias(n, df.queryExecution.analyzed))
    case w: UnresolvedWith => // a CTE sees those before it (itself too if recursive)
      val names = w.cteRelations.map(_._1.toLowerCase)
      w.copy(child = plan(w.child, lookup, ctes ++ names),
        cteRelations = w.cteRelations.zipWithIndex.map { case ((n, d, depth), i) =>
          val seen = names.take(if (w.allowRecursion) i + 1 else i)
          (n, plan(d, lookup, ctes ++ seen).asInstanceOf[SubqueryAlias], depth)
        })
    case _ => p.mapChildren(plan(_, lookup, ctes)).mapExpressions(expression(_, lookup, ctes))
  }

  private def expression(e: Expression, lookup: Lookup, ctes: Set[String]): Expression =
    e.transform { case s: SubqueryExpression => s.withNewPlan(plan(s.plan, lookup, ctes)) }
}
