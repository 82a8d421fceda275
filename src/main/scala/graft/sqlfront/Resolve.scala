package graft.sqlfront

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftColumnBridge.{column => toColumn, ofRows, sqlParser}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{CreateNamedStruct, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}

/** Binds the table and function names of one statement when it runs, the
  * way the reference's Schema resolves a name to the Table, FunctionAlias
  * or UserAggregate it holds (Schema.java): SQL text is parsed with the
  * session's parser, and in the statement and in every subquery
  *   - each single-part relation name `lookup` knows becomes
  *     `SubqueryAlias(name, <analyzed plan of that frame>)`; a CTE of the
  *     same name shadows it, as Spark's CTE substitution would;
  *   - each single-part call whose name `functions` knows becomes the
  *     expression that function builds for the call;
  *   - `FORMATDATETIME`/`PARSEDATETIME` with n arguments call the
  *     fixed-arity `formatdatetime_n`/`parsedatetime_n`;
  *   - `ARRAY_GET`/`ARRAY_LENGTH`/`ARRAY_CONTAINS` call Spark's
  *     `try_element_at` (1-based, NULL out of range)/`cardinality`/
  *     `array_contains`, and a row value `('a', 'b')` as first argument,
  *     H2's inline array (Function.java:905), becomes `array('a', 'b')`.
  * A name neither lookup knows is left for Spark to resolve (or reject).
  * Nothing is registered in the session, so two engines on one session
  * never see each other's tables or functions. */
private[sqlfront] object Resolve {
  type Lookup = String => Option[DataFrame]
  /** The expression a call of a catalog function binds to, by lowercased name. */
  type Functions = (String, UnresolvedFunction) => Option[Expression]

  /** The frame of SQL statement `text`. */
  def frame(spark: SparkSession, text: String, lookup: Lookup, functions: Functions): DataFrame =
    ofRows(spark, new Binder(lookup, functions).plan(sqlParser(spark).parsePlan(text), Set.empty))

  /** The column of SQL expression `text`, its subqueries and calls bound. */
  def column(spark: SparkSession, text: String, lookup: Lookup, functions: Functions): Column =
    toColumn(new Binder(lookup, functions).expression(sqlParser(spark).parseExpression(text), Set.empty))

  private final class Binder(lookup: Lookup, functions: Functions) {
    def plan(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case UnresolvedRelation(Seq(n), _, _) if !ctes(n.toLowerCase) =>
        lookup(n).fold(p)(df => SubqueryAlias(n, df.queryExecution.analyzed))
      case w: UnresolvedWith => // a CTE sees those before it (itself too if recursive)
        val names = w.cteRelations.map(_._1.toLowerCase)
        w.copy(child = plan(w.child, ctes ++ names),
          cteRelations = w.cteRelations.zipWithIndex.map { case ((n, d, depth), i) =>
            val seen = names.take(if (w.allowRecursion) i + 1 else i)
            (n, plan(d, ctes ++ seen).asInstanceOf[SubqueryAlias], depth)
          })
      case _ => p.mapChildren(plan(_, ctes)).mapExpressions(expression(_, ctes))
    }

    // bottom-up, so a bound call's own new nodes are never visited again
    def expression(e: Expression, ctes: Set[String]): Expression = e.transformUp {
      case s: SubqueryExpression => s.withNewPlan(plan(s.plan, ctes))
      case f @ UnresolvedFunction(Seq(n), args, _, _, _, _, _) =>
        n.toLowerCase match {
          case h2 @ ("formatdatetime" | "parsedatetime") =>
            f.copy(nameParts = Seq(s"${h2}_${args.length}"))
          case "array_get" => arrayCall(f, "try_element_at")
          case "array_length" => arrayCall(f, "cardinality")
          case "array_contains" => arrayCall(f, "array_contains")
          case name => functions(name, f).getOrElse(f)
        }
    }
  }

  private def arrayCall(f: UnresolvedFunction, name: String): Expression =
    f.copy(nameParts = Seq(name), arguments = f.arguments.zipWithIndex.map {
      case (row: CreateNamedStruct, 0) => UnresolvedFunction(Seq("array"), row.valExprs, false)
      case (a, _) => a
    })
}
