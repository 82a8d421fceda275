package graft.sqlfront

import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.types._

/** CREATE [FORCE] AGGREGATE name FOR "class" (ddl/CreateAggregate.java +
  * db/UserAggregate.java + api/AggregateFunction.java): the user class
  * exposes `add(Object)` / `getResult()` (plus optional `init(Connection)`
  * and `getType(int[])`), duck-typed by reflection exactly as the
  * reference resolves the class by name and feeds an instance
  * row-at-a-time per group (expression/aggregate/JavaAggregate.java).
  *
  * Spark mapping: a call `NAME([DISTINCT] args…)` binds when its statement
  * runs ([[Resolve]]) to the finisher `ScalaUDF` over
  * `collect_list([DISTINCT] struct(args…))`; nothing is registered in the
  * session. The opaque add/getResult contract cannot be decomposed into
  * partial aggregates, so each group's values are gathered with the
  * NATIVE collect_list (whose partial buffers do merge map-side) and the
  * user instance runs once per group inside the finisher. The struct
  * wrapper is load-bearing: struct(x) is never NULL even when x is, so
  * NULL rows reach add() as JavaAggregate feeds them (collect_list alone
  * drops nulls), and a multi-argument call arrives as one tuple the
  * finisher unpacks to the reference's Object[] form
  * (JavaAggregate.java:195-207); DISTINCT applies to whole argument
  * tuples. That is the reference's own cost model — JavaAggregate also
  * evaluates the user object over every row of the group — so the
  * shape is honest at scale: per-group memory is the group's value list,
  * same as the reference; decomposable aggregates belong in the typed
  * `graft.functions.Aggregators` instead. */
private[sqlfront] object UserAggregate {

  /** Resolve the duck-typed surface; loud if the contract is missing
    * (CreateAggregate validates the class up front unless FORCE, matching
    * UserAggregate.java's force flag). */
  private def surface(className: String)
      : (AnyRef, java.lang.reflect.Method, java.lang.reflect.Method) = {
    val cls = Class.forName(className)
    val inst = cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
    def find(n: String, arity: Int) = cls.getMethods
      .find(m => m.getName == n && m.getParameterCount == arity)
    val add = find("add", 1).getOrElse(throw new IllegalArgumentException(
      s"aggregate class $className has no add(Object) method (api/AggregateFunction.java:30)"))
    val res = find("getResult", 0).getOrElse(throw new IllegalArgumentException(
      s"aggregate class $className has no getResult() method (api/AggregateFunction.java:37)"))
    (inst, add, res)
  }

  def validate(className: String): Unit = surface(className)

  /** java.sql.Types → Spark type via the user's getType(int[]) hook
    * (AggregateFunction.getType decides the SQL result type); absent or
    * failing → VARCHAR, the reference's common case. The reference passes
    * the call site's argument types (JavaAggregate.optimize); here the type
    * is fixed when the call binds, before its argument types are known, so
    * the hook sees a single java.sql.Types.NULL — the `inputTypes[0]`
    * idiom still indexes safely and type-independent implementations (the
    * common case) are unaffected. Documented divergence. */
  private def resultType(className: String): DataType =
    try {
      val cls = Class.forName(className)
      cls.getMethods.find(m => m.getName == "getType" && m.getParameterCount == 1)
        .map { gt =>
          val inst = cls.getDeclaredConstructor().newInstance()
          gt.invoke(inst, Array(java.sql.Types.NULL)) match {
            case n: java.lang.Integer => n.intValue() match {
              case java.sql.Types.INTEGER => IntegerType
              case java.sql.Types.BIGINT => LongType
              case java.sql.Types.DOUBLE | java.sql.Types.FLOAT => DoubleType
              case java.sql.Types.REAL => FloatType
              case java.sql.Types.BOOLEAN | java.sql.Types.BIT => BooleanType
              case java.sql.Types.SMALLINT => ShortType
              case java.sql.Types.DECIMAL | java.sql.Types.NUMERIC =>
                DecimalType(38, 18)
              case _ => StringType
            }
            case _ => StringType
          }
        }.getOrElse(StringType)
    } catch { case _: Exception => StringType }

  /** The call `f` of aggregate `name` (class `className`): the finisher
    * over `collect_list([DISTINCT] struct(args…)) [FILTER (…)]`. */
  def call(name: String, className: String, f: UnresolvedFunction): Expression = {
    val rt = resultType(className)
    val values = UnresolvedFunction(Seq("collect_list"),
      Seq(UnresolvedFunction(Seq("struct"), f.arguments, false)), f.isDistinct, f.filter)
    ScalaUDF(new Fin(className, rt), rt, Seq(values), udfName = Some(name))
  }

  /** The finisher: feeds one group's collected tuples to a fresh user
    * instance. Serializable; it ships only the class NAME, and each JVM
    * resolves it by reflection (user classes live on the application
    * classpath, the same deployment contract as the reference's
    * Utils.loadUserClass). */
  private final class Fin(className: String, rt: DataType)
      extends (AnyRef => AnyRef) with Serializable {
    def apply(vs: AnyRef): AnyRef = {
      val values: Iterator[AnyRef] = vs match {
        case null => Iterator.empty
        case l: java.util.List[_] =>
          l.asInstanceOf[java.util.List[AnyRef]].iterator()
            .asInstanceOf[java.util.Iterator[AnyRef]] match {
            case it => new Iterator[AnyRef] {
              def hasNext = it.hasNext; def next() = it.next()
            }
          }
        case s: scala.collection.Seq[_] =>
          s.iterator.asInstanceOf[Iterator[AnyRef]]
        case other => Iterator.single(other)
      }
      val (inst, add, res) = surface(className)
      // each element is the struct(args…) tuple row: one arg unwraps to
      // its (possibly NULL) value, several pass as Object[] — exactly
      // JavaAggregate.java:203-207's add(arg) vs add(argValues) split
      values.foreach { v =>
        val arg: AnyRef = v match {
          case r: org.apache.spark.sql.Row =>
            if (r.length == 1) r.get(0).asInstanceOf[AnyRef]
            else Array.tabulate[AnyRef](r.length)(i =>
              r.get(i).asInstanceOf[AnyRef])
          case other => other
        }
        add.invoke(inst, arg)
      }
      val out = res.invoke(inst)
      (rt, out) match {
        case (_, null) => null
        case (StringType, o) => o.toString
        case (IntegerType, n: java.lang.Number) => Int.box(n.intValue())
        case (LongType, n: java.lang.Number) => Long.box(n.longValue())
        case (DoubleType, n: java.lang.Number) => Double.box(n.doubleValue())
        case (FloatType, n: java.lang.Number) => Float.box(n.floatValue())
        case (ShortType, n: java.lang.Number) => Short.box(n.shortValue())
        case (_: DecimalType, n: java.lang.Number) => n match {
          case d: java.math.BigDecimal => d
          case _ => new java.math.BigDecimal(n.toString)
        }
        case (_, o) => o
      }
    }
  }
}
