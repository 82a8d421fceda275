package graft.sqlfront

import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.types._


/** CREATE ALIAS target resolution (ddl/CreateFunctionAlias.java +
  * db/schema/FunctionAlias.java — the reference also resolves
  * `"class.method"` by reflection and wraps it as a SQL function). The
  * method is looked up lazily inside the closure by name so the UDF stays
  * serializable for executors; only public static methods qualify, matching
  * FunctionAlias.java's `Modifier.isStatic` check. Source-code aliases
  * (`CREATE ALIAS … AS $$code$$`, FunctionAlias.loadFromSource) compile
  * the source in-memory via [[SourceCompiler]]; the closure captures only
  * the (class name, source) strings and each JVM compiles once, so the
  * UDF stays serializable for a real cluster too. */
private[sqlfront] object ReflectAlias {

  private def resolve(target: String): java.lang.reflect.Method = {
    val dot = target.lastIndexOf('.')
    require(dot > 0, s"""alias target must be "class.method": $target""")
    val (clsName, mName) = (target.substring(0, dot), target.substring(dot + 1))
    Class.forName(clsName).getMethods
      .filter(m => m.getName == mName &&
        java.lang.reflect.Modifier.isStatic(m.getModifiers))
      .sortBy(_.getParameterCount)
      .headOption
      .getOrElse(throw new IllegalArgumentException(
        s"no public static method $mName on $clsName"))
  }

  private def sparkType(c: Class[_]): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    c match {
      case java.lang.Integer.TYPE => IntegerType
      case c if c == classOf[java.lang.Integer] => IntegerType
      case java.lang.Long.TYPE => LongType
      case c if c == classOf[java.lang.Long] => LongType
      case java.lang.Double.TYPE => DoubleType
      case c if c == classOf[java.lang.Double] => DoubleType
      case java.lang.Float.TYPE => FloatType
      case c if c == classOf[java.lang.Float] => FloatType
      case java.lang.Boolean.TYPE => BooleanType
      case c if c == classOf[java.lang.Boolean] => BooleanType
      case java.lang.Short.TYPE => ShortType
      case c if c == classOf[java.lang.Short] => ShortType
      case c if c == classOf[String] => StringType
      case c if c == classOf[Array[Byte]] => BinaryType
      case c if c == classOf[java.math.BigDecimal] => DecimalType(38, 18)
      case other => throw new IllegalArgumentException(
        s"unsupported alias parameter/return type: $other")
    }
  }

  /** The call of alias `name` over `args`: a `ScalaUDF` of its method,
    * built when the statement binds (nothing is registered). A source
    * alias (`CREATE ALIAS name AS $$source$$`) compiles a class named
    * after the alias (FunctionAlias.loadFromSource — USER_PACKAGE "."
    * aliasName; here unpackaged) whose entry point is its first public
    * static method. The method is resolved here on the driver, so a FORCE
    * alias that cannot load fails at its first call with the loader's
    * error. */
  def call(name: String, a: AliasDef, args: Seq[Expression]): Expression = {
    val r = resolver(name, a)
    val m = r.resolve()
    val returnType = signature(m)
    val n = m.getParameterCount
    require(args.length == n, s"alias $name takes $n arguments, not ${args.length}")
    val fn = new Fn(r)
    val f: AnyRef = n match {
      case 0 => () => fn.call(Array.empty)
      case 1 => (x: AnyRef) => fn.call(Array(x))
      case 2 => (x: AnyRef, y: AnyRef) => fn.call(Array(x, y))
      case 3 => (x: AnyRef, y: AnyRef, z: AnyRef) => fn.call(Array(x, y, z))
    }
    ScalaUDF(f, returnType, args, udfName = Some(name))
  }

  /** The checks [[call]] makes, without building a call. */
  def validate(name: String, a: AliasDef): Unit = signature(resolver(name, a).resolve())

  private def resolver(name: String, a: AliasDef): Resolver =
    if (a.source) new SourceResolver(name, a.body) else new TargetResolver(a.body)

  /** The return type of alias method `m`, which takes at most 3 arguments. */
  private def signature(m: java.lang.reflect.Method): DataType = {
    require(m.getParameterCount <= 3,
      s"alias arity ${m.getParameterCount} not supported (max 3)")
    sparkType(m.getReturnType)
  }

  /** Serializable lazy method lookup — ships strings, resolves per JVM. */
  private[sqlfront] sealed trait Resolver extends Serializable {
    def resolve(): java.lang.reflect.Method
  }
  private final class TargetResolver(target: String) extends Resolver {
    def resolve(): java.lang.reflect.Method = ReflectAlias.resolve(target)
  }
  private final class SourceResolver(name: String, source: String) extends Resolver {
    def resolve(): java.lang.reflect.Method =
      SourceCompiler.entryMethod(SourceCompiler.compile(name, source), source)
  }

  /** Serializable wrapper: captures only strings, resolves lazily per JVM. */
  private final class Fn(resolver: Resolver) extends Serializable {
    @transient private lazy val method = resolver.resolve()
    // Convert each SQL value to the Java parameter type, as the
    // reference's FunctionAlias does via Value.convertTo before invoke
    private def coerce(a: AnyRef, t: Class[_]): AnyRef = a match {
      case null => null
      case n: java.lang.Number => t match {
        case java.lang.Integer.TYPE => Int.box(n.intValue())
        case c if c == classOf[java.lang.Integer] => Int.box(n.intValue())
        case java.lang.Long.TYPE => Long.box(n.longValue())
        case c if c == classOf[java.lang.Long] => Long.box(n.longValue())
        case java.lang.Double.TYPE => Double.box(n.doubleValue())
        case c if c == classOf[java.lang.Double] => Double.box(n.doubleValue())
        case java.lang.Float.TYPE => Float.box(n.floatValue())
        case c if c == classOf[java.lang.Float] => Float.box(n.floatValue())
        case java.lang.Short.TYPE => Short.box(n.shortValue())
        case c if c == classOf[java.lang.Short] => Short.box(n.shortValue())
        case c if c == classOf[java.math.BigDecimal] => n match {
          case d: java.math.BigDecimal => d
          case _ => new java.math.BigDecimal(n.toString)
        }
        case c if c == classOf[String] => n.toString
        case _ => n
      }
      case other if t == classOf[String] => other.toString
      case other => other
    }
    def call(args: Array[AnyRef]): AnyRef = {
      val pts = method.getParameterTypes
      method.invoke(null, args.zip(pts).map { case (a, t) => coerce(a, t) }: _*)
    }
  }
}
