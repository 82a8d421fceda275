package graft.dsl

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._

/** Fluent typed query DSL — capability parity with the reference's ORM
  * (lealone-orm Model.java: select :294, where :424, groupBy :318,
  * having :345, orderBy :307, join(m).on() :868-886, and/or/not :356-421,
  * parens lp/rp :844-866, executors findList/findOne/findCount :443-730)
  * and its predicate vocabulary (ExpressionBuilder.java:109-276).
  *
  * Instead of the reference's SQL-text assembly, every call builds Catalyst
  * `Column` expressions over a DataFrame, so the composed query optimizes
  * and distributes like any other plan (pushdown, join strategy, AQE).
  * Immutable builder — each call returns a new Model.
  */
final case class Model private (
    private val df: DataFrame,
    private val frames: List[Model.Frame],
    private val selectCols: Seq[Column],
    private val groupCols: Seq[Column],
    private val aggCols: Seq[Column],
    private val havingCond: Option[Column],
    private val sortCols: Seq[Column],
    private val limitN: Option[Int],
    private val offsetN: Option[Int],
    private val binding: Option[(graft.sqlfront.Engine, String)]) {

  import Model.Frame

  // ---- predicate assembly (and/or/not + lp/rp stack machine) ----

  private def top: Frame = frames.head
  private def replaceTop(f: Frame): Model = copy(frames = f :: frames.tail)

  private def push(c: Column): Model = {
    val f = top
    val c2 = if (f.negateNext) !c else c
    val merged = f.acc match {
      case None => Some(c2)
      case Some(prev) => Some(if (f.orNext) prev || c2 else prev && c2)
    }
    replaceTop(f.copy(acc = merged, orNext = false, negateNext = false))
  }

  /** Next predicate (or group) combines with OR instead of AND. */
  def or(): Model = replaceTop(top.copy(orNext = true))
  /** Alias for readability; AND is the default combiner. */
  def and(): Model = replaceTop(top.copy(orNext = false))
  /** Negate the next predicate (or group). */
  def not(): Model = replaceTop(top.copy(negateNext = !top.negateNext))
  /** Open a parenthesized group (Model.java lp :844). */
  def lp(): Model = copy(frames = Frame() :: frames)
  /** Close the group and fold it into the enclosing conjunction. */
  def rp(): Model = {
    require(frames.tail.nonEmpty, "rp() without matching lp()")
    val closed = top.acc.getOrElse(lit(true))
    copy(frames = frames.tail).push(closed)
  }

  /** No-op marker for readability (reference `where()` returns `this`). */
  def where(): Model = this

  // ---- ExpressionBuilder vocabulary (ExpressionBuilder.java:109-276) ----

  def eq(c: String, v: Any): Model = push(col(c) === lit(v))
  def ne(c: String, v: Any): Model = push(col(c) =!= lit(v))
  def ieq(c: String, v: String): Model = push(lower(col(c)) === v.toLowerCase)
  def gt(c: String, v: Any): Model = push(col(c) > lit(v))
  def ge(c: String, v: Any): Model = push(col(c) >= lit(v))
  def lt(c: String, v: Any): Model = push(col(c) < lit(v))
  def le(c: String, v: Any): Model = push(col(c) <= lit(v))
  def between(c: String, a: Any, b: Any): Model = push(col(c).between(lit(a), lit(b)))
  def isNull(c: String): Model = push(col(c).isNull)
  def isNotNull(c: String): Model = push(col(c).isNotNull)
  def in(c: String, vs: Any*): Model = push(col(c).isin(vs: _*))
  def notIn(c: String, vs: Any*): Model = push(!col(c).isin(vs: _*))
  def like(c: String, p: String): Model = push(col(c).like(p))
  def ilike(c: String, p: String): Model = push(lower(col(c)).like(p.toLowerCase))
  def startsWith(c: String, p: String): Model = push(col(c).startsWith(p))
  def istartsWith(c: String, p: String): Model =
    push(lower(col(c)).startsWith(p.toLowerCase))
  def endsWith(c: String, p: String): Model = push(col(c).endsWith(p))
  def iendsWith(c: String, p: String): Model =
    push(lower(col(c)).endsWith(p.toLowerCase))
  def contains(c: String, p: String): Model = push(col(c).contains(p))
  def icontains(c: String, p: String): Model =
    push(lower(col(c)).contains(p.toLowerCase))
  /** regexp match (ExpressionBuilder `match`). */
  def matches(c: String, regex: String): Model = push(col(c).rlike(regex))
  def arrayContains(c: String, v: Any): Model =
    push(array_contains(col(c), lit(v)))
  def arrayNotContains(c: String, v: Any): Model =
    push(!array_contains(col(c), lit(v)))
  def arrayIsEmpty(c: String): Model = push(size(col(c)) === 0)
  def arrayIsNotEmpty(c: String): Model = push(size(col(c)) > 0)
  /** Arbitrary Column predicate escape hatch. */
  def cond(c: Column): Model = push(c)

  // ---- shaping ----

  def select(cols: String*): Model = copy(selectCols = cols.map(col))
  def selectExpr(cols: Column*): Model = copy(selectCols = cols)
  def groupBy(cols: String*): Model = copy(groupCols = cols.map(col))
  def agg(aggs: Column*): Model = copy(aggCols = aggs)
  def having(c: Column): Model = copy(havingCond = Some(c))
  def orderBy(cols: String*): Model = copy(sortCols = cols.map(col))
  def orderByDesc(cols: String*): Model = copy(sortCols = cols.map(c => col(c).desc))
  def orderByExpr(cols: Column*): Model = copy(sortCols = cols)
  def limit(n: Int): Model = copy(limitN = Some(n))
  def offset(n: Int): Model = copy(offsetN = Some(n))

  /** INNER/typed join to another model (Model.java join(m).on() :868-886). */
  def join(other: Model, on: Column, how: String = "inner"): Model =
    copy(df = toRelation.join(other.toRelation, on, how),
      frames = List(Frame()), selectCols = Nil, groupCols = Nil, aggCols = Nil,
      havingCond = None, sortCols = Nil, limitN = None, offsetN = None)

  // ---- execution ----

  private def toRelation: DataFrame = {
    require(frames.size == 1, "unbalanced lp()/rp()")
    // Engine-bound models read through to the live catalog table, so a
    // model instance sees its own (and other) mutations — the reference
    // ORM's behavior; unbound models keep their captured Dataset
    var r = binding.map { case (e, t) => e.table(t) }.getOrElse(df)
    top.acc.foreach(c => r = r.filter(c))
    r
  }

  /** Compose the final DataFrame (lazy; nothing executes until an action). */
  def toDF: DataFrame = {
    var r = toRelation
    if (groupCols.nonEmpty || aggCols.nonEmpty) {
      val g = r.groupBy(groupCols: _*)
      r = if (aggCols.nonEmpty) g.agg(aggCols.head, aggCols.tail: _*)
      else g.count()
      havingCond.foreach(c => r = r.filter(c))
    }
    if (selectCols.nonEmpty) r = r.select(selectCols: _*)
    if (sortCols.nonEmpty) r = r.orderBy(sortCols: _*)
    offsetN.foreach(n => r = r.offset(n))
    limitN.foreach(n => r = r.limit(n))
    r
  }

  def toDS[T: Encoder]: Dataset[T] = toDF.as[T]

  // reference executors (Model.java findList :443, findCount :520, findOne)
  def findList(): Array[org.apache.spark.sql.Row] = toDF.collect()
  def findCount(): Long = toDF.count()
  def findOne(): Option[org.apache.spark.sql.Row] = toDF.limit(1).collect().headOption

  // ---- DAO executors (Model.java insert :736, update :644, delete :600 —
  // the reference Model mutates through its session; here through the
  // bound Engine's copy-on-write catalog, so the mutation is snapshot-
  // atomic and participates in the Engine's transactions) ----

  private def bound: (graft.sqlfront.Engine, String) =
    binding.getOrElse(throw new IllegalStateException(
      "mutation executors need an Engine-bound model: Model(engine, table)"))

  /** Insert one row of (column → value) pairs; returns rows inserted. */
  def insert(values: (String, Any)*): Long = {
    val (engine, tn) = bound
    val t = engine.table(tn)
    val cols = values.map(_._1.toLowerCase)
    val row = values.map { case (_, v) => lit(v) }
    val src = t.sparkSession.range(1).select(
      row.zip(cols).map { case (c, n) => c.as(n) }: _*)
    engine.insertFrom(tn, Some(cols), src)
    1L
  }

  /** UPDATE rows matching the built predicate; returns affected count. */
  def update(sets: (String, Any)*): Long = {
    require(frames.size == 1, "unbalanced lp()/rp()")
    val (engine, tn) = bound
    val t = engine.table(tn)
    val cond = top.acc.getOrElse(lit(true))
    val n = t.filter(cond).count()
    engine.commitVersion(tn,
      graft.operators.Dml.update(t, cond,
        sets.map { case (c, v) => c.toLowerCase -> lit(v) }.toMap))
    n
  }

  /** DELETE rows matching the built predicate; returns affected count. */
  def delete(): Long = {
    require(frames.size == 1, "unbalanced lp()/rp()")
    val (engine, tn) = bound
    val t = engine.table(tn)
    val cond = top.acc.getOrElse(lit(true))
    val n = t.filter(cond).count()
    engine.commitVersion(tn, graft.operators.Dml.delete(t, cond))
    n
  }

  // transaction hooks (Model.java beginTransaction :?/commitTransaction) —
  // delegate to the Engine's catalog-snapshot transactions
  def beginTransaction(): Unit = { val (e, _) = bound; e.sql("BEGIN") }
  def commitTransaction(): Unit = { val (e, _) = bound; e.sql("COMMIT") }
  def rollbackTransaction(): Unit = { val (e, _) = bound; e.sql("ROLLBACK") }

  /** printSQL twin (Model.java printSQL): the composed plan, not SQL text —
    * the honest equivalent for a Catalyst-building DSL. */
  def explain(): String = toDF.queryExecution.toString()
}

object Model {
  private[dsl] final case class Frame(
      acc: Option[Column] = None,
      orNext: Boolean = false,
      negateNext: Boolean = false)

  def apply(ds: Dataset[_]): Model =
    new Model(ds.toDF(), List(Frame()), Nil, Nil, Nil, None, Nil, None, None,
      None)

  /** Engine-bound model over a catalog table: query + mutation executors. */
  def apply(engine: graft.sqlfront.Engine, tableName: String): Model =
    new Model(engine.table(tableName), List(Frame()), Nil, Nil, Nil, None,
      Nil, None, None, Some((engine, tableName.toLowerCase)))
}
