package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.{ComputeCurrentTime, ReplaceExpressions, RewriteWithExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types._

import graft.core.Checkpoint

/** Primary-key reads over a keyed base: the Spark-side half of the
  * reference's clustered primary-key B-tree (StandardPrimaryIndex.java:38).
  *
  * A keyed base is a materialized frame (a `LogicalRDD`) sorted within
  * each partition on one integral key, registered with each partition's
  * key span ([[cut]]). [[KeyLookupStrategy]] plans a scan of
  * such a base whose filters bound the key with literals (`=`, `IN`, `<`,
  * `<=`, `>`, `>=`, BETWEEN) to at most half of its non-empty partitions
  * as a [[KeyLookupExec]]: it runs only the partitions whose spans admit
  * the keys, skips within each to the key ranges, and evaluates the whole
  * filter and the projection above it interpreted, so the keys never
  * reach generated code and a new key compiles nothing. Every other shape
  * keeps Spark's own plan.
  *
  * Writes keep a keyed table's version in a normal form: row-local
  * rewrites of its base, UNION ALL the rows written since, held on the
  * driver ([[rewritten]]), the reference's B-tree page plus redo log. A
  * compaction merges those rows into the base's partitions in place
  * ([[merged]]) instead of cutting the version whole.
  *
  * The same interpreted operators read driver-local frames, such as a
  * VALUES batch: [[localRows]] is the one place the engine reads their
  * rows, with no planning, job or SQL execution.
  *
  * The registry holds its bases weakly: a base that nothing reads any more
  * leaves it with its RDD, and its owner drops it with [[forget]] as soon
  * as it releases the base's blocks.
  */
object KeyLookup {

  /** One partition of a keyed base: its least and greatest key and its
    * number of rows with a key. */
  private[graft] final case class Span(min: Long, max: Long, rows: Long)

  /** A registered base: the key's ordinal in the base's output, and each
    * partition's span, None for a partition with no key. */
  private[graft] final case class Keyed(key: Int, spans: Array[Option[Span]])

  private val bases = mutable.WeakHashMap.empty[RDD[_], Keyed]

  /** Whether a key of type `dt` can key a base. */
  def keyable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Materialize `df`, a version of a keyed table, as a keyed base on its
    * integral column `key` and register it. A version in normal form
    * ([[normalBase]]) whose base can take its rows is merged into that base's
    * partitions in one narrow job ([[merged]]); any other is cut whole
    * ([[reshuffled]]). */
  def cut(df: DataFrame, key: String): DataFrame =
    register(merged(df, key).getOrElse(reshuffled(df, key)), key)

  /** [[cut]] without the merge: `df` split on key points and sorted. */
  private[graft] def fullCut(df: DataFrame, key: String): DataFrame =
    register(reshuffled(df, key), key)

  private def register(base: DataFrame, key: String): DataFrame = {
    val (rdd, k, spans) = spansOf(base, key)
    install(base.sparkSession)
    bases.synchronized { bases(rdd) = Keyed(k, spans) }
    base
  }

  /** `df` materialized with the partition count of the session's default
    * parallelism, split on key points and sorted on the key within each
    * partition. The split points are estimated from the spans of the
    * registered bases `df` reads (its table's previous base, as a rule),
    * so `df` is evaluated once and nothing samples it. A frame that reads
    * no keyed base (a table's first compaction) has nothing to estimate
    * from: it is materialized as it is first, and its rows are split from
    * there on its own spans. */
  private def reshuffled(df: DataFrame, key: String): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val read = df.queryExecution.analyzed.collectLeaves().flatMap {
      case l: LogicalRDD => lookup(l.rdd).toSeq
        .filter(k => l.output(k.key).name.equalsIgnoreCase(key))
        .flatMap(_.spans.toSeq.flatten)
      case _ => Nil
    }
    val flat = if (read.isEmpty) Some(Checkpoint.cut(df.coalesce(n))) else None
    val from = flat.getOrElse(df)
    val spans = flat.fold(read)(spansOf(_, key)._3.toSeq.flatten)
    val laid =
      if (spans.isEmpty) from.coalesce(n)
      else from.repartitionById(n, partitionOf(col(key), splits(spans, n)))
    val base = Checkpoint.cut(laid.sortWithinPartitions(key))
    flat.foreach(Checkpoint.release(_, Nil))
    base
  }

  /** Whether `df` is a version of a keyed table in normal form, and then
    * the keyed base it reads: deterministic, row-local `Filter` and
    * `Project` rewrites of a registered keyed base that pass its key `key`
    * through unchanged, UNION ALL one driver-local relation (a
    * `LocalRelation`) of the rows written since the base was cut; or such
    * a rewrite alone. */
  private[graft] def normalBase(df: DataFrame, key: String): Option[LogicalRDD] =
    normal(df.queryExecution.analyzed, key).map(_._3)

  /** The next version of `v`, a version in normal form ([[normalBase]]):
    * `f` applied to the rewrite of its base and, on the driver with no
    * job, to its rows written since, with the rows of `added`, a frame
    * over a driver-local relation, after those. None when `v` is not in
    * normal form, when `f` or `added` cannot be evaluated on the driver
    * or changes a column's type, or when `f` does not keep the form (it
    * changes the key or is nondeterministic). */
  def rewritten(v: DataFrame, key: String, f: DataFrame => DataFrame,
      added: Option[DataFrame] = None): Option[DataFrame] =
    normal(v.queryExecution.analyzed, key).flatMap { case (rewrite, local, _) =>
      val spark = v.sparkSession
      val next = f(GraftColumnBridge.ofRows(spark, rewrite)).queryExecution.analyzed
      // `f`'s rewrites, moved from the old rewrite onto the rows written since
      def onLocal(p: LogicalPlan): Option[LogicalPlan] =
        if (p eq rewrite) Some(LocalRelation(rewrite.output, local.fold(Seq.empty[InternalRow])(_.data)))
        else p match {
          case _: Filter | _: Project => onLocal(p.children.head).map(c => p.withNewChildren(Seq(c)))
          case _ => None
        }
      def typed(p: LogicalPlan) = p.output.map(_.dataType) == rewrite.output.map(_.dataType)
      for {
        kept <- onLocal(next).filter(_ => typed(next)).flatMap(folded)
        more <- added.fold(Option(Seq.empty[InternalRow]))(a =>
          Some(a.queryExecution.analyzed).filter(typed).flatMap(folded))
        version = GraftColumnBridge.ofRows(spark, Union(Seq(next, LocalRelation(
          next.output.map(_.withNullability(true).newInstance()), kept ++ more))))
        if normalBase(version, key).isDefined
      } yield version
    }

  /** The rows of `df` when it is driver-local: a chain of `Filter` and
    * `Project` ([[stepOf]]) over a driver-local relation (a
    * `LocalRelation`), such as a VALUES batch aligned to a table. They are
    * computed on the driver: current-time expressions take the statement's
    * time and the expressions the optimizer would replace are replaced as
    * it does, then each operator runs interpreted, so nothing plans,
    * compiles or runs a job. This is the one place a driver-local frame's
    * rows are read. None for any other frame. */
  def localRows(df: DataFrame): Option[Seq[InternalRow]] = folded(df.queryExecution.analyzed)

  /** A frame of `df`'s columns over the driver-local relation `rows`. */
  def localFrame(df: DataFrame, rows: Seq[InternalRow]): DataFrame =
    GraftColumnBridge.ofRows(df.sparkSession, LocalRelation(DataTypeUtils.toAttributes(df.schema), rows))

  /** [[localRows]] of a plan. */
  private def folded(plan: LogicalPlan): Option[Seq[InternalRow]] = {
    def evaluable(e: Expression) = !SubqueryExpression.hasSubquery(e) &&
      !e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[Attribute])
    def eval(p: LogicalPlan): Option[Iterator[InternalRow]] = p match {
      case l: LocalRelation => Some(l.data.iterator)
      case _ if p.expressions.forall(evaluable) =>
        stepOf(p).flatMap(step => eval(p.children.head).map(step(0)))
      case _ => None
    }
    eval(RewriteWithExpression(ReplaceExpressions(ComputeCurrentTime(EliminateSubqueryAliases(plan)))))
      .map(_.map(_.copy()).toVector)
  }

  /** The rewrite, the rows written since and the base of `plan`, a
    * version in normal form ([[normalBase]]). */
  private def normal(plan: LogicalPlan,
      key: String): Option[(LogicalPlan, Option[LocalRelation], LogicalRDD)] = {
    val (rewrite, local) = plan match {
      case Union(Seq(b, l: LocalRelation), false, false) => (b, Some(l))
      case b => (b, None)
    }
    rewriteOf(rewrite, key).map(r => (rewrite, local, r._1))
  }

  /** A `Filter` or `Project` as the iterator it makes of partition i's
    * rows of its child. Filter and projection are interpreted, and a
    * projection's rows are reused buffers. */
  private def stepOf(op: LogicalPlan): Option[Int => Iterator[InternalRow] => Iterator[InternalRow]] =
    op match {
      case Filter(c, child) =>
        val bound = BindReferences.bindReference(c, child.output)
        Some { i: Int =>
          val pred = Predicate.createInterpreted(bound)
          pred.initialize(i)
          _.filter(pred.eval)
        }
      case Project(list, child) =>
        val bound = BindReferences.bindReferences(list, child.output)
        Some { i: Int =>
          val proj = InterpretedUnsafeProjection.createProjection(bound)
          proj.initialize(i)
          _.map(proj)
        }
      case _ => None
    }

  /** The base `plan` rewrites, its registration, and the rewrites from the
    * base up, when `plan` is a chain of row-local rewrites over a
    * registered keyed base whose key is `key`, and every `Project` passes
    * the key through. A row-local rewrite is a `Filter` or `Project` with
    * deterministic expressions, no current time and no subquery, so it
    * reads alike each time the base is read. */
  private def rewriteOf(plan: LogicalPlan, key: String): Option[
      (LogicalRDD, Keyed, Seq[Int => Iterator[InternalRow] => Iterator[InternalRow]])] = {
    def chain(p: LogicalPlan): Option[(LogicalRDD, Seq[LogicalPlan])] = p match {
      case l: LogicalRDD => Some((l, Nil))
      case Filter(_, child) => chain(child).map { case (l, ops) => (l, ops :+ p) }
      case Project(_, child) => chain(child).map { case (l, ops) => (l, ops :+ p) }
      case _ => None
    }
    for {
      (base, ops) <- chain(plan)
      keyed <- lookup(base.rdd)
      k = base.output(keyed.key)
      if k.name.equalsIgnoreCase(key) && ops.forall {
        case Project(list, _) => list.exists { case a: Attribute => a.exprId == k.exprId; case _ => false }
        case _ => true
      } && ops.flatMap(_.expressions).forall(e => e.deterministic &&
        !SubqueryExpression.hasSubquery(e) && !e.containsPattern(TreePattern.CURRENT_LIKE))
    } yield (base, keyed, ops.flatMap(stepOf))
  }

  /** `df`, a version in normal form ([[normalBase]]), merged into the
    * partitions of the base it rewrites, in one narrow job with no
    * exchange: partition i of the new base is partition i of the old one,
    * rewritten (filters and projections evaluated interpreted, so nothing
    * compiles), with the written rows whose keys the old partition's span
    * reaches merged into its key order. A written row goes to the first
    * partition whose greatest key is at least its own, past the last to
    * the last, and a null key to partition 0. None when `df` is in no
    * normal form, when the base's spans are not disjoint and ascending,
    * when it holds no row, or when a partition would hold more than twice
    * an even share of the rows: then the version is cut whole, which
    * splits it afresh. */
  private[graft] def merged(df: DataFrame, key: String): Option[DataFrame] = for {
    (rewrite, local, _) <- normal(df.queryExecution.analyzed, key)
    optimized = GraftColumnBridge.ofRows(df.sparkSession, rewrite).queryExecution.optimizedPlan
    (base, keyed, steps) <- rewriteOf(optimized, key)
    filled = keyed.spans.indices.filter(keyed.spans(_).isDefined)
    if filled.nonEmpty && filled.zip(filled.drop(1)).forall { case (a, b) =>
      keyed.spans(a).get.max < keyed.spans(b).get.min }
    k = optimized.output.indexWhere(_.exprId == base.output(keyed.key).exprId)
    read = reader(optimized.output(k).dataType, k)
    written = local.fold(Seq.empty[InternalRow])(_.data).groupBy { r =>
      if (r.isNullAt(k)) 0
      else filled.find(keyed.spans(_).get.max >= read(r)).getOrElse(filled.last)
    }
    rows = keyed.spans.indices.map(i =>
      keyed.spans(i).fold(0L)(_.rows) + written.get(i).fold(0)(_.size))
    if rows.max * rows.size <= 2 * rows.sum
  } yield {
    val before = (a: InternalRow, b: InternalRow) =>
      a.isNullAt(k) || !b.isNullAt(k) && read(a) <= read(b)
    val into = keyed.spans.indices.map(i =>
      written.getOrElse(i, Nil).sortWith(before).toArray).toArray
    val rdd = base.rdd.mapPartitionsWithIndex { (i, it) =>
      val rewritten = steps.foldLeft(it)((rs, step) => step(i)(rs)).buffered
      val adds = into(i).iterator.buffered
      new Iterator[InternalRow] {
        def hasNext: Boolean = rewritten.hasNext || adds.hasNext
        def next(): InternalRow =
          if (!adds.hasNext || rewritten.hasNext && before(rewritten.head, adds.head))
            rewritten.next()
          else adds.next()
      }
    }
    Checkpoint.cut(GraftColumnBridge.internalFrame(df.sparkSession, rdd, df.schema))
  }

  /** The partition of a row whose key is `key`: the number of `splits`
    * below it (a null key goes to partition 0). */
  private def partitionOf(key: Column, splits: Seq[Long]): Column =
    splits.foldLeft(lit(0))((p, s) => p + when(key > s, 1).otherwise(0))

  /** `n - 1` ascending split points that cut the keys of `spans` into `n`
    * parts of about equal rows, taking each span's rows as spread evenly
    * over its keys. Spans may overlap. */
  private[graft] def splits(spans: Seq[Span], n: Int): Seq[Long] = {
    val total = spans.map(_.rows).sum.toDouble
    def atOrBelow(x: Long): Double = spans.map { s =>
      if (x < s.min) 0.0
      else if (x >= s.max) s.rows.toDouble
      else s.rows * ((x.toDouble - s.min + 1) / (s.max.toDouble - s.min + 1))
    }.sum
    (1 until n).map { j =>
      // the least key with at least j/n of the rows at or below it
      var lo = spans.map(_.min).min
      var hi = spans.map(_.max).max
      while (lo < hi) {
        val mid = (lo & hi) + ((lo ^ hi) >> 1)
        if (atOrBelow(mid) >= total * j / n) hi = mid else lo = mid + 1
      }
      lo
    }
  }

  /** The RDD of `frame`, a materialized frame (a `LogicalRDD`), the
    * ordinal of its integral column `key`, and each partition's key span,
    * read in one job. */
  private def spansOf(frame: DataFrame, key: String): (RDD[_], Int, Array[Option[Span]]) =
    frame.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val k = l.output.indexWhere(_.name.equalsIgnoreCase(key))
        require(k >= 0 && keyable(l.output(k).dataType), s"not an integral column: $key")
        val read = reader(l.output(k).dataType, k)
        (l.rdd, k, l.rdd.mapPartitions { it =>
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var rows = 0L
          it.foreach { r =>
            if (!r.isNullAt(k)) { val v = read(r); lo = lo min v; hi = hi max v; rows += 1 }
          }
          Iterator.single(if (rows > 0) Some(Span(lo, hi, rows)) else None)
        }.collect())
      case other => throw new IllegalArgumentException(
        s"a keyed base must be a materialized frame, not ${other.nodeName}")
    }

  /** Drop `base`, a frame [[cut]] returned, from the registry
    * once its blocks are released; any other frame is not registered. */
  def forget(base: DataFrame): Unit = base.queryExecution.analyzed match {
    case l: LogicalRDD => bases.synchronized { bases.remove(l.rdd) }
    case _ =>
  }

  /** The ids of the registered bases' RDDs. */
  private[graft] def registered: Seq[Int] = bases.synchronized { bases.keys.map(_.id).toSeq }

  private[graft] def lookup(rdd: RDD[_]): Option[Keyed] = bases.synchronized { bases.get(rdd) }

  /** Install [[KeyLookupStrategy]] in `spark` (idempotent). */
  private def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(KeyLookupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ KeyLookupStrategy

  private[plans] def reader(dt: DataType, k: Int): InternalRow => Long = dt match {
    case ByteType => _.getByte(k).toLong
    case ShortType => _.getShort(k).toLong
    case IntegerType => _.getInt(k).toLong
    case LongType => _.getLong(k)
  }

  /** The sorted, disjoint, inclusive key ranges the conjunction `filters`
    * admits, from its conjuncts that compare `key` with a non-null literal
    * of the key's own type; None when no conjunct does. */
  private[plans] def keyRanges(filters: Seq[Expression], key: Attribute): Option[Seq[(Long, Long)]] = {
    def value(e: Expression): Option[Long] = e match {
      case Literal(v: Number, dt) if dt == key.dataType => Some(v.longValue)
      case _ => None
    }
    def isKey(e: Expression) = e.semanticEquals(key)
    def compare(op: String, v: Long): Seq[(Long, Long)] = op match {
      case "=" => Seq((v, v))
      case "<" => if (v == Long.MinValue) Nil else Seq((Long.MinValue, v - 1))
      case "<=" => Seq((Long.MinValue, v))
      case ">" => if (v == Long.MaxValue) Nil else Seq((v + 1, Long.MaxValue))
      case ">=" => Seq((v, Long.MaxValue))
    }
    val flip = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    def points(vs: Iterable[Option[Long]]): Option[Seq[(Long, Long)]] =
      if (vs.forall(_.isDefined)) Some(vs.flatten.toSeq.distinct.sorted.map(v => (v, v)))
      else None
    val ranges = filters.flatMap {
      case c: BinaryComparison if flip.contains(c.symbol) =>
        if (isKey(c.left)) value(c.right).map(compare(c.symbol, _))
        else if (isKey(c.right)) value(c.left).map(compare(flip(c.symbol), _))
        else None
      case In(k, list) if isKey(k) => points(list.map(value))
      case InSet(k, set) if isKey(k) =>
        points(set.map { case v: Number => Some(v.longValue); case _ => None })
      case _ => None
    }
    ranges.reduceOption { (xs, ys) =>
      for ((a, b) <- xs; (c, d) <- ys; lo = a max c; hi = b min d; if lo <= hi)
        yield (lo, hi)
    }
  }
}

/** A lookup in a keyed base ([[KeyLookup]]): `projectList` of the rows of
  * partitions `parts` of `rdd` (whose rows are `input`) with the key
  * (ordinal `key`) in one of the sorted `ranges` and satisfying
  * `condition`. Filter and projection are both interpreted, so no literal
  * of the read or of the versions above the base reaches generated code:
  * slower per row read, but no compile per statement. The strategy plans
  * one only where it skips at least half the base's partitions that hold
  * rows. The plan string names the key and the partitions read but no key
  * value, so two lookups of one shape print and compile alike. */
final case class KeyLookupExec(
    projectList: Seq[NamedExpression],
    input: Seq[Attribute],
    rdd: RDD[InternalRow],
    key: Int,
    ranges: Seq[(Long, Long)],
    parts: Seq[Int],
    condition: Expression) extends LeafExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def outputPartitioning: Partitioning = UnknownPartitioning(parts.size)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val k = key
    val read = KeyLookup.reader(input(key).dataType, key)
    val lo = ranges.map(_._1).toArray
    val hi = ranges.map(_._2).toArray
    val cond = BindReferences.bindReference(condition, input)
    val exprs = BindReferences.bindReferences(projectList, input)
    PartitionPruningRDD.create(rdd, parts.toSet).mapPartitionsWithIndex { (index, it) =>
      val pred = Predicate.createInterpreted(cond)
      pred.initialize(index)
      val proj = InterpretedUnsafeProjection.createProjection(exprs)
      proj.initialize(index)
      // the partition is sorted on the key: walk the ranges along it, and
      // stop reading once the last one is passed
      var r = 0
      it.takeWhile(_ => r < lo.length).filter { row =>
        !row.isNullAt(k) && {
          val v = read(row)
          while (r < lo.length && v > hi(r)) r += 1
          r < lo.length && v >= lo(r)
        } && pred.eval(row)
      }.map { row => numOutputRows += 1; proj(row) }
    }
  }

  override def simpleString(maxFields: Int): String =
    s"KeyLookup ${output.mkString("[", ",", "]")} key: ${input(key)}, " +
      s"partitions: ${parts.size} of ${rdd.getNumPartitions}"
}

/** Plans a key-bounded scan of a registered keyed base, with the
  * projections above it, as one [[KeyLookupExec]] when the key ranges
  * admit at most half of the base's non-empty partitions; `Nil` for
  * everything else. A wider read keeps Spark's compiled scan, which reads
  * as many partitions and evaluates its rows faster. */
object KeyLookupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(projects, filters, l: LogicalRDD)
        if filters.nonEmpty && !(projects ++ filters).exists(SubqueryExpression.hasSubquery) =>
      (for {
        keyed <- KeyLookup.lookup(l.rdd)
        ranges <- KeyLookup.keyRanges(filters, l.output(keyed.key))
        parts = keyed.spans.indices.filter(i => keyed.spans(i).exists { s =>
          ranges.exists { case (lo, hi) => lo <= s.max && hi >= s.min }
        })
        if 2 * parts.size <= keyed.spans.count(_.isDefined)
      } yield KeyLookupExec(projects, l.output, l.rdd, keyed.key, ranges, parts,
        filters.reduce(And(_, _)))).toList
    case _ => Nil
  }
}
