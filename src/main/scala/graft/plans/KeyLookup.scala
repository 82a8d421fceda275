package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
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

  /** Materialize `df` as a keyed base on its integral column `key`, with
    * the partition count of the session's default parallelism, and
    * register it. The rows go to partitions by split points estimated from
    * the spans of the registered bases `df` reads (its table's previous
    * base, as a rule), so `df` is evaluated once and nothing samples it. A
    * frame that reads no keyed base (a table's first compaction) has
    * nothing to estimate from: it is materialized as it is first, and its
    * rows are split from there on its own spans. */
  def cut(df: DataFrame, key: String): DataFrame = {
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
    val (rdd, k, baseSpans) = spansOf(base, key)
    install(base.sparkSession)
    bases.synchronized { bases(rdd) = Keyed(k, baseSpans) }
    base
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
