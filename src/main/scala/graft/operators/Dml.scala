package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DML as snapshot (copy-on-write) DataFrame rewrites — SURVEY §2.1 rows
  * MERGE/UPDATE/DELETE. The reference executes these as row-at-a-time MVCC
  * mutations (dml/Merge.java:35,146, Update.java:45, Delete.java:36); the
  * Spark-native equivalent is a declarative rewrite of the full table, which
  * parallelizes over partitions and is snapshot-atomic at the file level.
  *
  * Each rewrite is lazy: it plans over the whole input version. A caller
  * that chains rewrites bounds the chain itself — the SQL front door
  * materializes every 10th version of a table (`Engine.commitDml`), so a
  * read never re-runs more than 9 rewrites.
  */
object Dml {

  /** H2-style `MERGE INTO target KEY(k…) SELECT …` — update-else-insert:
    * every source row replaces the target row with the same key, or is
    * inserted if absent (Merge.java:146). Columns are aligned positionally to
    * the target schema (SelectUnion.java:113 positional discipline).
    *
    * Implementation: target ANTI-JOIN source (drop rows being replaced)
    * UNION ALL source. One shuffle on the key; at scale the anti join
    * broadcast-or-shuffles via AQE, and no driver-side state exists.
    *
    * Duplicate keys in `source` would otherwise multiply target rows
    * (the join applies them simultaneously where the reference applies them
    * sequentially, Merge.java:146). `onDupSourceKeys` picks the contract:
    *  - "last" (default): keep the last source row per key — the net effect
    *    of the reference's sequential row-at-a-time apply, and the same rule
    *    the SQL front door's ON DUPLICATE KEY path uses.
    *  - "error": raise at execution time (lazy, distributed — no driver
    *    pre-count), mirroring the reference's PK-violation behavior.
    *  - "unchecked": skip the dedup window entirely; the caller guarantees
    *    key-unique source (zero-cost fast path for pre-deduped pipelines).
    */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
      onDupSourceKeys: String = "last", nullKeysMatch: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val aligned = source.toDF(target.columns.toSeq: _*)
    val w = Window.partitionBy(keys.map(col): _*)
    val src = onDupSourceKeys match {
      case "unchecked" => aligned
      case "error" =>
        // assert_true flows through a filter the optimizer cannot prune:
        // evaluation raises on the first key with multiplicity > 1.
        aligned
          .withColumn("__n", count(lit(1)).over(w))
          .filter(assert_true(col("__n") === 1,
            lit(s"duplicate source key in MERGE on (${keys.mkString(", ")})"))
            .isNull)
          .drop("__n")
      case "last" => lastPerKey(aligned, keys, exemptNullKeys = !nullKeysMatch)
      case other => throw new IllegalArgumentException(
        s"onDupSourceKeys must be last|error|unchecked, got $other")
    }
    // Aliases rather than df("col") references: source typically derives from
    // target (upsert-from-select), which would make raw attribute references
    // ambiguous in the self-join. With nullKeysMatch=false (the H2 door,
    // Merge.java: UPDATE … WHERE k = NULL matches nothing → the row
    // inserts), NULL keys use === so they never match an existing row.
    val eq: (Column, Column) => Column =
      if (nullKeysMatch) _ <=> _ else _ === _
    val cond = keys.map(k => eq(col(s"__t.$k"), col(s"__s.$k"))).reduce(_ && _)
    target.alias("__t").join(src.alias("__s"), cond, "left_anti").union(src)
  }

  /** Last row per key in source order (monotonically_increasing_id
    * preserves row order within and across partitions) — the shared
    * sequential-apply dedup every upsert door uses (MERGE "last" mode and
    * the SQL front door's ON DUPLICATE KEY path). With `exemptNullKeys`,
    * rows with any NULL key column pass through undeduped (the MySQL
    * upsert contract: NULL keys never conflict). */
  def lastPerKey(df: DataFrame, keys: Seq[String],
      exemptNullKeys: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .withColumn("__ord", monotonically_increasing_id())
      .withColumn("__rk", row_number().over(w.orderBy(col("__ord").desc)))
    val keep =
      if (exemptNullKeys) {
        val keyNonNull = keys.map(k => col(k).isNotNull).reduce(_ && _)
        ranked.filter(!keyNonNull || col("__rk") === 1)
      } else ranked.filter(col("__rk") === 1)
    keep.drop("__ord", "__rk")
  }

  /** UPDATE … SET … WHERE: rewrite matching rows through `sets`, keep the
    * rest (dml/Update.java:45,140-150). */
  def update(table: DataFrame, where: Column, sets: Map[String, Column]): DataFrame = {
    val cols = table.columns.map { c =>
      sets.get(c) match {
        case Some(v) => when(where, v).otherwise(col(c)).as(c)
        case None    => col(c)
      }
    }
    table.select(cols.toSeq: _*)
  }

  /** DELETE … WHERE (dml/Delete.java:36). */
  def delete(table: DataFrame, where: Column): DataFrame =
    table.filter(!coalesce(where, lit(false)))

  /** TRUNCATE (ddl/TruncateTable.java). */
  def truncate(table: DataFrame): DataFrame = table.limit(0)

  /** Distributed uniqueness validation — the ETL-write-path replacement for
    * the reference's scatter-query GlobalUniqueIndex (GlobalUniqueIndex
    * .java:33): returns the violating keys with their multiplicities
    * (empty result = constraint holds). One shuffle on the key. */
  def duplicateKeys(table: DataFrame, keys: Seq[String]): DataFrame =
    table.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)

  /** Referential-integrity violations (db/constraint/ConstraintReferential
    * .java): child rows whose FK tuple has no match in the parent — a
    * distributed left-anti join on the key, the batch twin of the
    * reference's per-row existence probe. Rows with any NULL key column
    * pass (SQL FK semantics). Empty result = constraint holds. */
  def fkViolations(child: DataFrame, childCols: Seq[String],
      parent: DataFrame, parentCols: Seq[String]): DataFrame = {
    val nonNull = childCols.map(c => col(c).isNotNull).reduce(_ && _)
    val parentKeys = parent.select(parentCols.map(col).toSeq: _*)
      .toDF(childCols: _*).distinct()
    child.filter(nonNull).join(parentKeys, childCols, "left_anti")
  }

  /** CHECK-constraint violations (db/constraint/ConstraintCheck.java):
    * rows where the predicate is FALSE. NULL (unknown) passes, exactly the
    * SQL CHECK three-valued rule the reference implements. */
  def checkViolations(table: DataFrame, check: Column): DataFrame =
    table.filter(!coalesce(check, lit(true)))

  /** Contiguous id assignment without a single-partition global window: one
    * lightweight job collects per-partition row counts (Long per partition,
    * not data), then every partition fills its own offset range in
    * parallel — the zipWithIndex pattern. Rows whose id column is already
    * non-NULL keep it; the candidate ids are `start + rowIndex` exactly as
    * the reference's Sequence-backed auto-increment hands out
    * (db/table/Column.java auto-increment). Returns the filled frame and
    * the total row count (so the caller can advance its counter without a
    * second action). Requires a deterministic input plan (both jobs must
    * see the same rows — true for all Engine insert sources). */
  def assignContiguous(df: DataFrame, idCol: String, start: Long): (DataFrame, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = df.schema
    val idIdx = schema.fieldIndex(idCol)
    val toId: Long => Any = schema(idIdx).dataType match {
      case IntegerType => v => v.toInt
      case ShortType   => v => v.toShort
      case d: DecimalType => v => new java.math.BigDecimal(v)
      case _           => v => v
    }
    val rdd = df.rdd
    val sizes = rdd
      // count in Long (Iterator.size is an Int and would wrap on a
      // >2^31-row partition)
      .mapPartitionsWithIndex((i, it) =>
        Iterator((i, it.foldLeft(0L)((n, _) => n + 1))))
      .collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val filled = rdd.mapPartitionsWithIndex { (i, it) =>
      var next = start + offsets(i)
      it.map { r =>
        val vs = r.toSeq.toArray
        if (vs(idIdx) == null) vs(idIdx) = toId(next)
        next += 1
        Row.fromSeq(vs.toIndexedSeq)
      }
    }
    (df.sparkSession.createDataFrame(filled, schema), offsets.last)
  }
}
