package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import Q._

/** Reference-parity aggregation surface (SURVEY §2.4): the full aggregate
  * function list of Aggregate.java:51-130 plus the distributed partial/final
  * decomposition semantics of Select.queryGroupMerge / Select.calculate
  * (Select.java:1069-1162) — which is exactly Spark's partial+final
  * aggregation, verified here against the oracle.
  */
object Aggregates {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  /** GROUP_CONCAT(x ORDER BY k [DESC] SEPARATOR sep) — composed from
    * built-ins (collect_list + array_sort + concat_ws) so it stays inside
    * whole-stage codegen'd hash aggregation; reference:
    * Aggregate.java:219-229 + AggregateDataGroupConcat.java. */
  def groupConcat(value: Column, order: Column, sep: String, desc: Boolean = false): Column = {
    val sorted = array_sort(collect_list(struct(order.as("k"), value.as("v"))))
    val arr = if (desc) reverse(sorted) else sorted
    array_join(transform(arr, s => s.getField("v")), sep)
  }

  val all: Seq[Q] = Seq(

    // ---- Welford stats (AggregateDataDefault.java:79-90) recomputed via the
    // exact-sum decomposition (sum, sum-of-squares, count) — the same
    // re-derivation Select.calculate does for distributed STDDEV
    // (Select.java:1135-1162). Bit-identical across engines because the
    // decimal sums are exact and the final double arithmetic is IEEE.
    Q("q20_stats_decomposed",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val n = count(lit(1)).cast("double")
        val p = col("l_extendedprice").cast(DecimalType(18, 2))
        val sm = sum(p).cast("double")
        val ss = sum(p * p).cast("double")
        // Variance family surfaced as floor-scaled integers: the exact
        // decimal sums convert decimal→double differently across engines at
        // 1e13 magnitude (DuckDB double-rounds via int128/10^s, Java rounds
        // once via BigDecimal), so raw doubles can differ at the last ulp.
        li.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n"),
            sum(p).as("s_cents"),
            floor((ss - sm * sm / n) / (n - lit(1.0))).cast("long").as("var_samp_i"),
            floor(sqrt((ss - sm * sm / n) / (n - lit(1.0))) * 1000).cast("long")
              .as("stddev_samp_x1000"),
            floor((ss - sm * sm / n) / n).cast("long").as("var_pop_i"))
          .orderBy(col("l_returnflag"))
          .withColumn("s_cents", (col("s_cents") * 100).cast("long"))
      },
      Some("""
        WITH g AS (
          SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 COUNT(*) AS cnt,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_dec,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS ss
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               cnt AS n,
               CAST(s_dec * 100 AS BIGINT) AS s_cents,
               CAST(FLOOR((ss - s * s / n) / (n - 1.0)) AS BIGINT) AS var_samp_i,
               CAST(FLOOR(SQRT((ss - s * s / n) / (n - 1.0)) * 1000) AS BIGINT)
                 AS stddev_samp_x1000,
               CAST(FLOOR((ss - s * s / n) / n) AS BIGINT) AS var_pop_i
        FROM g ORDER BY l_returnflag""")),

    // ---- MIN/MAX/COUNT + COUNT(DISTINCT) (AggregateDataCount/Default;
    // quick-aggregate path Select.java:904 → parquet stats do this free).
    Q("q21_minmax_countdistinct",
      (s, dir) => {
        // Two COUNT(DISTINCT)s in one agg make Catalyst Expand the input 3×;
        // splitting into per-key distinct aggs + a join of tiny grouped
        // results measures ~25% faster at sf0.1 (BASELINE.md row B7)
        // and scales better (no row multiplication on the fact scan).
        val li = t(s, dir, "lineitem")
        val base = li.groupBy(col("l_linestatus")).agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          count(col("l_quantity")).as("n"))
        val dOrd = li.select(col("l_linestatus"), col("l_orderkey")).distinct()
          .groupBy(col("l_linestatus")).agg(count(lit(1)).as("n_orders"))
        val dPart = li.select(col("l_linestatus"), col("l_partkey")).distinct()
          .groupBy(col("l_linestatus")).agg(count(lit(1)).as("n_parts"))
        base.join(dOrd, Seq("l_linestatus")).join(dPart, Seq("l_linestatus"))
          .select(col("l_linestatus"), col("min_qty"), col("max_qty"),
            col("min_ship"), col("max_ship"), col("n_orders"), col("n_parts"),
            col("n"))
      },
      Some("""
        SELECT l_linestatus,
               MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
               MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(l_quantity) AS n
        FROM lineitem GROUP BY l_linestatus""")),

    // ---- BOOL_AND/BOOL_OR (Aggregate.java:604-610) and BIT_AND/BIT_OR
    // (:612-617).
    Q("q22_bool_bit_agg",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          bool_and(col("l_quantity") > 1).as("all_gt1"),
          bool_or(col("l_discount") > 0.09).as("any_disc"),
          bit_and(col("l_linenumber")).as("band"),
          bit_or(col("l_linenumber")).as("bor"),
          bit_xor(col("l_linenumber")).as("bxor")),
      Some("""
        SELECT l_returnflag,
               BOOL_AND(l_quantity > 1) AS all_gt1,
               BOOL_OR(l_discount > 0.09) AS any_disc,
               BIT_AND(l_linenumber) AS band,
               BIT_OR(l_linenumber) AS bor,
               BIT_XOR(l_linenumber) AS bxor
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- SUM(boolean) counts true rows — H2 semantics
    // (Aggregate.java:577-580): sum over the bool cast to int.
    Q("q23_sum_bool",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum((col("o_totalprice") > 150000).cast("int")).as("n_big"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority")),
      Some("""
        SELECT o_orderpriority,
               CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
               COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- GROUP_CONCAT with ORDER BY + SEPARATOR
    // (Aggregate.java:219-229, AggregateDataGroupConcat.java).
    Q("q24_group_concat",
      (s, dir) => t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(groupConcat(col("n_name"), col("n_name"), "|", desc = true).as("names"))
        .orderBy(col("n_regionkey")),
      Some("""
        SELECT n_regionkey, STRING_AGG(n_name, '|' ORDER BY n_name DESC) AS names
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    // ---- GROUP_CONCAT(DISTINCT …) flavor → collect_set + sort.
    Q("q25_group_concat_distinct",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",").as("statuses"))
        .orderBy(col("o_orderpriority")),
      Some("""
        SELECT o_orderpriority,
               STRING_AGG(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- HISTOGRAM(x) (Aggregate.java:572-576, AggregateDataHistogram.java):
    // value→count pairs; surfaced row-wise (value, cnt) for a stable oracle.
    Q("q26_histogram",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linenumber").as("value"))
        .agg(count(lit(1)).as("cnt")),
      Some("""
        SELECT l_returnflag, l_linenumber AS value, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linenumber""")),

    // ---- SELECTIVITY(x) = distinct% (AggregateDataSelectivity.java,
    // consumed by ANALYZE ddl/Analyze.java:59-98): exact integer arithmetic
    // in both engines (no float division → no boundary flakes).
    Q("q27_selectivity",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("cd_p"),
          countDistinct(col("l_suppkey")).as("cd_s"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          expr("(100 * cd_p) div n").as("sel_partkey"),
          expr("(100 * cd_s) div n").as("sel_suppkey")),
      Some("""
        SELECT l_returnflag,
               CAST((100 * COUNT(DISTINCT l_partkey)) // COUNT(*) AS BIGINT) AS sel_partkey,
               CAST((100 * COUNT(DISTINCT l_suppkey)) // COUNT(*) AS BIGINT) AS sel_suppkey
        FROM lineitem GROUP BY l_returnflag""")),

    // ---- The same three aggregates through the typed Aggregator classes
    // (CREATE AGGREGATE parity, api/AggregateFunction.java:16-43) — the
    // oracle twins prove the partial/final decomposition is value-correct.
    Q("q43_group_concat_udaf",
      (s, dir) => {
        val gc = udaf(new graft.functions.Aggregators.GroupConcat("|", desc = true))
        t(s, dir, "nation").groupBy(col("n_regionkey"))
          .agg(gc(col("n_name"), col("n_name")).as("names"))
          .orderBy(col("n_regionkey"))
      },
      Some("""
        SELECT n_regionkey, STRING_AGG(n_name, '|' ORDER BY n_name DESC) AS names
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")),

    Q("q44_selectivity_udaf",
      (s, dir) => {
        // cap far above any SF's distinct count so the estimate is exact and
        // the oracle (exact distinct%) stays a valid twin at every SF
        val sel = udaf(new graft.functions.Aggregators.Selectivity(1 << 21),
          org.apache.spark.sql.Encoders.LONG)
        t(s, dir, "lineitem").groupBy(col("l_returnflag"))
          .agg(sel(col("l_partkey")).as("sel_partkey"))
      },
      Some("""
        SELECT l_returnflag,
               CAST(GREATEST(1, LEAST(100, (100 * COUNT(DISTINCT l_partkey)) // COUNT(*)))
                 AS INTEGER) AS sel_partkey
        FROM lineitem GROUP BY l_returnflag""")),

    Q("q45_histogram_udaf",
      (s, dir) => {
        val hist = udaf(new graft.functions.Aggregators.Histogram,
          org.apache.spark.sql.Encoders.LONG)
        t(s, dir, "lineitem").groupBy(col("l_returnflag"))
          .agg(hist(col("l_linenumber").cast("long")).as("__h"))
          .select(col("l_returnflag"), explode(col("__h")).as("__e"))
          .select(col("l_returnflag"),
            col("__e._1").as("value"), col("__e._2").as("cnt"))
      },
      Some("""
        SELECT l_returnflag, CAST(l_linenumber AS BIGINT) AS value, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_linenumber"""))
  )
}
