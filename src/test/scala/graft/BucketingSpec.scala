package graft

import org.apache.spark.sql.functions._

/** Co-located joins via bucketing (SURVEY "Partitioning & shuffle" mandate):
  * pre-bucketing both fact tables on the join key lets repeated joins run
  * with ZERO exchanges — the Spark-native equivalent of the reference's
  * clustered primary-key locality. Also: parquet footer aggregate pushdown =
  * the reference's index-only quick aggregate (Select.queryQuick,
  * Select.java:904 — COUNT/MIN/MAX answered from metadata, no scan).
  */
class BucketingSpec extends SparkSpec {

  test("bucketed join plans without any shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    for (t <- Seq("li_bkt", "ord_bkt")) { // clear stale managed locations
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
    }
    val li = graft.core.Tables.load(spark, sf, "lineitem")
    val ord = graft.core.Tables.load(spark, sf, "orders")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bkt")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_bkt")

    // force the non-broadcast path — at real scale both sides are too big
    // to broadcast and bucketing is exactly what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val joined = spark.table("li_bkt")
      .join(spark.table("ord_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    // the join itself needs no exchange — bucket layout co-locates both sides
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    val exchangesBeforeAgg = "Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
      .findAllIn(p).length
    assert(exchangesBeforeAgg == 0, s"join should be co-located:\n$p")

    // correctness unchanged vs the plain join
    val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).sorted.toSeq
    assert(joined.collect().map(_.toString).sorted.toSeq == plain)
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
  }

  test("Tables.loadBucketed materializes once and joins co-located") {
    import graft.core.Tables
    spark.sql("DROP TABLE IF EXISTS " + Tables.bucketedTableName(sf, "lineitem", Seq("l_orderkey"), 8))
    spark.sql("DROP TABLE IF EXISTS " + Tables.bucketedTableName(sf, "orders", Seq("o_orderkey"), 8))
    val li = Tables.loadBucketed(spark, sf, "lineitem", Seq("l_orderkey"), 8)
    val ord = Tables.loadBucketed(spark, sf, "orders", Seq("o_orderkey"), 8)
    // second call reuses the managed table (no rewrite): same files listed
    val files1 = li.inputFiles.toSeq.sorted
    val again = Tables.loadBucketed(spark, sf, "lineitem", Seq("l_orderkey"), 8)
    assert(again.inputFiles.toSeq.sorted == files1)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert("Exchange hashpartitioning\\((l_orderkey|o_orderkey)".r
      .findAllIn(p).isEmpty, s"loadBucketed join should be co-located:\n$p")
    // correctness parity with the plain scans
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).sorted.toSeq
    assert(joined.collect().map(_.toString).sorted.toSeq == plain)
    spark.sql("DROP TABLE IF EXISTS " + Tables.bucketedTableName(sf, "lineitem", Seq("l_orderkey"), 8))
    spark.sql("DROP TABLE IF EXISTS " + Tables.bucketedTableName(sf, "orders", Seq("o_orderkey"), 8))
  }

  test("q03_bucketed_revenue holds the 3-exchange budget at fact scale") {
    // the committed contract (BASELINE.md "Bucketed-layout evidence"):
    // once the facts outgrow a broadcast, plain q03 plans 5 hash exchanges
    // and the bucketed layout plans 3 (both fact-side exchanges gone,
    // replaced by bucketed scans). Reproduce that regime at sf0.001 by
    // disabling auto-broadcast — dims keep their explicit broadcast hint
    // exactly as at 100 TB.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(name: String): Int = {
        val df = graft.SparkEntry.queries(name)(spark, sf)
        df.write.format("noop").mode("overwrite").save()
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      }
      val bucketed = exchanges("q03_bucketed_revenue")
      val plain = exchanges("q03_join_revenue_by_nation")
      assert(bucketed <= 3, s"bucketed q03 regressed to $bucketed exchanges")
      assert(plain >= 5, // the contrast that proves the layout is doing it
        s"plain q03 at $plain exchanges — the no-broadcast regime broke")
      // and the two forms agree row-for-row
      val a = graft.SparkEntry.queries("q03_bucketed_revenue")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      val b = graft.SparkEntry.queries("q03_join_revenue_by_nation")(spark, sf)
        .collect().map(_.toString).sorted.toSeq
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("SET BUCKETED_INDEXES 1 makes CREATE INDEX a physical layout") {
    // the engine-DDL door to the same lever: CREATE INDEX on the join key
    // materializes the table bucketed, so the self-join plans co-located
    val en = new graft.sqlfront.Engine(spark)
    en.sql("CREATE TABLE bx_fact(k INT, v INT)")
    en.sql("INSERT INTO bx_fact SELECT X, X*2 FROM SYSTEM_RANGE(1, 500)")
    en.sql("CREATE TABLE bx_dim(k INT, name VARCHAR)")
    en.sql("INSERT INTO bx_dim SELECT X, 'n' || X FROM SYSTEM_RANGE(1, 500)")
    en.sql("SET BUCKETED_INDEXES 1")
    en.sql("CREATE INDEX bx_fact_k ON bx_fact(k)")
    en.sql("CREATE INDEX bx_dim_k ON bx_dim(k)")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = en.table("bx_fact")
        .join(en.table("bx_dim"), Seq("k"))
        .groupBy(col("name")).agg(sum(col("v")).as("sv"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning\\(k".r.findAllIn(p).isEmpty,
        s"indexed-key join should be co-located:\n$p")
      // RE-bucketing the same (table, key) must write the new snapshot
      // BEFORE dropping the old one — the current registration reads from
      // it (regression: the purge-first discipline read a just-deleted
      // source, failing or silently re-registering the table EMPTY)
      en.sql("CREATE INDEX bx_fact_k2 ON bx_fact(k)")
      assert(en.table("bx_fact").count() == 500L,
        "re-bucket lost rows: snapshot dropped before the rewrite read it")
      // correctness: engine SQL over the bucketed registration still agrees
      val viaSql = en.sql(
        "SELECT SUM(v) FROM bx_fact JOIN bx_dim ON bx_fact.k = bx_dim.k")
        .head().getLong(0)
      assert(viaSql == (1 to 500).map(_ * 2L).sum)
      // a table filled from the layout (its ids are assigned over an RDD
      // whose lineage scans the snapshot) keeps the snapshot alive after
      // bx_fact's DROP
      en.sql("CREATE TABLE bx_copy(k INT, v INT)")
      en.sql("INSERT INTO bx_copy SELECT k, v FROM bx_fact")
      // and so does a version that reads it only inside a scalar subquery,
      // once it is the last holder
      en.sql("CREATE TABLE bx_max(v INT)")
      en.sql("INSERT INTO bx_max VALUES (0)")
      en.sql("UPDATE bx_max SET v = (SELECT MAX(v) FROM bx_fact)")
      en.sql("DROP TABLE bx_fact")
      assert(en.sql("SELECT SUM(v) FROM bx_copy").head().getLong(0) == viaSql)
      en.sql("DROP TABLE bx_copy")
      assert(en.sql("SELECT v FROM bx_max").head().getInt(0) == 1000)
      en.sql("DROP TABLE bx_max")
      // a mixed-case key through the programmatic door: the layout holds
      // the table's rows across its own release check and a re-bucket
      en.sql("CREATE TABLE bx_u(userId INT, v INT)")
      en.sql("INSERT INTO bx_u SELECT X, X FROM SYSTEM_RANGE(1, 50)")
      en.bucket("bx_u", Seq("userId"))
      assert(en.sql("SELECT SUM(v) FROM bx_u").head().getLong(0) == 1275L)
      en.bucket("bx_u", Seq("userId"), 8)
      assert(en.sql("SELECT SUM(v) FROM bx_u").head().getLong(0) == 1275L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (64L * 1024 * 1024).toString)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      en.sql("SET BUCKETED_INDEXES 0")
      en.sql("DROP TABLE IF EXISTS bx_fact"); en.sql("DROP TABLE bx_dim")
      en.sql("DROP TABLE IF EXISTS bx_u")
    }
    // the bucketed snapshots, the superseded epoch included, drop with
    // their tables
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("graft_engine_bkt_") &&
        Seq("_bx_fact_", "_bx_dim_", "_bx_u_").exists(t.contains))
    assert(left.isEmpty, left.toSeq)
  }

  test("date-partitioned layout prunes partitions at the scan") {
    // the canonical 100 TB layout: facts partitioned by day → time-range
    // queries read only matching directories (PartitionFilters, zero I/O on
    // the rest) — the Spark twin of the reference's index range scan.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile.getAbsolutePath
    val ev = graft.core.Tables.load(spark, sf, "events")
      .withColumn("day", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    val q = spark.read.parquet(dir)
      .filter(col("day") === lit("2024-01-02").cast("date"))
      .agg(count(lit(1)).as("n"))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(day"), p)
    // correctness: equals the unpartitioned filter
    val expect = ev.filter(col("day") === lit("2024-01-02").cast("date")).count()
    assert(q.head().getLong(0) == expect)
  }

  test("parquet footer aggregate pushdown answers COUNT/MIN/MAX without a scan") {
    // quick-aggregate needs the v2 parquet source (v1 FileScan can't push aggs)
    val v1Default = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList",
      v1Default.split(",").filterNot(_.trim == "parquet").mkString(","))
    try {
      val df = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(expr("count(*)").as("n"), min(col("l_quantity")).as("mn"),
          max(col("l_quantity")).as("mx"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation"), p)
      val got = df.head()
      // values match the full-scan computation
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      spark.conf.set("spark.sql.sources.useV1SourceList", v1Default)
      val full = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(expr("count(*)"), min(col("l_quantity")), max(col("l_quantity"))).head()
      assert(got == full)
    } finally {
      spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
      spark.conf.set("spark.sql.sources.useV1SourceList", v1Default)
    }
  }
}
