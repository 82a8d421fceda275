package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog bootstrap over the driver parquet corpus (TESTDATA.md).
  *
  * Mirrors the reference's Database → Schema → Table registry
  * (lealone-db/src/main/java/org/lealone/db/schema/Schema.java) as a plain
  * name → frame loader over parquet directories — SURVEY §1.2. Parquet
  * footers replace Lealone's DDL-declared fixed schemas; schemas are
  * self-describing, and Catalyst gets pushdown/pruning for free.
  */
object Tables {

  /** All corpus tables (TPC-H-ish star schema + events/documents/embeddings). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // events.ts normalizes to session-zone TIMESTAMP regardless of how the
    // corpus was generated: TIMESTAMP(NANOS) parquet arrives as a long
    // (spark.sql.legacy.parquet.nanosAsLong) and is truncated to micros;
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as TIMESTAMP_NTZ and
    // is reinterpreted as UTC (the session zone — same instants DuckDB sees).
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            // integer div, not `/` — double division loses precision at 1e18 ns
            org.apache.spark.sql.functions.timestamp_micros(
              org.apache.spark.sql.functions.expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // cast under the UTC session zone: wall-clock == instant
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    else df
  }

  /** Write-side twin of [[load]]: persist a (state) table as
    * `$dir/$name.parquet` — the incremental-pipeline state tables
    * (operators/Incremental) flow through here so state and corpus share
    * one storage convention. */
  def save(df: DataFrame, dir: String, name: String,
      mode: String = "errorifexists"): Unit =
    df.write.mode(mode).parquet(s"$dir/$name.parquet")

  /** Opt-in co-located layout for repeated-join workloads: materialize
    * `name` bucketed (and per-bucket sorted) on `keys` as a managed table —
    * once per (name, keys, buckets); later calls reuse it — and return it.
    * Joins between two tables bucketed on their join keys with the same
    * bucket count plan with ZERO exchange on either side (BucketingSpec
    * proves it; tools/BucketedBench measures q03 fact join 0.82→0.55 s at
    * sf0.1). This is the single-node stand-in for the production layout
    * where facts are hash-distributed on the join key at ingest — the
    * 100 TB answer to the li⋈ord shuffle dominating q03's plan audit. */
  /** The managed-table name [[loadBucketed]] caches under. The SOURCE DIR
    * is part of the key: one session touching two scale dirs (PlanLintSpec
    * budgets sf0.001+sf0.01, TimeQ sweeps) must never serve one dir's rows
    * under the other's name — basename for readability plus a
    * full-canonical-path hash so two dirs sharing a basename
    * (/ssd/sf0.1 vs /backup/sf0.1) can't alias either. */
  def bucketedTableName(dir: String, name: String, keys: Seq[String],
      buckets: Int): String = {
    val canon = new java.io.File(dir).getCanonicalFile
    val dirTag = canon.getName.replaceAll("[^a-zA-Z0-9]", "_") +
      "_" + java.lang.Integer.toHexString(canon.getPath.hashCode)
    s"graft_bkt_${dirTag}_${name}_${keys.mkString("_")}_$buckets"
  }

  def loadBucketed(spark: SparkSession, dir: String, name: String,
      keys: Seq[String], buckets: Int = 32): DataFrame = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    val t = bucketedTableName(dir, name, keys, buckets)
    if (!spark.catalog.tableExists(t)) {
      // the in-memory catalog forgets managed tables across sessions while
      // their warehouse directories persist — purge a stale location first
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
      load(spark, dir, name).write
        .bucketBy(buckets, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .mode("overwrite").saveAsTable(t)
    }
    spark.table(t)
  }
}
