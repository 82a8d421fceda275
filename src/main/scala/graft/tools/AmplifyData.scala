package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Materialize a k×-amplified copy of a driver SF dir (VERDICT r11
  * directive 5): every fact table replicated k× with per-copy key offsets
  * (key → key·k + i), so each copy is a disjoint, internally-consistent
  * sub-database and every join cardinality scales exactly k×. Dimension
  * tables (region/nation) copy unchanged — at 100 TB the dims stay
  * broadcast-sized too. Materialized to parquet so the UNMODIFIED
  * graft.Bench can run the full headline set at sf1-equivalent facts;
  * ScaleInvarianceSpec checks the real queries against the same clone map.
  * Usage: runMain graft.tools.AmplifyData [srcDir] [outDir] [k] */
object AmplifyData {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val src = a.headOption.getOrElse("/root/testdata/sf0.1")
    val out = a.lift(1).getOrElse("/tmp/graft_sfa")
    val k = a.lift(2).map(_.toInt).getOrElse(10)
    amplify(spark, src, out, k).foreach { case (t, n) =>
      println(s"[amplify] $t rows=$n")
    }
    spark.stop()
  }

  /** Key columns offset per table: primary keys AND the foreign keys that
    * reference an offset primary key — never the dim keys. */
  private val offsetKeys: Seq[(String, Seq[String])] = Seq(
    "region" -> Nil,
    "nation" -> Nil,
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Write the k×-amplified copy of every table of `src` under `out`;
    * returns each table's amplified row count. */
  def amplify(spark: SparkSession, src: String, out: String,
      k: Int): Seq[(String, Long)] =
    offsetKeys.map { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val amp =
        if (keys.isEmpty) df
        else (0 until k).map { i =>
          keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) * k + i))
        }.reduce(_ unionByName _)
      amp.write.mode("overwrite").parquet(s"$out/$t.parquet")
      t -> spark.read.parquet(s"$out/$t.parquet").count()
    }
}
