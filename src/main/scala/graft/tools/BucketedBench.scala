package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.queries.Q.{dec2, dsum}

/** Bucketed-layout evidence for the q03 plan audit: at 100× scale the
  * li⋈ord shuffle dominates q03, and the fix is a co-located (bucketed)
  * physical layout — Spark's saveAsTable + bucketBy is the single-node
  * stand-in for a production table layout where both facts are
  * hash-distributed on the join key at write time.
  *
  * Measures the q03 join (fact side) two ways:
  *   plain     — parquet scans, shuffle both sides (today's default)
  *   bucketed  — both facts bucketed on the order key: the li⋈ord join
  *               plans with ZERO exchange on either side
  * Prints one JSON line with medians; BucketingSpec asserts the
  * zero-exchange property, this main measures it. To measure at 10×,
  * point it at an AmplifyData output dir.
  * Usage: runMain graft.tools.BucketedBench [sfDir]
  */
object BucketedBench {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.GraftSession.configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // At 100 TB neither fact side is broadcastable — that is the entire
    // point of the co-located layout. Disable auto-broadcast so the sf0.1
    // measurement exercises the fact-scale join shape (nation/region stay
    // broadcast via the explicit hint, exactly as at scale).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    val nat = Tables.load(spark, sfDir, "nation")
    val reg = Tables.load(spark, sfDir, "region")

    // one-time bucketed layout write (the production-cluster analogue:
    // distribute both facts by the join key at ingest)
    val buckets = cpus.toInt
    Seq("graft_li_bucketed", "graft_ord_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // the in-memory catalog is fresh per run; purge any stale location too
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val tWrite = time {
      li.write.bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("graft_li_bucketed")
      ord.write.bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("graft_ord_bucketed")
    }

    def q03(liT: DataFrame, ordT: DataFrame): DataFrame =
      liT.join(ordT, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          dsum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_items"))

    val liB = spark.table("graft_li_bucketed")
    val ordB = spark.table("graft_ord_bucketed")

    // evidence: the bucketed layout removes the fact-side exchanges. AQE
    // hides exchanges until execution, so inspect the final plan of an
    // executed run (explain with the formatted post-run plan).
    def exchanges(df: DataFrame): (Int, Int) = {
      df.write.mode("overwrite").format("noop").save()
      val plan = df.queryExecution.executedPlan.toString
      ("Exchange hashpartitioning".r.findAllMatchIn(plan).size,
        "Bucketed: true".r.findAllMatchIn(plan).size)
    }
    val (exP, bkP) = exchanges(q03(li, ord))
    val (exB, bkB) = exchanges(q03(liB, ordB))
    System.err.println(s"[plan] plain: $exP exchanges, $bkP bucketed scans")
    System.err.println(s"[plan] bucketed: $exB exchanges, $bkB bucketed scans")

    def noop(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    def run(df: => DataFrame): Double = {
      noop(df) // warm-up
      median(Seq.fill(3)(time(noop(df))))
    }

    val plain = run(q03(li, ord))
    val bucketed = run(q03(liB, ordB))
    println(s"""{"metric":"q03_bucketed_vs_plain","plain_sec":$plain,""" +
      s""""bucketed_sec":$bucketed,"bucket_write_sec":$tWrite,""" +
      s""""buckets":$buckets,"rows":${li.count()},"sf":"$sfDir"}""")
    spark.stop()
  }
}
