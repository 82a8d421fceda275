package graft.tools

/** Time one or more SparkEntry queries N times after one warm-up run
  * (memoized fits, codegen, parquet footers) and print the medians of the
  * total and of its two parts: CONSTRUCTION (`q.fn`: plan build plus every
  * eager job inside it — first-call model fits, registry loads, collects,
  * checkpoint cuts) and EXECUTION (the noop sink on the constructed
  * frame). Sized like graft.Bench: `local[SPARK_GRAFT_CPUS]` (default 32)
  * with as many shuffle partitions. Scratch harness for perf work, not part
  * of the Verify/Bench contract.
  * SPARK_GRAFT_TIMEQ_GC=1 inserts a driver System.gc() between runs:
  * localCheckpoint blocks are only released when the driver GCs the RDD
  * object (ContextCleaner), so on a big mostly-idle heap repeated runs of
  * a checkpoint-heavy query accumulate dead blocks and ramp monotonically
  * slower — the flag separates that harness artifact from real variance.
  * Usage: runMain graft.tools.TimeQ <sfDir> <runs> <query...> */
object TimeQ {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = a(0)
    val runs = a(1).toInt
    val gcBetween = sys.env.get("SPARK_GRAFT_TIMEQ_GC").contains("1")
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    a.drop(2).foreach { name =>
      def once(): (Double, Double) = {
        if (gcBetween) { System.gc(); Thread.sleep(200) }
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
      once() // warm-up
      val (cs, es) = (1 to runs).map(_ => once()).unzip
      val ts = cs.zip(es).map { case (c, e) => c + e }.sorted
      println(f"[timeq] $name median=${med(ts)}%.3f " +
        f"construct=${med(cs)}%.3f execute=${med(es)}%.3f " +
        f"all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
