package graft.tools

import java.nio.file.{Files, Paths}

/** Write each query's `.explain("formatted")` text to
  * <outDir>/<query><suffix>.txt — the r13 plan-evidence artifact
  * (OPTIMIZATION_r13.md contract: plans/r13/<query>_before.txt /
  * _after.txt). Scratch tool, not part of the driver contract.
  * Plans at `SPARK_GRAFT_CPUS` shuffle partitions (default 32), as
  * graft.Bench runs.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <suffix> <query...>
  */
object ExplainDump {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = a(0); val outDir = a(1); val suffix = a(2)
    Files.createDirectories(Paths.get(outDir))
    a.drop(3).foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
