package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.GraftSession

/** One benchmark run in one JVM: start a session, run one workload for the
  * given seconds, write the run record (ops, set-up times, check data and,
  * traced, per-layer figures and spans) as JSON. `run.py` turns records
  * into metrics.
  *
  * Usage: graftbench.Main --workload W --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out FILE [--spans FILE]
  *
  * Spark runs on `local[N]`, N = min(4, available cores).
  *
  * With `--record 1`, `--inputs` is a comma-separated list of input dirs
  * and only the untimed output check runs on each (no timing): the values
  * it writes are what later runs are checked against.
  */
object Main {

  val Layers = Seq("core", "sqlfront", "queries", "functions", "operators")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val tr = new Tracer(a.getOrElse("trace", "0") == "1")
    val threads = math.min(4, Runtime.getRuntime.availableProcessors)
    val work = a("work")

    val spark = tr.span("core", "session_start") {
      GraftSession.local(threads)
    }
    spark.sparkContext.setLogLevel("ERROR")
    if (a.getOrElse("record", "0") == "1") {
      val checks = a("inputs").split(",").toSeq.map { in =>
        in -> (workload match {
          case "corpus_pipeline_10x" => Workloads.corpusPipeline(
            spark, tr, in, s"$work/pipeline", 0, checkOnly = true)
          case other => throw new IllegalArgumentException(
            s"$other has no recorded outputs")
        }).check
      }
      Files.writeString(Paths.get(a("out")), Json.render(checks.toMap))
      spark.stop()
      return
    }
    tr.install(spark)
    val rec = workload match {
      case "sql_stmt_stream" =>
        Workloads.sqlStream(spark, tr, a("inputs"), seconds)
      case "corpus_pipeline_10x" => Workloads.corpusPipeline(
        spark, tr, a("inputs"), s"$work/pipeline", seconds)
      case other => throw new IllegalArgumentException(s"no workload $other")
    }
    val layers = if (tr.on) layerFigures(tr, rec) else Map.empty[String, Any]
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "threads" -> threads,
      "trace" -> tr.on,
      "setup_s" -> rec.setups.toSeq,
      "window_s" -> rec.windowS,
      "ops" -> rec.ops.map(_.toMap).toSeq,
      "check" -> rec.check,
      "detail" -> rec.detail,
      "layers" -> layers)
    if (tr.on) {
      out("detail_by_kind") = byKind(tr, rec)
      a.get("spans").foreach { p =>
        Files.writeString(Paths.get(p), tr.spans.map(s => Json.render(Map(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "layer" -> s.layer, "name" -> s.name, "kind" -> s.kind,
          "t0_ns" -> s.t0, "t1_ns" -> s.t1))).mkString("", "\n", "\n"))
      }
    }
    Files.writeString(Paths.get(a("out")), Json.render(out))
    spark.stop()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** Per-layer figures of a traced run. Spark counters cover the first
    * round of timed ops (the first statement block, pass or cycle), a fixed
    * piece of work per seed, so exact counts repeat; times are medians
    * over every timed op. */
  def layerFigures(tr: Tracer, rec: RunRecord): Map[String, Any] = {
    tr.drain()
    val timedOps = rec.timedOps
    val firstOps = rec.firstRoundOps
    val out = mutable.LinkedHashMap.empty[String, Any]

    def spansOf(layer: String, name: String, ops: Int => Boolean) =
      tr.spans.filter(s => s.layer == layer && s.name == name && ops(s.op))
    def med(layer: String, name: String): Double =
      median(spansOf(layer, name, timedOps).map(_.seconds).toSeq)
    /** Median over ops of the time an op spent in (layer, name) spans. */
    def perOp(layer: String, name: String, ops: Int => Boolean): Double =
      median(spansOf(layer, name, ops).groupBy(_.op).values
        .map(_.map(_.seconds).sum).toSeq)
    def jobsIn(layer: String, name: String): Long =
      spansOf(layer, name, firstOps).flatMap(s => tr.work.get(s.id))
        .map(_.jobs).sum
    def executionsIn(layer: String, name: String): Long =
      spansOf(layer, name, firstOps).flatMap(s => tr.work.get(s.id))
        .flatMap(_.executions).distinct.size.toLong

    out("core.session_start_s") =
      tr.spans.find(_.name == "session_start").map(_.seconds).getOrElse(0.0)
    out("core.tables_load_s") = perOp("core", "tables_load", rec.setupOps)
    out("core.storage_used_mb") = rec.layer.getOrElse("core.storage_used_mb", 0.0)
    out("core.persisted_rdds") = rec.layer.getOrElse("core.persisted_rdds", 0)
    out("sqlfront.call_s") = med("sqlfront", "call")
    out("sqlfront.eager_jobs") = jobsIn("sqlfront", "call")
    out("sqlfront.plan_s") = med("sqlfront", "plan")
    out("sqlfront.exec_s") = med("sqlfront", "exec")
    out("sqlfront.table_plan_nodes") =
      rec.layer.getOrElse("sqlfront.table_plan_nodes", 0L)
    out("queries.construct_s") = med("queries", "construct")
    out("queries.sub_executions") = executionsIn("queries", "construct")
    out("queries.plan_s") = med("queries", "plan")
    out("queries.exec_s") = med("queries", "exec")
    out("functions.kernel_scan_s") = med("functions", "kernel_scan")
    out("operators.cross_dedup_s") = med("operators", "cross_dedup")
    out("operators.sink_write_s") = med("operators", "sink_write")
    out("operators.append_state_s") = med("operators", "append_state")
    Seq("operators.state_rows", "operators.state_bytes",
      "operators.keep_ratio").foreach(k => out(k) = rec.layer.getOrElse(k, 0))

    for (layer <- Layers) {
      val works = tr.spans.filter(s => s.layer == layer && firstOps(s.op))
        .flatMap(s => tr.work.get(s.id))
      def total(f: SparkWork => Long) = works.map(f).sum
      out(s"$layer.jobs") = total(_.jobs)
      out(s"$layer.stages") = total(_.stages)
      out(s"$layer.tasks") = total(_.tasks)
      out(s"$layer.shuffle_write_bytes") = total(_.shuffleWriteBytes)
      out(s"$layer.shuffle_records") = total(_.shuffleRecords)
      out(s"$layer.spill_bytes") = total(_.spillBytes)
      out(s"$layer.task_time_s") = total(_.taskTimeMs) / 1e3
      out(s"$layer.gc_s") = total(_.gcMs) / 1e3
      // skew of the stage that took the most task time: max / median task
      val stages = works.flatMap(_.stageIds)
        .flatMap(id => tr.stageTaskMs.get(id)).filter(_.nonEmpty)
      out(s"$layer.stage_skew") =
        if (stages.isEmpty) 0.0
        else {
          val worst = stages.maxBy(_.sum)
          val m = median(worst.map(_.toDouble).toSeq)
          if (m > 0) worst.max / m else 1.0
        }
    }
    out.toMap
  }

  /** Per (layer, span name, kind): median seconds, span count, and in the
    * first round the jobs those spans ran plus the SQL executions (count,
    * seconds; from the QueryExecutionListener) of their ops — the
    * per-statement-kind / per-query breakdown. */
  def byKind(tr: Tracer, rec: RunRecord): Seq[Map[String, Any]] = {
    val timedOps = rec.timedOps
    val firstOps = rec.firstRoundOps
    tr.spans.filter(s => timedOps(s.op)).groupBy(s => (s.layer, s.name, s.kind))
      .toSeq.sortBy(_._1).map { case ((layer, name, kind), ss) =>
        val first = ss.filter(s => firstOps(s.op))
        val execs = first.map(_.op).distinct.map(tr.executionsOf)
        Map("layer" -> layer, "name" -> name, "kind" -> kind,
          "median_s" -> median(ss.map(_.seconds).toSeq), "n" -> ss.length,
          "first_round_jobs" ->
            first.flatMap(s => tr.work.get(s.id)).map(_.jobs).sum,
          "first_round_op_executions" -> execs.map(_._1).sum,
          "first_round_op_execution_s" -> execs.map(_._2).sum)
      }
  }
}
