package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Tables
import graft.functions.TextHashExprs
import graft.operators.Dedup.MinHashConfig
import graft.operators.Incremental
import graft.sqlfront.Engine

/** One timed operation. `cls` is "read" or "write"; `t` is its start in
  * seconds from the start of the measured window; `round` numbers the
  * block / pass / cycle it belongs to (0 = the first). */
final case class Op(kind: String, cls: String, t: Double, s: Double,
    rows: Long, ok: Boolean, err: String, round: Int, id: Int) {
  def toMap: Map[String, Any] = Map("kind" -> kind, "cls" -> cls, "t" -> t,
    "s" -> s, "rows" -> rows, "ok" -> ok, "err" -> err, "round" -> round)
}

/** What every workload hands back: timed ops, set-up times, the measured
  * window, untimed check data, and per-layer figures it alone can read. */
final class RunRecord {
  val ops = mutable.ArrayBuffer.empty[Op]
  val setups = mutable.ArrayBuffer.empty[Double]
  /** Op ids of the set-ups, for the per-layer split of `setup_s`. */
  val setupOps = mutable.Set.empty[Int]
  var windowS = 0.0
  val check = mutable.LinkedHashMap.empty[String, Any]
  val layer = mutable.LinkedHashMap.empty[String, Any]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def timedOps: Set[Int] = ops.map(_.id).toSet

  /** Ops of the first round: a fixed piece of work per seed. */
  def firstRoundOps: Set[Int] = {
    val first = ops.map(_.round).minOption
    ops.filter(o => first.contains(o.round)).map(_.id).toSet
  }

  /** Times `f` as one op; a thrown error marks it failed, not fatal. */
  def op(tr: Tracer, start: Long, kind: String, cls: String, round: Int)(
      f: => Long): Unit = {
    val id = tr.newOp()
    val t0 = System.nanoTime()
    val (rows, ok, err) =
      try (f, true, "")
      catch { case e: Throwable =>
        (0L, false, String.valueOf(e.getMessage).linesIterator
          .take(1).mkString.take(300))
      }
    val t1 = System.nanoTime()
    ops += Op(kind, cls, (t0 - start) / 1e9, (t1 - t0) / 1e9, rows, ok, err,
      round, id)
  }
}

object Workloads {

  private def elapsed(start: Long): Double = (System.nanoTime() - start) / 1e9

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty)

  /** An integral result as an exact integer; anything else as its text
    * (which then fails the comparison with the shadow's integer). */
  private def num(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal if d.scale <= 0 => BigInt(d.toBigInteger)
    case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte) => BigInt(n.asInstanceOf[Number].longValue)
    case other => other.toString
  }

  /** Order-insensitive content hash of a frame — row count plus the exact
    * sum of a 64-bit hash of every row — and the `extra` aggregates, all
    * from one execution. */
  def contentHash(df: DataFrame, extra: Column*): (Long, String, Seq[Any]) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
        .cast("decimal(38,0)")) +: extra: _*).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"),
      (2 until r.length).map(r.get))
  }

  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map(f => Files.size(f)).sum
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  // ------------------------------------------------------------ SQL stream

  /** Blocks run on a throw-away engine before measuring, so the JIT and
    * Spark's code caches have seen every statement kind. */
  private val WarmBlocks = 2
  private val SqlSetups = 5
  /** A block of the stream takes about this long on a 4-core box;
    * `seconds` of window buys round(seconds / NominalBlockS) blocks. */
  private val NominalBlockS = 2.0

  /** A fresh engine with the reference's fixture, then a fixed number of
    * whole statement blocks: the same statements for every run of a seed,
    * however fast the engine gets through them. */
  def sqlStream(spark: SparkSession, tr: Tracer, in: String,
      seconds: Double): RunRecord = {
    val rec = new RunRecord
    val setupSql = lines(s"$in/setup.sql")
    val checksumSql = lines(s"$in/checksum.sql").head
    // block \t kind \t statement
    val stream = lines(s"$in/stream.tsv").map { l =>
      val Array(block, kind, sql) = l.split("\t", 3); (block.toInt, kind, sql)
    }

    def fresh(): Engine = {
      rec.setupOps += tr.newOp()
      val t0 = System.nanoTime()
      val e = tr.span("sqlfront", "engine_new") { new Engine(spark) }
      setupSql.foreach(s => tr.span("sqlfront", "setup") { e.sql(s) })
      val n = tr.span("sqlfront", "setup") {
        e.sql("SELECT COUNT(*) FROM test").head().getLong(0)
      }
      rec.setups += elapsed(t0)
      require(n == 100000L, s"set-up left $n rows, expected 100000")
      e
    }

    def exec(e: Engine, kind: String, sql: String): (Any, Long) =
      if (kind == "point" || kind == "range") {
        val df = tr.span("sqlfront", "call", kind) { e.sql(sql) }
        if (tr.on) tr.span("sqlfront", "plan", kind) {
          df.queryExecution.executedPlan
        }
        val rows = tr.span("sqlfront", "exec", kind) { df.collect() }
        if (kind == "point")
          (rows.headOption.map(r => num(r.get(0))).orNull, rows.length.toLong)
        else {
          val r = rows.head
          (Seq(num(r.get(0)), num(r.get(1))),
            r.get(0).asInstanceOf[java.lang.Number].longValue)
        }
      } else {
        tr.span("sqlfront", "call", kind) { e.sql(sql) }
        (null, 1L)
      }

    // throw-away engines: set-up samples (the first is cold, so the
    // median needs several); the first also warms up the statements
    for (w <- 0 until SqlSetups - 1) {
      val e = fresh()
      if (w == 0) stream.takeWhile(_._1 < WarmBlocks)
        .foreach { case (_, k, s) => exec(e, k, s) }
    }
    val e = fresh()
    val blocks = math.max(1, math.round(seconds / NominalBlockS).toInt)
    val timed = stream.takeWhile(_._1 < blocks)
    require(timed.last._1 == blocks - 1,
      s"the stream holds fewer than $blocks blocks")
    val results = mutable.ArrayBuffer.empty[Any]
    val start = System.nanoTime()
    for (((block, kind, sql), i) <- timed.zipWithIndex) {
      var result: Any = null
      rec.op(tr, start, kind,
          if (kind == "point" || kind == "range") "read" else "write", block) {
        val (r, rows) = exec(e, kind, sql)
        result = r
        rows
      }
      results += result
      // after the first block
      if (tr.on && block == 0 && (i + 1 == timed.length || timed(i + 1)._1 > 0))
        rec.layer("sqlfront.table_plan_nodes") = tr.span("sqlfront", "table") {
          e.table("test").queryExecution.logical.treeString
            .linesIterator.size.toLong
        }
    }
    rec.windowS = elapsed(start)
    rec.check("executed") = timed.length
    rec.check("results") = results.toSeq
    rec.check("checksum") = e.sql(checksumSql).head().toSeq.map(num)
    rec
  }

  // ------------------------------------------------------------ corpus pipeline

  private val BatchQueries = Seq("p01_corpus_prep", "s05_knn_graph",
    "t40_unigram_ppl", "q03_join_revenue_by_nation")
  private val KernelOp = "kernel_projection"
  /** Input tables each batch op reads (their rows make up `rows_per_s`). */
  private val OpInputs = Map(
    "p01_corpus_prep" -> Seq("documents"),
    "s05_knn_graph" -> Seq("embeddings"),
    "t40_unigram_ppl" -> Seq("documents"),
    "q03_join_revenue_by_nation" ->
      Seq("lineitem", "orders", "customer", "nation", "region"),
    KernelOp -> Seq("documents"))
  private val CorpusTables = OpInputs.values.flatten.toSeq.distinct.sorted
  private val SetupRepeats = 3
  private val IngestCfg = MinHashConfig()
  /** A pass takes about this long on a 4-core box; `seconds` of window
    * buys round(seconds / NominalPassS) passes. */
  private val NominalPassS = 10.0
  /** Deltas whose kept sets are recorded: more than a run's passes reach. */
  private val RecordedDeltas = 5
  /** Untimed passes between the check pass and the window. The JIT is
    * still compiling the planner and executor paths of a pass for a pass or
    * two after the first; a loaded host slows that compiling too, so a
    * timed pass that pays for it would read the host's load twice. */
  private val WarmPasses = 1

  /** Kernel-only projection: `graft.functions` expressions over the corpus
    * text, nothing from the operators above them. */
  private def kernelProjection(docs: DataFrame): DataFrame = {
    val text = col("text")
    docs.select(col("doc_id"),
      TextHashExprs.minhashSig(TextHashExprs.shingleHashSet(text, 5), 64, 42L)
        .as("sig"),
      TextHashExprs.wordNgramHashSet(text, 2).as("bigrams"),
      TextHashExprs.winnowFingerprint(text, 5, 4).as("winnow"),
      TextHashExprs.gopherRepetition(text).as("repetition"))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Batch passes over the 10x corpus, each followed by one incremental
    * ingest delta against a persisted dedup state that grows pass by pass.
    *
    * Per pass: p01, s05, t40, q03 and the kernel projection, each forced
    * with a noop sink (read ops), then the next delta cross-deduped against
    * the state (read op) and its survivors appended to a parquet sink and
    * to the state (write op). With `checkOnly`, the untimed check pass and
    * then every delta ingested untimed: the values recorded for later runs. */
  def corpusPipeline(spark: SparkSession, tr: Tracer, in: String,
      work: String, seconds: Double, checkOnly: Boolean = false): RunRecord = {
    val rec = new RunRecord
    val ingestIn = s"$in/ingest"
    val deltas = Files.list(Paths.get(ingestIn)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("delta_"))
      .map(_.stripSuffix(".parquet")).toSeq
      .sortBy(_.stripPrefix("delta_").toInt)

    /** Fresh state and sink dirs, the state seeded from the initial half
      * of the ingest corpus; returns (state, sink). */
    def seedState(n: Int): (String, String) = {
      deleteTree(s"$work/s$n")
      val state = s"$work/s$n/state"
      val initial = tr.span("core", "tables_load", "initial") {
        Tables.load(spark, ingestIn, "initial")
      }
      tr.span("operators", "write_state") {
        Incremental.writeDedupState(initial, "doc_id", "text", IngestCfg, state)
      }
      (state, s"$work/s$n/sink")
    }

    /** One delta: cross-dedup against the state (read), then append the
      * survivors to the sink and the state (write). Returns the kept ids. */
    def ingest(st: (String, String), d: String, round: Int,
        start: Long, timed: Boolean): Seq[Long] = {
      val (state, sink) = st
      var survivors: DataFrame = null
      var ids = Seq.empty[Long]
      def read(): Long = {
        val delta = tr.span("core", "tables_load", d) {
          Tables.load(spark, ingestIn, d)
        }
        survivors = tr.span("operators", "cross_dedup", d) {
          val s = Incremental.crossDedupAgainstState(delta, "doc_id",
            "text", state, IngestCfg).persist(StorageLevel.MEMORY_AND_DISK)
          s.count()
          s
        }
        delta.count()
      }
      // the writes refresh every cached plan that reads the state, so the
      // survivors are read back before them, untimed
      def keep(): Unit = ids = survivors.select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      def write(): Long = {
        tr.span("operators", "sink_write", d) {
          survivors.write.mode("append").parquet(sink)
        }
        tr.span("operators", "append_state", d) {
          Incremental.appendDedupState(survivors, "doc_id", "text",
            IngestCfg, state)
        }
        ids.length.toLong
      }
      if (timed) {
        rec.op(tr, start, "cross_dedup", "read", round)(read())
        if (survivors != null) keep()
        rec.op(tr, start, "ingest_write", "write", round)(write())
      } else { read(); keep(); write() }
      if (survivors != null) survivors.unpersist(blocking = true)
      ids
    }

    // set-up: load and count the corpus tables, seed a fresh dedup state.
    // Repeated for the median; only the last state is kept
    var tables = Map.empty[String, DataFrame]
    var counts = Map.empty[String, Long]
    var st: (String, String) = null
    val repeats = if (checkOnly) 1 else SetupRepeats
    for (r <- 0 until repeats) {
      rec.setupOps += tr.newOp()
      val t0 = System.nanoTime()
      val loaded = CorpusTables.map { n =>
        n -> tr.span("core", "tables_load", n) {
          val df = Tables.load(spark, in, n)
          (df, df.count())
        }
      }.toMap
      st = seedState(r)
      rec.setups += elapsed(t0)
      tables = loaded.map { case (n, (df, _)) => n -> df }
      counts = loaded.map { case (n, (_, c)) => n -> c }
      if (r < repeats - 1) deleteTree(s"$work/s$r")
    }
    val opRows = OpInputs.map { case (op, ts) => op -> ts.map(counts).sum }

    def frame(op: String): DataFrame =
      if (op == KernelOp) tr.span("functions", "kernel_build", op) {
        kernelProjection(tables("documents"))
      }
      else tr.span("queries", "construct", op) {
        graft.SparkEntry.queries(op)(spark, in)
      }

    /** The frames of the latest timed pass, checked after the window. */
    val lastPass = mutable.LinkedHashMap.empty[String, DataFrame]

    def runOp(op: String): Long = {
      val df = frame(op)
      lastPass(op) = df
      val layer = if (op == KernelOp) "functions" else "queries"
      if (tr.on) tr.span(layer, "plan", op) { df.queryExecution.executedPlan }
      tr.span(layer, if (op == KernelOp) "kernel_scan" else "exec", op) {
        noop(df)
      }
      opRows(op)
    }

    val ops = BatchQueries :+ KernelOp
    // untimed output check: content hash and invariants per batch op, then
    // the first delta ingested. It runs before the window and so is the
    // first warm-up pass: code caches, and the trained models the queries
    // memoize per corpus, are what a long-lived session already holds
    tr.newOp()   // the check pass's spans belong to no set-up
    val w0 = System.nanoTime()
    val docs = counts("documents")
    rec.check("outputs") = ops.map { op =>
      val df = frame(op)
      // the timed passes force each frame with a noop sink: warm that too
      noop(df)
      // q03 counts every lineitem once; p01's ids are distinct; s05 has no
      // self edge; t40 and the kernel keep one row per document
      val extra = op match {
        case "q03_join_revenue_by_nation" => Seq(sum(col("n_items")))
        case "p01_corpus_prep" => Seq(countDistinct(col("doc_id")))
        case "s05_knn_graph" => Seq(sum(when(
          col(df.columns(0)) === col(df.columns(1)), 1).otherwise(0)))
        case _ => Nil
      }
      val (n, h, x) = contentHash(df, extra: _*)
      val invariant = op match {
        case "q03_join_revenue_by_nation" => x.head == counts("lineitem")
        case "p01_corpus_prep" => x.head == n && n > 0 && n <= docs
        case "s05_knn_graph" => n > 0 && x.head == 0L
        case _ => n == docs
      }
      op -> Map("rows" -> n, "hash" -> h, "invariant" -> invariant)
    }.toMap
    rec.check("input_rows") = counts
    val kept = mutable.ArrayBuffer(ingest(st, deltas.head, -1, 0L, timed = false))
    rec.detail("check_pass_s") = elapsed(w0)

    val storage = mutable.ArrayBuffer.empty[Map[String, Any]]
    val first = 1 + WarmPasses   // the delta timed pass 0 ingests
    if (checkOnly)
      deltas.slice(1, RecordedDeltas)
        .foreach(d => kept += ingest(st, d, 0, 0L, timed = false))
    else {
      // pass w of the warm-up ingests delta w (the check pass took delta 0)
      for (w <- 1 to WarmPasses) {
        ops.foreach(runOp)
        kept += ingest(st, deltas(w), -1, 0L, timed = false)
      }
      rec.check("first_timed_delta") = first
      val start = System.nanoTime()
      // a fixed number of whole passes: a slow phase of a shared host
      // lengthens the window instead of changing the work measured
      val passes = math.max(1, math.round(seconds / NominalPassS).toInt)
      var pass = 0
      while (pass < passes) {
        lastPass.clear()
        ops.foreach(op => rec.op(tr, start, op, "read", pass) { runOp(op) })
        // timed pass p ingests delta first + p
        if (first + pass < deltas.length) {
          kept += ingest(st, deltas(first + pass), pass, start, timed = true)
          if (tr.on && pass == 0) {
            val deltaRows = rec.ops.filter(o =>
              o.round == 0 && o.kind == "cross_dedup").map(_.rows).sum
            rec.layer("operators.state_bytes") = dirBytes(st._1)
            rec.layer("operators.keep_ratio") =
              if (deltaRows > 0) kept(first).length.toDouble / deltaRows
              else 0.0
          }
        }
        if (tr.on) {
          val infos = spark.sparkContext.getRDDStorageInfo
          storage += Map("pass" -> pass,
            "storage_used_mb" ->
              infos.map(i => i.memSize + i.diskSize).sum / 1048576.0,
            "persisted_rdds" -> infos.length)
        }
        pass += 1
      }
      rec.windowS = elapsed(start)
      // untimed: the last pass's frames, run again, must give the check
      // pass's output — a stale memoized model or a lost checkpoint block
      // shows here, not in the check pass
      rec.check("last_pass") = lastPass.map { case (op, df) =>
        op -> (try {
          val (n, h, _) = contentHash(df)
          Map("rows" -> n, "hash" -> h)
        } catch { case e: Throwable =>
          Map("error" -> String.valueOf(e.getMessage).linesIterator
            .take(1).mkString.take(300))
        })
      }.toMap
    }
    if (storage.nonEmpty) {
      rec.layer("core.storage_used_mb") = storage.last("storage_used_mb")
      rec.layer("core.persisted_rdds") = storage.last("persisted_rdds")
      rec.detail("storage_by_pass") = storage.toSeq
    }
    val (state, sink) = st
    val initialRows = Tables.load(spark, ingestIn, "initial").count()
    // after the first timed delta
    rec.layer("operators.state_rows") =
      initialRows + kept.take(first + 1).map(_.length.toLong).sum
    val inputBytes = dirBytes(s"$ingestIn/initial.parquet") +
      deltas.take(kept.length).map(d => dirBytes(s"$ingestIn/$d.parquet")).sum
    rec.check("ingest") = Map(
      "kept" -> kept.toSeq,
      "initial_rows" -> initialRows,
      "state_rows" -> Tables.load(spark, state, Incremental.DedupStateTable)
        .count(),
      "sink_rows" -> (if (kept.exists(_.nonEmpty)) spark.read.parquet(sink)
        .count() else 0L),
      "stored_bytes_per_input_byte" ->
        (dirBytes(state) + dirBytes(sink)).toDouble / inputBytes)
    deleteTree(s"$work/s${repeats - 1}")
    rec
  }
}
