package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, Incremental, Sampling}
import graft.operators.Dedup.MinHashConfig

/** Incremental corpus processing (p07): THE invariant is
  * `full-from-scratch ≡ prior-state + delta` — deduping a delta against
  * the PERSISTED dedup state must keep exactly the rows a full recompute
  * against the live prior corpus keeps, row-for-row, at both test SFs.
  * Plus: state append covers the next ingest, and packing continues
  * bit-stably from the stored high-water mark. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = MinHashConfig(numHashes = 64, bands = 16,
    threshold = 0.35)

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graft_inc").toFile.getAbsolutePath

  private def survivorsEquivalent(dir: String): Unit = {
    val docs = Tables.load(spark, dir, "documents")
    val prior = docs.filter(col("doc_id") % 10 =!= 9)
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val full = Dedup.crossDedup(delta, prior, "doc_id", "text", cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val stateDir = tmp()
    Incremental.writeDedupState(prior, "doc_id", "text", cfg, stateDir)
    val inc = Incremental
      .crossDedupAgainstState(delta, "doc_id", "text", stateDir, cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == full,
      s"state-vs-recompute divergence at $dir: " +
        s"only-inc=${inc.diff(full).take(5)} only-full=${full.diff(inc).take(5)}")
    assert(inc.nonEmpty && inc.size < delta.count(),
      "fixture must exercise both keeps and drops")
  }

  test("full-from-scratch ≡ prior-state + delta, row-for-row (sf0.001)") {
    survivorsEquivalent("/root/testdata/sf0.001")
  }

  test("full-from-scratch ≡ prior-state + delta, row-for-row (sf0.01)") {
    survivorsEquivalent("/root/testdata/sf0.01")
  }

  test("append extends the state: the SECOND delta dedups against " +
      "prior + first-delta survivors, ≡ from-scratch on the grown corpus") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val old = docs.filter(col("doc_id") % 10 < 8)
    val d1 = docs.filter(col("doc_id") % 10 === 8)
    val d2 = docs.filter(col("doc_id") % 10 === 9)
    val stateDir = tmp()
    Incremental.writeDedupState(old, "doc_id", "text", cfg, stateDir)
    val d1surv = Incremental
      .crossDedupAgainstState(d1, "doc_id", "text", stateDir, cfg)
      .localCheckpoint(true)
    Incremental.appendDedupState(d1surv, "doc_id", "text", cfg, stateDir)
    val inc = Incremental
      .crossDedupAgainstState(d2, "doc_id", "text", stateDir, cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val full = Dedup.crossDedup(d2,
        old.select("doc_id", "text").union(d1surv.select("doc_id", "text")),
        "doc_id", "text", cfg)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(inc == full)
  }

  private def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("persisted survivors keep the delta's partitions: an append adds " +
      "one state file per delta partition, not one per shuffle partition") {
    withSQLConf("spark.sql.shuffle.partitions" -> "16") {
      val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      val old = docs.filter(col("doc_id") % 10 < 6)
      val stateDir = tmp()
      Incremental.writeDedupState(old, "doc_id", "text", cfg, stateDir)
      val stateFiles = new java.io.File(stateDir,
        s"${Incremental.DedupStateTable}.parquet")
      def parts(): Int =
        stateFiles.listFiles().count(_.getName.startsWith("part-"))
      var kept = Seq.empty[Long]
      for (m <- 6 to 8) {
        // a one-file delta table, as an ingest receives it
        Tables.save(docs.filter(col("doc_id") % 10 === m).coalesce(1),
          stateDir, s"delta_$m")
        val delta = Tables.load(spark, stateDir, s"delta_$m")
        // persisted as an ingest does: a cached plan keeps its output
        // partitioning, so a shuffled survivor set stays at 16 partitions
        val survivors = Incremental
          .crossDedupAgainstState(delta, "doc_id", "text", stateDir, cfg)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = delta.rdd.getNumPartitions
        assert(survivors.rdd.getNumPartitions == n, s"delta $m")
        // read before the append, which re-plans every cached frame over
        // the state
        kept ++= survivors.select("doc_id").collect().map(_.getLong(0))
        val before = parts()
        Incremental.appendDedupState(survivors, "doc_id", "text", cfg,
          stateDir)
        assert(parts() - before <= n, s"delta $m")
        survivors.unpersist(blocking = true)
      }
      val next = docs.filter(col("doc_id") % 10 === 9)
      val inc = Incremental
        .crossDedupAgainstState(next, "doc_id", "text", stateDir, cfg)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val grown = old.union(docs.filter(col("doc_id").isin(kept: _*)))
      val full = Dedup.crossDedup(next, grown, "doc_id", "text", cfg)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(inc == full)
      assert(inc.nonEmpty && inc.size < next.count(),
        "fixture must exercise both keeps and drops")
    }
  }

  test("pack continuation: prior run + delta-at-high-water ≡ one combined " +
      "run, offsets and bins row-for-row; high-water round-trips state") {
    // prior ids strictly below delta ids — the append ordering contract
    val prior = Seq.tabulate(20)(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("doc_id", "n_tok")
    val delta = Seq.tabulate(9)(i => (100L + i, (i % 5 + 1).toLong))
      .toDF("doc_id", "n_tok")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tok", "tok_offset", "bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1).toSeq
    val combined = rows(Sampling.packSequences(
      prior.union(delta), "doc_id", "n_tok", budgetTokens = 8L))
    val p1 = Sampling.packSequences(prior, "doc_id", "n_tok",
      budgetTokens = 8L)
    val hw = p1.agg(max(col("tok_offset") + col("n_tok"))).head().getLong(0)
    val stateDir = tmp()
    Incremental.writePackState(spark, stateDir, hw)
    val hwBack = Incremental.readPackHighWater(spark, stateDir)
    assert(hwBack == hw)
    val p2 = Sampling.packSequences(delta, "doc_id", "n_tok",
      budgetTokens = 8L, startOffset = hwBack)
    assert(rows(p1) ++ rows(p2) == combined)
  }

  test("a config mismatch against persisted state is refused, never a " +
      "silent near-dup miss") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(10)
    val stateDir = tmp()
    Incremental.writeDedupState(docs, "doc_id", "text", cfg, stateDir)
    val other = cfg.copy(seed = 7L)
    val err = intercept[IllegalArgumentException](
      Incremental.crossDedupAgainstState(docs, "doc_id", "text",
        stateDir, other).count())
    assert(err.getMessage.contains("mismatched signatures"), err.getMessage)
    intercept[IllegalArgumentException](
      Incremental.appendDedupState(docs, "doc_id", "text", other, stateDir))
    // the matching config still reads fine
    assert(Incremental.readDedupState(spark, stateDir, cfg).count() == 10)
  }

  test("state lives behind the Tables layer and never silently overwrites") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(10)
    val stateDir = tmp()
    Incremental.writeDedupState(docs, "doc_id", "text", cfg, stateDir)
    val st = Tables.load(spark, stateDir, Incremental.DedupStateTable)
    assert(st.columns.toSeq == Seq("doc_id", "nrm", "sh", "sig"))
    assert(st.count() == 10)
    intercept[Exception](
      Incremental.writeDedupState(docs, "doc_id", "text", cfg, stateDir))
    // append mode is the sanctioned growth path
    Incremental.appendDedupState(docs.withColumn("doc_id",
      col("doc_id") + 1000000L), "doc_id", "text", cfg, stateDir)
    assert(Tables.load(spark, stateDir,
      Incremental.DedupStateTable).count() == 20)
  }
}
