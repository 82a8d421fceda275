package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Dedup.MinHashConfig

/** Incremental corpus processing (VERDICT r9 directive 1) — the
  * operational 100 TB shape: production pipelines ingest crawl DELTAS,
  * not full snapshots, so the dedup state of the already-processed corpus
  * PERSISTS as parquet tables and each new batch runs against it instead
  * of recomputing anything over the old corpus.
  *
  * State tables (written/read through the [[graft.core.Tables]] layer,
  * one storage convention with the corpus):
  *  - `dedup_state(doc_id, nrm, sh, sig)` — per processed doc, the
  *    normalized text (exact-dup probe), the hashed shingle set (exact
  *    Jaccard verify), and the MinHash signature (estimate pre-filter;
  *    band keys are a pure function of the signature and recompute on
  *    read). Exactly the columns of [[Dedup.crossPrep]], so the
  *    incremental path and the full-recompute path flow through the SAME
  *    [[Dedup.crossDedupPrepped]] core — `full-from-scratch ≡
  *    prior-state + delta` holds by construction (longs/strings
  *    round-trip parquet bit-exactly) and IncrementalSpec proves it
  *    row-for-row at two SFs.
  *  - `dedup_cfg(num_hashes, bands, shingle_size, threshold, seed)` —
  *    the MinHash config the state was written with; every append and
  *    read REQUIRES an exact match (a mismatched seed/hash-count would
  *    silently miss near-duplicates — wrong answers, no error).
  *  - `pack_state(next_offset)` — the packed export's token high-water
  *    mark: the next delta's [[Sampling.packSequences]] continues from
  *    it, so offsets/bins are stable across ingests (an appended batch
  *    packs exactly as if it had been in the original run).
  *
  * Scale shape: state size ∝ corpus (it IS the dedup index — parquet,
  * distributed, never driver-side). A delta ingest scans the whole state
  * four times, each a column-pruned parquet scan: `sig` for the band keys
  * (pruned to the delta's buckets by a broadcast semi-join, after the
  * scan), `sig` again for the signature estimate, `sh` for the exact
  * Jaccard verify and `nrm` for the exact-text probe (pruned to the
  * delta's text hashes, after the scan). Below the session's 64 MB
  * broadcast threshold the estimate's `sig` scan and the verify's `sh`
  * scan are broadcast whole. The survivors keep the delta's partitions
  * (the victims are broadcast), so an append writes one state file per
  * delta partition. Compared with d08's recompute path, only the
  * corpus-side signature computation is gone (at 100 TB that recompute
  * is the whole cost). */
object Incremental {

  val DedupStateTable = "dedup_state"
  val DedupCfgTable = "dedup_cfg"
  val PackStateTable = "pack_state"

  /** The config a state dir was written with — signatures are
    * seed/hash-count/shingle-size specific, so a MISMATCHED read would
    * silently miss near-duplicates (the worst failure mode: wrong
    * answers, no error). Persisted beside the state and REQUIRED to
    * match on every append and read. */
  private def readCfg(spark: SparkSession,
      stateDir: String): MinHashConfig = {
    val r = Tables.load(spark, stateDir, DedupCfgTable).head() // 1-row cfg
    MinHashConfig(r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3),
      r.getLong(4))
  }

  private def requireCfg(spark: SparkSession, stateDir: String,
      cfg: MinHashConfig): Unit = {
    val stored = readCfg(spark, stateDir)
    require(stored == cfg,
      s"dedup state at $stateDir was written with $stored but accessed " +
        s"with $cfg — mismatched signatures would silently miss " +
        "near-duplicates")
  }

  /** Persist (or with mode="append", extend) the dedup state of a
    * processed corpus. Appends must carry the config the state was
    * written with. */
  def writeDedupState(df: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig, stateDir: String,
      mode: String = "errorifexists"): Unit = {
    if (mode == "append") requireCfg(df.sparkSession, stateDir, cfg)
    else {
      import df.sparkSession.implicits._
      Tables.save(
        Seq((cfg.numHashes, cfg.bands, cfg.shingleSize, cfg.threshold,
            cfg.seed))
          .toDF("num_hashes", "bands", "shingle_size", "threshold", "seed"),
        stateDir, DedupCfgTable, mode)
    }
    Tables.save(
      // cut = false: this write is the materialization — a checkpoint
      // first would double the corpus-scale write volume
      Dedup.crossPrep(df, idCol, textCol, cfg, cut = false)
        .select(col("__id").as("doc_id"), col("__nrm").as("nrm"),
          col("__sh").as("sh"), col("__sig").as("sig")),
      stateDir, DedupStateTable, mode)
  }

  /** Extend the dedup state with a processed delta (the post-ingest step:
    * the NEXT delta must also dedup against this one). */
  def appendDedupState(df: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig, stateDir: String): Unit =
    writeDedupState(df, idCol, textCol, cfg, stateDir, mode = "append")

  /** The persisted state as a [[Dedup.crossPrep]]-shaped frame (band keys
    * recomputed from the stored signatures — a pure deterministic
    * function, so read-back preps are value-identical to live ones).
    * Refuses a config that differs from the one the state was written
    * with. */
  def readDedupState(spark: SparkSession, stateDir: String,
      cfg: MinHashConfig): DataFrame = {
    requireCfg(spark, stateDir, cfg)
    Tables.load(spark, stateDir, DedupStateTable)
      .select(col("doc_id").as("__id"), col("nrm").as("__nrm"),
        col("sh").as("__sh"), col("sig").as("__sig"))
      .withColumn("__bands",
        Dedup.bandHashes(col("__sig"), cfg.bands, cfg.rowsPerBand))
  }

  /** d08's cross-dedup with the corpus side READ FROM STATE instead of
    * recomputed: delta docs that duplicate the processed corpus exactly
    * or nearly are dropped; survivors are the new content to ingest.
    * `cfg` must equal the config the state was written with (signatures
    * are seed/hash-count specific). */
  def crossDedupAgainstState(delta: DataFrame, idCol: String,
      textCol: String, stateDir: String,
      cfg: MinHashConfig = MinHashConfig(),
      maxBucket: Int = 1000): DataFrame =
    Dedup.crossDedupPrepped(delta, idCol, textCol,
      readDedupState(delta.sparkSession, stateDir, cfg), cfg, maxBucket)

  /** Record the packed export's next free token offset. */
  def writePackState(spark: SparkSession, stateDir: String,
      nextOffset: Long, mode: String = "overwrite"): Unit = {
    import spark.implicits._
    Tables.save(Seq(nextOffset).toDF("next_offset"),
      stateDir, PackStateTable, mode)
  }

  /** The stored high-water mark (max survives append-mode writes). */
  def readPackHighWater(spark: SparkSession, stateDir: String): Long =
    Tables.load(spark, stateDir, PackStateTable)
      .agg(max(col("next_offset"))).head().getLong(0) // 1-row state read

  // ---- model-refresh scoring log (VERDICT r10 directive 4) ---------------

  val ScoreLogTable = "score_log"

  /** Append-only record of WHICH registry model version scored WHICH
    * ingest batch. Production pipelines refresh the funnel model as the
    * corpus drifts — one [[graft.core.ModelStore]] version per crawl —
    * and an auditable ingest must be RE-SCORABLE with exactly the model
    * that produced it: the recorded registry path pins the bits (parquet
    * round-trips doubles exactly), so re-loading it reproduces the
    * batch's scores bit-for-bit even after newer versions land
    * (ModelRefreshSpec proves it). One row per (batch, model); the log is
    * #batches-sized, never corpus-sized. */
  def recordScoredBatch(spark: SparkSession, stateDir: String,
      batchId: Long, modelName: String, versionPath: String): Unit = {
    import spark.implicits._
    Tables.save(Seq((batchId, modelName, versionPath))
        .toDF("batch_id", "model_name", "version_path"),
      stateDir, ScoreLogTable, "append")
  }

  /** The scoring log: (batch_id, model_name, version_path). */
  def scoreLog(spark: SparkSession, stateDir: String): DataFrame =
    Tables.load(spark, stateDir, ScoreLogTable)

  /** The registry version recorded for (batch, model) — the exact model
    * to re-load for reproducing that batch's scores. */
  def recordedVersion(spark: SparkSession, stateDir: String,
      batchId: Long, modelName: String): Option[String] =
    scoreLog(spark, stateDir)
      .filter(col("batch_id") === batchId &&
        col("model_name") === modelName)
      .select("version_path")
      .collect().headOption.map(_.getString(0)) // log is #batches-sized
}
