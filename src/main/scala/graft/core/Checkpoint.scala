package graft.core

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FileScanRDD, LogicalRelation}

/** Lineage cut with a selectable durability mode.
  *
  * Iterative operators (LSH dedup, label propagation, recursive CTEs) must
  * cut lineage every round or plan compilation blows up; connected
  * components also cut their edge set once and read its size from the cut's
  * own job through an `Observation` (a cut runs the observed plan). HOW
  * they cut is a durability trade the caller's cluster dictates:
  *
  *  - `local` (default): `localCheckpoint` — no disk round-trip, but blocks
  *    live on executors, so an executor loss (or dynamic-allocation
  *    downscale) mid-iteration kills the job unrecoverably.
  *  - `reliable`: `checkpoint()` to the SparkContext checkpoint directory —
  *    survives executor loss; the right mode on a real cluster. The
  *    directory comes from `spark.graft.checkpoint.dir` (set lazily on
  *    first use) so callers need no SparkContext plumbing.
  *
  * Select with `spark.conf.set("spark.graft.checkpoint.mode", "reliable")`.
  * On a multi-node master, reliable mode REQUIRES an explicit
  * `spark.graft.checkpoint.dir` on shared storage (HDFS/S3): the
  * java.io.tmpdir fallback is node-local, so executors would write
  * checkpoint blocks to their own disks and recovery reads would fail —
  * it only appears to work in local mode. Checkpoint files accumulate per
  * app run; set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (or clean the directory between runs) on long-lived sessions.
  *
  * A cut's blocks live until driver GC frees them. A long-lived owner
  * that supersedes its cuts (the SQL front door's table versions) frees
  * them at once with [[release]].
  *
  * The reference has no equivalent (single-node MVCC storage is its
  * durability story); this is the Spark-native translation of that
  * guarantee for iterative operators.
  */
object Checkpoint {

  val ModeKey = "spark.graft.checkpoint.mode"
  val DirKey = "spark.graft.checkpoint.dir"

  def cut(df: DataFrame): DataFrame = {
    // Streaming frames cannot checkpoint mid-plan (and don't need the
    // plan-compilation cut: a microbatch plan is built fresh per trigger).
    // Passing through keeps batch operators that use cut() as a
    // materialization barrier (e.g. chunkText) usable on streams —
    // with the documented cost that whatever the cut would have
    // materialized is recomputed per consumer within the microbatch.
    if (df.isStreaming) return df
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          val explicit = spark.conf.getOption(DirKey)
          if (explicit.isEmpty && !spark.sparkContext.isLocal)
            throw new IllegalStateException(
              s"$ModeKey=reliable on a non-local master requires $DirKey " +
                "on shared storage (HDFS/S3): the node-local tmpdir fallback " +
                "would strand checkpoint blocks on individual executors")
          spark.sparkContext.setCheckpointDir(explicit.getOrElse(
            sys.props("java.io.tmpdir") + "/graft_checkpoints"))
        }
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(eager = true)
    }
  }

  /** Unpersist `cut`'s blocks, without blocking, unless one of `holders`
    * still reads them; returns whether it released them. `cut` is a frame
    * [[cut]] returned: a `LogicalRDD` over the checkpointed RDD. A holder
    * reads it when its plan (subqueries included) holds an RDD whose
    * lineage reaches that RDD: the `LogicalRDD` itself, or a frame built
    * with `createDataFrame` over an RDD derived from it. A frame that reads
    * released blocks fails when it runs ("checkpoint block not found"); it
    * never returns other rows. In reliable mode the files stay in the
    * checkpoint directory. */
  def release(cut: DataFrame, holders: Iterable[DataFrame]): Boolean =
    cut.queryExecution.analyzed match {
      case own: LogicalRDD =>
        val held = holders.exists(h => reaches(planRdds(h), _.id == own.rdd.id))
        if (!held) own.rdd.unpersist(blocking = false)
        !held
      case _ => true // a streaming pass-through holds no blocks
    }

  /** Whether `df` reads catalog table `table`, matched case-insensitively
    * as the session catalog matches names: through a relation in its plan,
    * subqueries included, or through an RDD in its plan whose lineage scans
    * the table's directory (a frame built with `createDataFrame` over a
    * derived RDD). */
  def readsTable(df: DataFrame, table: String): Boolean = {
    val dir = s"/${table.toLowerCase}/"
    df.queryExecution.analyzed
      .collectWithSubqueries { case r: LogicalRelation => r.catalogTable }.flatten
      .exists(_.identifier.table.equalsIgnoreCase(table)) ||
    reaches(planRdds(df), {
      case f: FileScanRDD => f.filePartitions.exists(
        _.files.exists(_.filePath.toString.toLowerCase.contains(dir)))
      case _ => false
    })
  }

  /** The RDDs a frame's plan reads directly. */
  private def planRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries { case r: LogicalRDD => r.rdd }

  /** Whether the lineage of `roots` holds an RDD that is `hit`. A
    * checkpointed RDD's lineage stops at its checkpoint, so the walk stays
    * short. */
  private def reaches(roots: Seq[RDD[_]], hit: RDD[_] => Boolean): Boolean = {
    val seen = mutable.HashSet.empty[Int]
    val todo = mutable.Stack[RDD[_]](roots: _*)
    while (todo.nonEmpty) {
      val r = todo.pop()
      if (hit(r)) return true
      if (seen.add(r.id)) r.dependencies.foreach(d => todo.push(d.rdd))
    }
    false
  }
}
