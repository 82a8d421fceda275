package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Wall-time probe for production-sized BPE vocab training: `numMerges`
  * merges at a given batch size over a documents table. The batched merge
  * rounds exist so a 30-50k-merge vocab doesn't mean 30-50k sequential
  * driver round-trips + lineage cuts; this measures the actual win.
  *
  * The driver corpora carry ~31 distinct tokens per source, so they
  * EXHAUST near 90 merges — passing `synthetic[:V[:D]]` as the dir builds
  * a deterministic Zipf-ish corpus of V distinct pseudo-words over D docs
  * instead (base-36 spellings over hashed ranks), rich enough to sustain
  * thousands of merges: the honest production-vocab measurement.
  *
  * Usage: runMain graft.tools.BpeBench [sfDir|synthetic[:V[:D]]] [numMerges] [batch]
  */
object BpeBench {
  def main(a: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = a.headOption.getOrElse("/root/testdata/sf0.01")
    val merges = a.lift(1).map(_.toInt).getOrElse(256)
    val batch = a.lift(2).map(_.toInt).getOrElse(16)
    val docs = corpus(spark, dir)
    val t0 = System.nanoTime()
    val n = graft.operators.TextAnalysis
      .bpeTrain(docs, "text", merges, batch).count()
    println(f"[bpe-bench] merges=$n batch=$batch " +
      f"wall=${(System.nanoTime() - t0) / 1e9}%.1fs dir=$dir")
    spark.stop()
  }

  /** The documents table of `dir`, or for `synthetic[:V[:D]]` a
    * deterministic Zipf-ish corpus of V distinct words over D docs. */
  def corpus(spark: SparkSession, dir: String): DataFrame =
    if (dir.startsWith("synthetic")) {
      val parts = dir.split(":")
      val v = parts.lift(1).map(_.toInt).getOrElse(30000)
      val d = parts.lift(2).map(_.toInt).getOrElse(20000)
      // 60 words/doc; word rank = floor(V·u³) (u uniform from a hash) —
      // the cubic skew gives the Zipf-ish head real BPE corpora have
      spark.range(d).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(59)), j => {
          val u = (pmod(xxhash64(col("id"), j), lit(1000000L)).cast("double")
            / 1e6)
          concat(lit("w"), conv((u * u * u * v).cast("long").cast("string"),
            10, 36))
        })).as("text"))
        .localCheckpoint(true)
    } else graft.core.Tables.load(spark, dir, "documents")
}
