package graft

import org.apache.spark.sql.functions._
import graft.operators.{ConnectedComponents, Dedup, Recursive, Skew}

/** Round-2 hardening: reliable-checkpoint parity for every iterative
  * operator, the scaled SELECTIVITY estimator, and the saltedJoin
  * outer-join guard. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (3L, "the quick brown fox jumps over the lazy cat and runs far away home"),
    (4L, "completely different content about spark dataframes and catalyst")
  ).toDF("doc_id", "text")

  private def withMode[A](mode: String)(body: => A): A = {
    spark.conf.set(graft.core.Checkpoint.ModeKey, mode)
    try body finally spark.conf.unset(graft.core.Checkpoint.ModeKey)
  }

  test("reliable checkpoint mode produces identical results to local mode") {
    val local = withMode("local") {
      (Dedup.minhashCandidates(docs, "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.6))
        .collect().toSet,
       // -1: the distributed path, so the round cuts run in each mode
       ConnectedComponents.labelPropagation(
          Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst"), 50, -1L)
        .collect().toSet,
       Recursive.fixpoint(spark.range(1, 2).toDF("n")) { f =>
          f.filter($"n" < 10).select(($"n" + 1).as("n"))
        }.collect().toSet)
    }
    val reliable = withMode("reliable") {
      (Dedup.minhashCandidates(docs, "doc_id", "text",
          Dedup.MinHashConfig(numHashes = 64, bands = 16, threshold = 0.6))
        .collect().toSet,
       // -1: the distributed path, so the round cuts run in each mode
       ConnectedComponents.labelPropagation(
          Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst"), 50, -1L)
        .collect().toSet,
       Recursive.fixpoint(spark.range(1, 2).toDF("n")) { f =>
          f.filter($"n" < 10).select(($"n" + 1).as("n"))
        }.collect().toSet)
    }
    assert(local == reliable)
    assert(local._1.nonEmpty && local._2.nonEmpty && local._3.size == 10)
    // reliable mode actually wrote RDD checkpoints
    assert(spark.sparkContext.getCheckpointDir.isDefined)
  }

  test("SELECTIVITY scales past tracker saturation (AggregateDataSelectivity)") {
    spark.udf.register("selectivity_small", org.apache.spark.sql.functions.udaf(
      new graft.functions.Aggregators.Selectivity(maxTracked = 100),
      org.apache.spark.sql.Encoders.LONG))
    // 1000 all-distinct values, tracker caps at 100: unscaled gives 10%,
    // scaled (size·100/tracked = 100·100/100) gives the true 100%
    val allDistinct = spark.range(0, 1000).toDF("v")
    allDistinct.createOrReplaceTempView("sel_t")
    assert(spark.sql("SELECT selectivity_small(v) FROM sel_t").head().getInt(0) == 100)
    // constant column stays 1% regardless of saturation
    spark.range(0, 1000).select(lit(7L).as("v")).createOrReplaceTempView("sel_c")
    assert(spark.sql("SELECT selectivity_small(v) FROM sel_c").head().getInt(0) == 1)
    // unsaturated behavior unchanged: 50 distinct in 1000 rows → 5%
    spark.range(0, 1000).select(($"id" % 50).as("v")).createOrReplaceTempView("sel_m")
    assert(spark.sql("SELECT selectivity_small(v) FROM sel_m").head().getInt(0) == 5)
  }

  test("simhash bands derive from maxHamming; undersized bands rejected") {
    // maxHamming=8 → 9 uneven bands; recall guarantee holds by pigeonhole
    val pairs = Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(docs, "doc_id", "text", maxHamming = 8, bands = 4)
    }
  }

  test("saltedJoin rejects build-side-preserving join types") {
    val probe = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val build = Seq((1, "x"), (3, "y")).toDF("k", "w")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(probe, build, "k", joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(probe, build, "k", joinType = "full_outer")
    }
    // inner still works and matches the unsalted join
    val salted = Skew.saltedJoin(probe, build, "k").select("k", "v", "w")
      .collect().toSet
    val plain = probe.join(build, "k").collect().toSet
    assert(salted == plain)
  }
}
