package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.core.Checkpoint

/** Connected components — the primitive that upgrades keep-earliest dedup
  * into full transitive clustering (a ~ b ~ c ⇒ one cluster even when
  * a ≁ c directly). Every node is labeled with its component's minimum
  * id, so the result is deterministic whichever path computes it.
  *
  * The non-self edges are materialized once with
  * [[graft.core.Checkpoint.cut]]; an `Observation` reads their count from
  * the cut's own job. Edges are not deduplicated first: a repeated edge
  * changes no label, and the pair frames of the dedup callers hold each
  * pair once, so a distinct would only add a shuffle. Then:
  *  - at most [[DriverEdges]] edges with integral ids: the driver collects
  *    them and runs union-find, returns a local frame and releases the
  *    cut. Two jobs (the cut and the collect) whatever the diameter.
  *  - otherwise, min-label propagation over the cut: each round every
  *    node adopts the minimum label among itself and its neighbors, one
  *    shuffle on node id and one lineage cut per round (local or
  *    reliable, cluster-durable by config), O(diameter) rounds. The
  *    round's changed-label count is an `Observation` on its cut, so a
  *    round runs no job of its own to decide convergence. Labels still
  *    changing after `maxIter` rounds fail the call: they need not be
  *    the minimum.
  */
object ConnectedComponents {

  /** Edge count (rows of the non-self edge cut) at or below which
    * components are computed on the driver. It bounds the driver bytes:
    * the collected edges (2^18 `(Long, Long)` tuples, ~40 B each:
    * 10 MiB), the sorted id and parent arrays of union-find (at most 2^19
    * nodes, 12 B each: 6 MiB) and the returned local frame (one
    * `(node, component)` row per node, ~40 B each: 20 MiB). */
  val DriverEdges: Long = 1L << 18

  /** edges: (src, dst) pairs of integral or other orderable ids,
    * undirected; self-loops and edges with a null end are ignored.
    * Returns (node, component), of the ids' type, for every node on a
    * remaining edge. `maxIter` bounds the rounds of the distributed path. */
  def labelPropagation(edges: DataFrame, maxIter: Int = 50): DataFrame =
    labelPropagation(edges, maxIter, DriverEdges)

  /** [[labelPropagation]] with the driver-path edge limit as a parameter;
    * a negative limit forces the distributed path. */
  private[graft] def labelPropagation(
      edges: DataFrame, maxIter: Int, driverEdges: Long): DataFrame = {
    require(!edges.isStreaming, "connected components need a batch edge frame")
    require(maxIter >= 1, s"maxIter must be at least 1, got $maxIter")
    val seen = Observation()
    val cut = edges.toDF("src", "dst")
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .observe(seen, count(lit(1)).as("edges"))
      .transform(Checkpoint.cut)
    val idType = cut.schema("src").dataType
    val integral = Seq(ByteType, ShortType, IntegerType, LongType).contains(idType)
    if (integral && seen.get("edges").asInstanceOf[Long] <= driverEdges) {
      val pairs = cut.select(col("src").cast(LongType), col("dst").cast(LongType))
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
      Checkpoint.release(cut, Nil)
      edges.sparkSession.createDataFrame(unionFind(pairs))
        .select(col("_1").cast(idType).as("node"), col("_2").cast(idType).as("component"))
    } else propagate(cut, maxIter)
  }

  /** (node, minimum id of its component) for every node of `pairs`.
    * Union-find over the sorted distinct ids always links the larger
    * root index under the smaller, so each root is its set's minimum. */
  private def unionFind(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val ids = (pairs.map(_._1) ++ pairs.map(_._2)).sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def at(id: Long) = java.util.Arrays.binarySearch(ids, id)
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(at(a)), find(at(b)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.indices.map(i => (ids(i), ids(find(i))))
  }

  /** Min-label propagation over the (src < dst) edge cut. */
  private def propagate(cut: DataFrame, maxIter: Int): DataFrame = {
    val sym = cut.union(cut.select(col("dst"), col("src")))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    var changed = 0L
    var i = 0
    do {
      // neighbor labels: for each edge (src,dst), dst's label is a candidate
      // for src; min over candidates ∪ own label
      val neighborLabels = sym
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("label")).as("nbr_min"))
      val round = Observation()
      labels = labels.join(neighborLabels, Seq("node"), "left")
        .observe(round, count(when(col("nbr_min") < col("label"), 1)).as("changed"))
        .select(col("node"), least(col("label"), col("nbr_min")).as("label"))
        .transform(Checkpoint.cut)
      changed = round.get("changed").asInstanceOf[Long]
      i += 1
    } while (changed > 0 && i < maxIter)
    if (changed > 0) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds: " +
        s"$changed labels still changed in the last round")
    labels.withColumnRenamed("label", "component")
  }

  /** Transitive dedup: survivors = one doc (min id) per near-duplicate
    * component, plus all docs with no duplicate edge at all. */
  def transitiveSurvivors(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = labelPropagation(pairs.select(col("id_a"), col("id_b")))
    val victims = comps.filter(col("node") =!= col("component"))
      .select(col("node").as("__victim"))
    df.join(victims, col(idCol) === col("__victim"), "left_anti")
  }

  /** Cluster ASSIGNMENT (the auditable form of [[transitiveSurvivors]]):
    * every row of `df` labeled with its duplicate-cluster id — the min id
    * reachable through the pair graph; rows with no duplicate edge label
    * themselves. `cluster == id` ⇔ the row is its cluster's survivor. */
  def clusterAssignments(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = labelPropagation(pairs.select(col("id_a"), col("id_b")))
      .withColumnRenamed("node", "__node")
    df.join(comps, col(idCol) === col("__node"), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol)))
      .drop("__node", "component")
  }
}
