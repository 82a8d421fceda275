package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.ConnectedComponents

/** Connected components: the driver path (union-find under the edge
  * limit), the distributed path (min-label propagation) and a plain-Scala
  * BFS agree on random graphs; the job count does not grow with the
  * diameter; and propagation that runs out of rounds fails. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private type Edge = (Option[Int], Option[Int])

  /** A random undirected edge list over small ids, so shapes overlap and
    * merge: chains, stars, cycles and single edges, plus self-loops,
    * repeated and reversed edges, and edges with a null end. */
  private val graph: Gen[Seq[Edge]] = {
    val node = Gen.choose(-40, 40)
    val chain = Gen.choose(2, 8).flatMap(Gen.listOfN(_, node)).map(ns => ns.zip(ns.tail))
    val star = Gen.zip(node, Gen.choose(1, 6).flatMap(Gen.listOfN(_, node)))
      .map { case (c, ls) => ls.map(c -> _) }
    val cycle = chain.map(es => es :+ (es.last._2 -> es.head._1))
    val shape = Gen.frequency(3 -> chain, 2 -> star, 2 -> cycle,
      1 -> node.map(v => List(v -> v)), 2 -> Gen.zip(node, node).map(List(_)))
    val nullEnd: Gen[Edge] = Gen.oneOf(node.map(v => (Some(v), None)),
      node.map(v => (None, Some(v))), Gen.const((None, None)))
    for {
      es <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, shape)).map(_.flatten)
      again <- Gen.someOf(es)
      reversed <- Gen.someOf(es)
      nulls <- Gen.choose(0, 2).flatMap(Gen.listOfN(_, nullEnd))
    } yield (es ++ again ++ reversed.map(_.swap))
      .map { case (a, b) => (Option(a), Option(b)) } ++ nulls
  }

  /** (node, component) by BFS: components of the non-null, non-self
    * edges, each labeled with its minimum node. */
  private def reference(es: Seq[(Option[Long], Option[Long])]): Set[(Long, Long)] = {
    val adj = mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    es.foreach {
      case (Some(a), Some(b)) if a != b => adj(a) = b :: adj(a); adj(b) = a :: adj(b)
      case _ =>
    }
    val label = mutable.Map.empty[Long, Long]
    for (start <- adj.keys.toSeq.sorted if !label.contains(start)) {
      val todo = mutable.Queue(start)
      label(start) = start
      while (todo.nonEmpty) adj(todo.dequeue()).foreach { n =>
        if (!label.contains(n)) { label(n) = start; todo.enqueue(n) }
      }
    }
    label.toSet
  }

  private def components(edges: DataFrame, driverEdges: Long): (Seq[DataType], Set[(Long, Long)]) = {
    val out = ConnectedComponents.labelPropagation(edges, 50, driverEdges)
    (out.schema.map(_.dataType),
      out.collect().map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet)
  }

  test("driver path, distributed path and BFS give the same components on random graphs") {
    (1 to 12).foreach { seed =>
      val es = graph.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // even seeds: BIGINT ids beyond the INT range, in the same order
      val (edges, ids, want) =
        if (seed % 2 == 0) {
          val big = es.map { case (a, b) => (a.map(_ * 3000000000L), b.map(_ * 3000000000L)) }
          (big.toDF("a", "b"), LongType, reference(big))
        } else (es.toDF("a", "b"), IntegerType,
          reference(es.map { case (a, b) => (a.map(_.toLong), b.map(_.toLong)) }))
      val driver = components(edges, ConnectedComponents.DriverEdges)
      val distributed = components(edges, -1L)
      assert(driver == (Seq(ids, ids), want), s"seed $seed driver path: $es")
      assert(distributed == (Seq(ids, ids), want), s"seed $seed distributed path: $es")
    }
  }

  test("cluster assignment runs as many jobs on a 40-node chain as on a 2-node one") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsFor(n: Int): Int = {
      val docs = (1L to n).toDF("doc_id")
      val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
      GraftTestAccess.drain(sc)
      jobs.set(0)
      val cl = ConnectedComponents.clusterAssignments(docs, "doc_id", pairs)
        .as[(Long, Long)].collect()
      GraftTestAccess.drain(sc)
      assert(cl.toSet == (1L to n).map(_ -> 1L).toSet)
      jobs.get
    }
    sc.addSparkListener(listener)
    val (short, long) = try (jobsFor(2), jobsFor(40)) finally sc.removeSparkListener(listener)
    assert(short == long, s"2-node chain: $short jobs, 40-node chain: $long jobs")
  }

  test("an edge set with no usable edge gives no components on either path") {
    val none = Seq(Seq.empty[(Long, Long)].toDF("a", "b"),
      Seq((3L, 3L), (4L, 4L)).toDF("a", "b"),
      Seq[(Option[Long], Option[Long])]((Some(1L), None), (None, None)).toDF("a", "b"),
      spark.range(0).select($"id", $"id" + 1))
    for (edges <- none; limit <- Seq(ConnectedComponents.DriverEdges, -1L))
      assert(components(edges, limit) == (Seq(LongType, LongType), Set.empty), limit)
  }

  test("propagation that still changes labels after maxIter rounds fails") {
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.labelPropagation(chain, 3, -1L)
    }
    // round r moves node k's label to max(1, k - r): round 3 changes 4..10
    assert(e.getMessage.contains("did not converge in 3 rounds: 7 labels still changed"),
      e.getMessage)
    // enough rounds converge; the driver path needs none
    assert(ConnectedComponents.labelPropagation(chain, 10, -1L).count() == 10)
    assert(ConnectedComponents.labelPropagation(chain, 1).count() == 10)
  }
}
