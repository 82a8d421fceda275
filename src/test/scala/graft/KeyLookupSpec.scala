package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.debug.{codegenString, codegenStringSeq}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.Checkpoint
import graft.plans.{KeyLookup, KeyLookupExec}
import graft.sqlfront.Engine

/** Primary-key reads over a compacted integral-PK table plan as a
  * `KeyLookupExec` that reads only the partitions whose key spans admit
  * the keys, and compile the same code for every key; wide ranges and
  * every other shape keep Spark's own plan; compactions split the keys on
  * the previous base's spans, or merge the rows written since into them
  * with no shuffle and the rows and key order of a whole cut; and a
  * random stream of DML, key reads and transactions reads what a shadow
  * map holds. */
class KeyLookupSpec extends SparkSpec {

  private def lookups(df: DataFrame): Seq[KeyLookupExec] =
    df.queryExecution.executedPlan.collect { case k: KeyLookupExec => k }

  /** The RDD ids of the materialized bases `df` reads. */
  private def bases(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** `t(f1 INT PRIMARY KEY, f2 BIGINT)` holding f1 = 1..n, f2 = 10·f1,
    * compacted: the set-up insert plus nine no-op DMLs make the tenth. */
  private def compacted(en: Engine, t: String, n: Int): Unit = {
    en.sql(s"CREATE TABLE $t (f1 INT PRIMARY KEY, f2 BIGINT)")
    en.sql(s"INSERT INTO $t SELECT X, X * 10 FROM SYSTEM_RANGE(1, $n)")
    (1 to 9).foreach(_ => en.sql(s"DELETE FROM $t WHERE f1 = -1"))
    assert(en.table(t).queryExecution.analyzed.isInstanceOf[LogicalRDD])
  }

  /** Each partition of a materialized frame as its (f1, f2) rows, in order. */
  private def partitions(base: DataFrame): Seq[Seq[(Int, Long)]] =
    base.rdd.mapPartitions(it => Iterator(it.map(r => (r.getInt(0), r.getLong(1))).toVector))
      .collect().toSeq

  /** Check a compacted base: every partition is in key order, the
    * partitions follow each other in key order, and the spans registered
    * for it hold exactly each partition's keys. */
  private def keyed(base: DataFrame, what: String): Seq[Seq[(Int, Long)]] = {
    val ps = partitions(base)
    val keys = ps.flatten.map(_._1)
    assert(keys == keys.sorted, what)
    val spans = KeyLookup.lookup(base.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd)
      .get.spans.toSeq
    assert(spans == ps.map(p => if (p.isEmpty) None
      else Some(KeyLookup.Span(p.head._1, p.last._1, p.size))), what)
    ps
  }

  /** Cut version `v` in normal form both ways, merged into its base's
    * partitions and whole: the same rows in the same key order, the merge
    * keeps every row of the base's partition i in partition i, and the
    * spans registered for each hold its keys. False when the merge falls
    * back to the whole cut. */
  private def mergesLikeFullCut(v: DataFrame, what: String): Boolean = {
    val Some(old) = KeyLookup.normalBase(v, "f1")
    KeyLookup.merged(v, "f1").exists { m =>
      val full = KeyLookup.fullCut(v, "f1")
      val mp = partitions(m)
      val fp = keyed(full, what)
      assert(mp.flatten == fp.flatten, what)
      assert(mp.size == old.rdd.getNumPartitions, what)
      val was = old.rdd.mapPartitions(it => Iterator(it.map(_.getInt(0)).toSet)).collect()
      val at = mp.zipWithIndex.flatMap { case (p, i) => p.map(_._1 -> i) }.toMap
      assert(was.zipWithIndex.forall { case (ks, i) => ks.forall(k => at.get(k).forall(_ == i)) },
        what)
      Seq(m, full).foreach { c => Checkpoint.release(c, Nil); KeyLookup.forget(c) }
      true
    }
  }

  test("key =, IN and BETWEEN on a compacted base read only the admitted partitions") {
    val en = new Engine(spark)
    compacted(en, "kl", 1000)
    val parts = spark.sparkContext.defaultParallelism
    val point = en.sql("SELECT f2 FROM kl WHERE f1 = 700")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(7000L))
    val Seq(p) = lookups(point)
    assert(p.parts.size == 1 && p.rdd.getNumPartitions == parts)

    val in = en.sql("SELECT f1, f2 FROM kl WHERE f1 IN (3, 5, 998, 5000)")
    assert(in.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      Set((3, 30L), (5, 50L), (998, 9980L)))
    val Seq(i) = lookups(in)
    assert(i.parts.size == 2, i.parts)

    val range = en.sql("SELECT f2 FROM kl WHERE f1 BETWEEN 10 AND 20 AND f2 <> 150")
    assert(range.collect().map(_.getLong(0)).sorted.toSeq ==
      (10 to 20).filter(_ != 15).map(_ * 10L))
    val Seq(r) = lookups(range)
    assert(r.parts.size == 1)

    val none = en.sql("SELECT f2 FROM kl WHERE f1 > 1000")
    assert(none.collect().isEmpty)
    assert(lookups(none).map(_.parts.size) == Seq(0))

    // a range over more than half the partitions keeps the compiled scan
    val wide = en.sql("SELECT COUNT(*), SUM(f2) FROM kl WHERE f1 BETWEEN 2 AND 900")
    assert(wide.head().getLong(0) == 899L && wide.head().getLong(1) == (2 to 900).map(_ * 10L).sum)
    assert(lookups(wide).isEmpty)

    // the key is bound at run time: two keys, one plan string, one
    // generated code (the aggregate's own attribute ids differ per query)
    def plan(q: String) = { val df = en.sql(q); df.collect(); df.queryExecution.executedPlan }
    val pointQ = "SELECT f2 FROM kl WHERE f1 = %d"
    assert(codegenString(plan(pointQ.format(5))) == codegenString(plan(pointQ.format(640))))
    val aggQ = "SELECT COUNT(*), SUM(f2) FROM kl WHERE f1 BETWEEN %1$d AND %1$d + 10"
    val sources = Seq(5, 640).map(k => codegenStringSeq(plan(aggQ.format(k))).map(_._2))
    assert(sources.head.nonEmpty && sources.head == sources.last)
  }

  test("a compaction splits the keys on the previous base's spans, so drift evens out") {
    val en = new Engine(spark)
    compacted(en, "sp", 1000)
    def spans = KeyLookup.lookup(en.table("sp").queryExecution.analyzed
      .asInstanceOf[LogicalRDD].rdd).get.spans.toSeq.flatten
    def inKeyOrder(ss: Seq[KeyLookup.Span]) =
      ss.zip(ss.drop(1)).forall { case (a, b) => a.max < b.min }
    val n = spark.sparkContext.defaultParallelism
    // a thousand keys above the old ones, then nine no-op DMLs: the
    // second compaction splits on the first base's spans, so the new
    // keys all land in the last partition
    en.sql("INSERT INTO sp SELECT X, X * 10 FROM SYSTEM_RANGE(1001, 2000)")
    (1 to 9).foreach(_ => en.sql("DELETE FROM sp WHERE f1 = -1"))
    val second = spans
    assert(inKeyOrder(second) && second.map(_.rows).sum == 2000L, second)
    assert(second.last.max == 2000L && second.last.rows >= 1000L, second)
    // the third splits on the second's spans, which saw the drift
    (1 to 10).foreach(_ => en.sql("DELETE FROM sp WHERE f1 = -1"))
    val third = spans
    assert(inKeyOrder(third) && third.size == n, third)
    assert(third.forall(s => s.rows * n <= 2000L * 3 / 2), third)
    assert(en.sql("SELECT SUM(f2) FROM sp WHERE f1 BETWEEN 990 AND 1010").head().getLong(0) ==
      (990 to 1010).map(_ * 10L).sum)

    // the estimate takes each span's rows as spread evenly, overlaps too
    import KeyLookup.{Span, splits}
    assert(splits(Seq(Span(1, 100, 100)), 4) == Seq(25L, 50L, 75L))
    assert(splits(Seq(Span(1, 100, 100), Span(1, 100, 100)), 2) == Seq(50L))
    assert(splits(Seq(Span(1, 10, 300), Span(11, 1000, 100)), 4) == Seq(4L, 7L, 10L))
    // the whole Long range, within the double estimate's precision
    val Seq(mid) = splits(Seq(Span(Long.MinValue, Long.MaxValue, 10)), 2)
    assert(math.abs(mid) <= 4096L, mid)
    assert(splits(Seq(Span(7, 7, 5)), 3) == Seq(7L, 7L))
  }

  test("shapes the lookup does not recognise keep Spark's plan and read correctly") {
    val en = new Engine(spark)
    compacted(en, "fb", 200)
    def rows(q: String): (Set[Long], Int) = {
      val df = en.sql(q)
      (df.collect().map(_.getLong(0)).toSet, lookups(df).size)
    }
    assert(rows("SELECT f2 FROM fb WHERE f2 = 70") == ((Set(70L), 0)))
    assert(rows("SELECT f2 FROM fb WHERE f1 = 3 OR f2 = 70") == ((Set(30L, 70L), 0)))
    assert(rows("SELECT f2 FROM fb WHERE f1 = 5.5") == ((Set.empty[Long], 0)))
    assert(rows("SELECT f2 FROM fb WHERE f1 = 2147483648") == ((Set.empty[Long], 0)))
    assert(rows("SELECT f2 FROM fb WHERE f1 = NULL") == ((Set.empty[Long], 0)))
    // a cast the optimizer unwraps is the key itself again
    assert(rows("SELECT f2 FROM fb WHERE f1 = CAST(4 AS BIGINT)") == ((Set(40L), 1)))

    // tables without one integral key compact as before: no keyed base
    en.sql("CREATE TABLE cpk (a INT, b INT, v BIGINT, PRIMARY KEY (a, b))")
    en.sql("CREATE TABLE spk (s VARCHAR(10) PRIMARY KEY, v BIGINT)")
    en.sql("INSERT INTO cpk SELECT X, X, X * 10 FROM SYSTEM_RANGE(1, 50)")
    en.sql("INSERT INTO spk SELECT CAST(X AS VARCHAR), X * 10 FROM SYSTEM_RANGE(1, 50)")
    (1 to 9).foreach { _ =>
      en.sql("DELETE FROM cpk WHERE a = -1"); en.sql("DELETE FROM spk WHERE s = 'none'")
    }
    val cpk = en.sql("SELECT v FROM cpk WHERE a = 7 AND b = 7")
    assert(cpk.collect().map(_.getLong(0)).toSeq == Seq(70L) && lookups(cpk).isEmpty)
    val spk = en.sql("SELECT v FROM spk WHERE s = '8'")
    assert(spk.collect().map(_.getLong(0)).toSeq == Seq(80L) && lookups(spk).isEmpty)
  }

  test("randomized DML, key reads and transactions read what a shadow map holds") {
    sealed trait St
    case class Ins(k: Int, v: Long) extends St
    case class Mrg(k: Int, v: Long) extends St
    case class Upd(k: Int, v: Long) extends St
    case class UpdRange(lo: Int, hi: Int, d: Long) extends St
    case class Del(k: Int) extends St
    case class Point(k: Int) extends St
    case class InList(ks: List[Int]) extends St
    case class Range(lo: Int, hi: Int) extends St
    case class Txn(sql: String) extends St

    val key = Gen.choose(1, 260)
    val value = Gen.choose(0L, 1000000L)
    val st: Gen[St] = Gen.frequency(
      3 -> Gen.zip(key, value).map(Ins.tupled),
      3 -> Gen.zip(key, value).map(Mrg.tupled),
      3 -> Gen.zip(key, value).map(Upd.tupled),
      1 -> Gen.zip(key, Gen.choose(0, 40), Gen.choose(-5L, 5L))
        .map { case (lo, w, d) => UpdRange(lo, lo + w, d) },
      2 -> key.map(Del),
      4 -> key.map(Point),
      2 -> Gen.choose(1, 5).flatMap(Gen.listOfN(_, key)).map(InList),
      2 -> Gen.zip(key, Gen.choose(0, 80)).map { case (lo, w) => Range(lo, lo + w) },
      2 -> Gen.oneOf("BEGIN", "COMMIT", "ROLLBACK", "SAVEPOINT a", "SAVEPOINT b",
        "ROLLBACK TO SAVEPOINT a", "ROLLBACK TO SAVEPOINT b").map(Txn))

    for (seed <- 1L to 3L) {
      // on the compacted base (keys 1..200): a MERGE of a key past its
      // last split point, then an UPDATE and a DELETE of keys held only in
      // the rows written since
      val stream = List(Mrg(250, 1L), Ins(230, 2L), Upd(250, 3L), Del(230), Point(250)) ++
        Gen.listOfN(70, st).pureApply(Gen.Parameters.default, Seed(seed))
      val en = new Engine(spark)
      compacted(en, "rs", 200)
      var shadow: Map[Int, Long] = (1 to 200).map(k => k -> k * 10L).toMap
      def base = en.table("rs").queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l.rdd.id }
      var merges = 0
      var txn: Option[Map[Int, Long]] = None
      var savepoints = Vector.empty[(String, Map[Int, Long])]
      var keyedReads = 0
      def ok[A](step: Int, s: St, got: A, want: A): Unit =
        assert(got == want, s"seed $seed, statement $step: $s")
      stream.zipWithIndex.foreach { case (s, step) =>
        val was = base
        s match {
          case Ins(k, v) =>
            val r = Try(en.sql(s"INSERT INTO rs VALUES ($k, $v)"))
            ok(step, s, r.isSuccess, !shadow.contains(k))
            if (r.isSuccess) shadow += k -> v
          case Mrg(k, v) =>
            en.sql(s"MERGE INTO rs KEY(f1) VALUES ($k, $v)"); shadow += k -> v
          case Upd(k, v) =>
            en.sql(s"UPDATE rs SET f2 = $v WHERE f1 = $k")
            if (shadow.contains(k)) shadow += k -> v
          case UpdRange(lo, hi, d) =>
            en.sql(s"UPDATE rs SET f2 = f2 + $d WHERE f1 BETWEEN $lo AND $hi")
            shadow = shadow.map { case (k, v) => k -> (if (k >= lo && k <= hi) v + d else v) }
          case Del(k) =>
            en.sql(s"DELETE FROM rs WHERE f1 = $k"); shadow -= k
          case Point(k) =>
            val df = en.sql(s"SELECT f2 FROM rs WHERE f1 = $k")
            ok(step, s, df.collect().map(_.getLong(0)).toSeq, shadow.get(k).toSeq)
            if (lookups(df).nonEmpty) keyedReads += 1
          case InList(ks) =>
            ok(step, s, en.sql(s"SELECT f1, f2 FROM rs WHERE f1 IN (${ks.mkString(", ")})")
              .collect().map(r => r.getInt(0) -> r.getLong(1)).toSet,
              ks.flatMap(k => shadow.get(k).map(k -> _)).toSet)
          case Range(lo, hi) =>
            val r = en.sql("SELECT COUNT(*), SUM(f2) FROM rs " +
              s"WHERE f1 >= $lo AND f1 < ${hi + 1}").head()
            val in = shadow.filter { case (k, _) => k >= lo && k <= hi }.values
            ok(step, s, (r.getLong(0), Option(r.get(1))),
              (in.size.toLong, if (in.isEmpty) None else Some(in.sum)))
          case Txn(sql) =>
            val r = Try(en.sql(sql))
            sql.split(" ") match {
              case Array("BEGIN") => txn = Some(shadow); savepoints = Vector.empty
              case Array("COMMIT") => txn = None; savepoints = Vector.empty
              case Array("ROLLBACK") =>
                txn.foreach(shadow = _); txn = None; savepoints = Vector.empty
              case Array("SAVEPOINT", n) =>
                savepoints = savepoints.filterNot(_._1 == n) :+ (n -> shadow)
              case Array("ROLLBACK", "TO", "SAVEPOINT", n) =>
                val i = savepoints.indexWhere(_._1 == n)
                ok(step, s, r.isSuccess, i >= 0)
                if (i >= 0) { shadow = savepoints(i)._2; savepoints = savepoints.take(i + 1) }
            }
        }
        val v = en.table("rs")
        if (base != was && v.queryExecution.analyzed.isInstanceOf[LogicalRDD])
          keyed(v, s"seed $seed, compaction at statement $step: $s")
        else if (KeyLookup.normalBase(v, "f1").isDefined &&
            mergesLikeFullCut(v, s"seed $seed, statement $step: $s")) merges += 1
      }
      assert(merges > 0, s"seed $seed: no version merged")
      val all = en.sql("SELECT f1, f2 FROM rs").collect().map(r => r.getInt(0) -> r.getLong(1))
      assert(all.toMap == shadow && all.length == shadow.size, s"seed $seed: final table")
      assert(keyedReads > 0, s"seed $seed: no point read planned a KeyLookup")
      en.sql("DROP TABLE rs")
    }
  }

  test("key bounds leave with their blocks: DML, ROLLBACK and DROP TABLE") {
    val before = KeyLookup.registered.toSet
    def ours = KeyLookup.registered.toSet -- before
    val en = new Engine(spark)
    en.sql("CREATE TABLE lk (f1 INT PRIMARY KEY, f2 BIGINT)")
    en.sql("INSERT INTO lk SELECT X, X FROM SYSTEM_RANGE(1, 100)")
    (1 to 25).foreach(i => en.sql(s"UPDATE lk SET f2 = $i WHERE f1 = $i"))
    val atBegin = bases(en.table("lk"))
    assert(atBegin.size == 1 && ours == atBegin)
    en.sql("BEGIN")
    (26 to 50).foreach(i => en.sql(s"MERGE INTO lk KEY(f1) VALUES ($i, ${-i})"))
    // three compactions ran in the transaction: the last one's base and
    // the base the transaction snapshot reads are left
    assert(ours == atBegin ++ bases(en.table("lk")) && ours.size == 2, ours)
    en.sql("ROLLBACK")
    assert(ours == atBegin)
    assert(en.sql("SELECT f2 FROM lk WHERE f1 = 30").head().getLong(0) == 30L)
    en.sql("DROP TABLE lk")
    assert(ours.isEmpty, ours)
  }

  test("a merge compaction keeps the base's partitions and equals a whole cut") {
    val en = new Engine(spark)
    compacted(en, "mc", 1000)
    val n = spark.sparkContext.defaultParallelism
    // every normal-form shape: keys past the last split point and below
    // the first, keys held only in the rows written since, base keys
    Seq(
      "INSERT INTO mc VALUES (1500, 1)", "MERGE INTO mc KEY(f1) VALUES (2000, 2)",
      "MERGE INTO mc KEY(f1) VALUES (10, 3)", "UPDATE mc SET f2 = 5 WHERE f1 = 1500",
      "DELETE FROM mc WHERE f1 = 2000", "DELETE FROM mc WHERE f1 = 500",
      "UPDATE mc SET f2 = f2 + 1 WHERE f1 BETWEEN 100 AND 120",
      "MERGE INTO mc KEY(f1) VALUES (600, 8), (1700, 9), (-3, 6), (1001, 7)"
    ).foreach { q =>
      en.sql(q)
      assert(mergesLikeFullCut(en.table("mc"), q), q)
      assert(!en.table("mc").queryExecution.analyzed.isInstanceOf[LogicalRDD], q)
    }
    // an INSERT … SELECT leaves the form: its compaction cuts the whole version
    en.sql("INSERT INTO mc SELECT X, X FROM SYSTEM_RANGE(3000, 3001)")
    assert(KeyLookup.normalBase(en.table("mc"), "f1").isEmpty)
    en.sql("DELETE FROM mc WHERE f1 = 3001") // the tenth: compacts
    val ps = keyed(en.table("mc"), "compacted")
    assert(ps.size == n)
    val want = ((1 to 1000).map(k => k -> k * 10L).toMap - 500 ++
      (100 to 120).map(k => k -> (k * 10L + 1)) ++
      Map(1500 -> 5L, 10 -> 3L, -3 -> 6L, 1001 -> 7L, 600 -> 8L, 1700 -> 9L, 3000 -> 3000L))
    assert(ps.flatten.toMap == want && ps.flatten.size == want.size)
  }

  test("a steady-state compaction under normal-form DML shuffles nothing in at most 3 jobs") {
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    import org.apache.spark.GraftTestAccess
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val en = new Engine(spark)
    compacted(en, "sj", 20000)
    val before = partitions(en.table("sj"))
    Seq("INSERT INTO sj VALUES (30000, 1)", "MERGE INTO sj KEY(f1) VALUES (5, 2)",
      "MERGE INTO sj KEY(f1) VALUES (30001, 3)", "UPDATE sj SET f2 = 4 WHERE f1 = 30000",
      "DELETE FROM sj WHERE f1 = 30001", "DELETE FROM sj WHERE f1 = 7",
      "UPDATE sj SET f2 = f2 + 1 WHERE f1 BETWEEN 100 AND 200",
      "INSERT INTO sj VALUES (-3, 5)", "MERGE INTO sj KEY(f1) VALUES (9, 7), (40000, 8)"
    ).foreach { q =>
      en.sql(q)
      assert(KeyLookup.normalBase(en.table("sj"), "f1").isDefined, q)
    }
    val jobs = new AtomicInteger
    val shuffled = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    GraftTestAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      en.sql("UPDATE sj SET f2 = 9 WHERE f1 = 11") // the tenth: compacts
      GraftTestAccess.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(en.table("sj").queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(shuffled.get == 0L && jobs.get <= 3, (shuffled.get, jobs.get))
    val after = keyed(en.table("sj"), "compacted")
    assert(after.size == before.size)
    assert(after.flatten.size == 20000 + 4 - 2 &&
      after.head.head == (-3 -> 5L) && after.last.last == (40000 -> 8L))
  }

  test("writes that do not compact run no SQL execution but INSERT's key probe") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.GraftTestAccess
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val en = new Engine(spark)
    compacted(en, "sx", 2000)
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.sparkPlanInfo.nodeName)
        case _ =>
      }
    }
    // executions, not jobs: reading a driver-local relation runs no job
    def executions(q: String): Seq[String] = {
      GraftTestAccess.drain(sc)
      started.clear()
      en.sql(q)
      GraftTestAccess.drain(sc)
      started.asScala.toSeq
    }
    sc.addSparkListener(listener)
    val runs = try Seq("INSERT INTO sx VALUES (3000, 1)", "MERGE INTO sx KEY(f1) VALUES (5, 2)",
        "MERGE INTO sx KEY(f1) VALUES (3001, 3)", "UPDATE sx SET f2 = 4 WHERE f1 = 3000")
      .map(q => q -> executions(q))
    finally sc.removeSparkListener(listener)
    assert(runs.map(_._2.size) == Seq(1, 0, 0, 0), runs)
    assert(KeyLookup.normalBase(en.table("sx"), "f1").isDefined)
    assert(en.sql("SELECT f1, f2 FROM sx WHERE f1 IN (5, 3000, 3001) ORDER BY f1").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((5, 2L), (3000, 4L), (3001, 3L)))
  }
}
