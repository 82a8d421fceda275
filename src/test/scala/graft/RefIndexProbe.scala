package graft

import graft.sqlfront.Engine

/** The reference's sql/index test family — EXACT statements from
  * IndexTest / UniqueIndexTest / MainIndexColumnTest / DelegateIndexTest
  * through the front door, asserted against the reference's own expected
  * values (file:line cited per test). AsyncIndexTest is deliberately not
  * probed: it inserts every (f1, f2) pair twice and then builds PRIMARY
  * KEY / UNIQUE indexes over the duplicated data — statements identical
  * to IndexTest's, on data where a unique build must fail.
  *
  * Plus the DROP TABLE list/action tail those tests motivated:
  * Parser.java parseDropTable chains comma-separated drops, and
  * DropTable.java:40,84-95 defaults to CASCADE with RESTRICT refusing
  * when dependent views exist. */
class RefIndexProbe extends SparkSpec {

  /** IndexTest.init() (IndexTest.java:37-50). */
  private def init(e: Engine): Unit = {
    e.sql("DROP TABLE IF EXISTS IndexTest")
    e.sql("CREATE TABLE IF NOT EXISTS IndexTest (f1 int NOT NULL, f2 int, f3 varchar)")
    e.sql("CREATE PRIMARY KEY HASH IF NOT EXISTS IndexTest_idx0 ON IndexTest(f1)")
    e.sql("CREATE UNIQUE HASH INDEX IF NOT EXISTS IndexTest_idx1 ON IndexTest(f2)")
    e.sql("CREATE INDEX IF NOT EXISTS IndexTest_idx2 ON IndexTest(f3, f2)")
    e.sql("CREATE UNIQUE INDEX IF NOT EXISTS IndexTest_idx3 ON IndexTest(f2, f3)")
  }

  /** IndexTest.insert() (IndexTest.java:56-88): 3 clean inserts, then 3
    * duplicate-key rejections (dup f2=20 / dup pk 200 / dup pk 100), plus
    * two more rejected batches. */
  private def insert(e: Engine): Unit = {
    e.sql("DELETE FROM IndexTest")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(100, 10, 'a')")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(200, 20, 'b')")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(300, 30, 'c')")
    intercept[Exception](
      e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(400, 20, 'd')"))
    intercept[Exception](
      e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(200, 20, 'e')"))
    intercept[Exception](
      e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(100, 20, 'f')"))
    // beyond the reference: a multi-row batch with an internal duplicate
    // pk, and an INSERT … SELECT of an existing pk
    intercept[Exception](
      e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(400, 40, 'd'), (400, 41, 'e')"))
    intercept[Exception](
      e.sql("INSERT INTO IndexTest(f1, f2, f3) SELECT 100, 50, 'g' FROM SYSTEM_RANGE(1, 1)"))
  }

  private def count(e: Engine, where: String = ""): Long =
    e.sql(s"SELECT count(*) FROM IndexTest $where").head().getLong(0)

  test("IndexTest: init + insert + select ranges (IndexTest.java:37-50,56-88,175-203)") {
    val e = new Engine(spark)
    init(e)
    insert(e)
    assert(count(e) == 3)
    assert(count(e, "WHERE f1 >= 200") == 2)
    assert(count(e, "WHERE f2 >= 20") == 2)
    assert(count(e, "WHERE f3 >= 'b' AND f3 <= 'c'") == 2)
    e.sql("DELETE FROM IndexTest WHERE f2 >= 20")
    assert(count(e) == 1)
  }

  test("IndexTest: commit publishes the in-transaction rewrite (IndexTest.java:90-120)") {
    val e = new Engine(spark)
    init(e)
    e.sql("DELETE FROM IndexTest")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(100, 10, 'a1')")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(200, 20, 'b2')")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(300, 30, 'c3')")
    assert(e.sql("SELECT f3 FROM IndexTest where f1 = 300").head().getString(0) == "c3")
    e.sql("SET AUTOCOMMIT FALSE")   // conn.setAutoCommit(false)
    insert(e)                       // delete-all + re-insert a/b/c (+3 failures)
    e.sql("COMMIT")
    e.sql("SET AUTOCOMMIT TRUE")
    assert(e.sql("SELECT f3 FROM IndexTest where f1 = 300").head().getString(0) == "c")
    assert(count(e) == 3)
    e.sql("DELETE FROM IndexTest")
    assert(count(e) == 0)
  }

  test("IndexTest: rollback restores the pre-transaction rows (IndexTest.java:122-165)") {
    val e = new Engine(spark)
    init(e)
    e.sql("DELETE FROM IndexTest")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(100, 10, 'a1')")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(200, 20, 'b2')")
    e.sql("INSERT INTO IndexTest(f1, f2, f3) VALUES(300, 30, 'c3')")
    assert(count(e) == 3)
    e.sql("SET AUTOCOMMIT FALSE")
    insert(e)
    e.sql("ROLLBACK")
    e.sql("SET AUTOCOMMIT TRUE")
    assert(e.sql("SELECT f3 FROM IndexTest where f1 = 300").head().getString(0) == "c3")
    assert(count(e) == 3)
    e.sql("DELETE FROM IndexTest")
    assert(count(e) == 0)
    // second round: rollback over an empty pre-state stays empty
    e.sql("SET AUTOCOMMIT FALSE")
    insert(e)
    e.sql("ROLLBACK")
    e.sql("SET AUTOCOMMIT TRUE")
    assert(count(e) == 0)
  }

  test("UniqueIndexTest: unique index built AFTER load rejects the dup insert (UniqueIndexTest.java:28-44)") {
    val e = new Engine(spark)
    e.sql("DROP TABLE IF EXISTS UniqueIndexTest")
    e.sql("CREATE TABLE IF NOT EXISTS UniqueIndexTest (f1 int NOT NULL, f2 int, f3 varchar)")
    e.sql("INSERT INTO UniqueIndexTest(f1, f2, f3) VALUES(100, 10, 'a')")
    e.sql("INSERT INTO UniqueIndexTest(f1, f2, f3) VALUES(200, 20, 'b')")
    e.sql("INSERT INTO UniqueIndexTest(f1, f2, f3) VALUES(300, 30, 'c')")
    e.sql("SET MAX_MEMORY_ROWS 2")
    e.sql("CREATE UNIQUE INDEX IF NOT EXISTS UniqueIndexTest_ui ON UniqueIndexTest(f2, f3)")
    intercept[Exception](
      e.sql("INSERT INTO UniqueIndexTest(f1, f2, f3) VALUES(400, 20, 'b')"))
    assert(e.sql("SELECT count(*) FROM UniqueIndexTest").head().getLong(0) == 3)
    // both key-check paths: a VALUES batch (checked on the driver plus one
    // table probe) and an INSERT … SELECT batch (checked distributed)
    def count = e.sql("SELECT count(*) FROM UniqueIndexTest").head().getLong(0)
    val dup = intercept[Exception](e.sql(
      "INSERT INTO UniqueIndexTest(f1, f2, f3) VALUES(500, 50, 'e'), (600, 50, 'e')"))
    assert(dup.getMessage.contains("within insert batch"), dup.getMessage)
    val dupSel = intercept[Exception](e.sql(
      "INSERT INTO UniqueIndexTest(f1, f2, f3) SELECT X, 60, 'g' FROM SYSTEM_RANGE(1, 2)"))
    assert(dupSel.getMessage.contains("within insert batch"), dupSel.getMessage)
    intercept[Exception](e.sql(
      "INSERT INTO UniqueIndexTest(f1, f2, f3) SELECT 700, 30, 'c' FROM SYSTEM_RANGE(1, 1)"))
    assert(count == 3)
    // NULL keys never conflict, not even with each other
    e.sql("INSERT INTO UniqueIndexTest(f1, f2, f3) VALUES(800, NULL, 'b'), (900, NULL, 'b')")
    e.sql("INSERT INTO UniqueIndexTest(f1, f2, f3) " +
      "SELECT X + 1000, CAST(NULL AS INT), 'b' FROM SYSTEM_RANGE(1, 2)")
    assert(count == 7)
    // floating-point keys compare as Spark groups them (-0.0 is 0.0, NaN
    // is NaN): within a VALUES batch, against the table, and in MERGE
    e.sql("CREATE TABLE UniqueIndexTestD (id int PRIMARY KEY, d double, v int)")
    e.sql("CREATE UNIQUE INDEX UniqueIndexTestD_ui ON UniqueIndexTestD(d)")
    val (zero, negZero, nan) =
      ("CAST('0.0' AS DOUBLE)", "CAST('-0.0' AS DOUBLE)", "CAST('NaN' AS DOUBLE)")
    Seq(zero -> negZero, nan -> nan).foreach { case (a, b) =>
      val d = intercept[Exception](
        e.sql(s"INSERT INTO UniqueIndexTestD VALUES (1, $a, 1), (2, $b, 2)"))
      assert(d.getMessage.contains("within insert batch"), d.getMessage)
    }
    e.sql(s"INSERT INTO UniqueIndexTestD VALUES (1, $negZero, 1), (2, $nan, 2)")
    Seq(zero, nan).foreach { k =>
      val d = intercept[Exception](
        e.sql(s"INSERT INTO UniqueIndexTestD VALUES (3, $k, 3)"))
      assert(d.getMessage.contains("already exists"), d.getMessage)
    }
    e.sql("MERGE INTO UniqueIndexTestD KEY(d) VALUES " +
      s"(3, $zero, 4), (4, $negZero, 5), (5, $nan, 6), (6, $nan, 7)")
    assert(e.sql("SELECT v FROM UniqueIndexTestD ORDER BY v").collect()
      .map(_.getInt(0)).toSeq == Seq(5, 7))
  }

  test("MainIndexColumnTest: CREATE PRIMARY KEY on loaded table (MainIndexColumnTest.java:27-41)") {
    val e = new Engine(spark)
    e.sql("drop table IF EXISTS MainIndexColumnTest CASCADE")
    e.sql("create table IF NOT EXISTS MainIndexColumnTest(id int not null, name varchar(50))")
    e.sql("CREATE PRIMARY KEY IF NOT EXISTS MainIndexColumnTest_id ON MainIndexColumnTest(id)")
    e.sql("insert into MainIndexColumnTest(id, name) values(10, 'a1')")
    e.sql("insert into MainIndexColumnTest(id, name) values(20, 'b1')")
    e.sql("insert into MainIndexColumnTest(id, name) values(30, 'a2')")
    val rows = e.sql("select * from MainIndexColumnTest").collect()
    assert(rows.length == 3 && rows.map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30))
  }

  test("DelegateIndexTest: TIMESTAMP primary key point lookup (DelegateIndexTest.java:24-33)") {
    val e = new Engine(spark)
    e.sql("DROP TABLE IF EXISTS DelegateIndexTest")
    e.sql("CREATE TABLE IF NOT EXISTS DelegateIndexTest(date_time TIMESTAMP primary key, intcol INT)")
    e.sql("INSERT INTO DelegateIndexTest(date_time, intcol) VALUES('1970-01-01 00:00:01.0', 12)")
    val r = e.sql("select * from DelegateIndexTest where date_time='1970-01-01 00:00:01.0'").collect()
    assert(r.length == 1 && r(0).getInt(1) == 12)
  }

  test("DROP TABLE list + RESTRICT/CASCADE actions (Parser.java parseDropTable; DropTable.java:84-95)") {
    val e = new Engine(spark)
    e.sql("CREATE TABLE dt_a(x int)")
    e.sql("CREATE TABLE dt_b(y int)")
    e.sql("CREATE VIEW dt_v AS SELECT x FROM dt_a")
    // RESTRICT refuses while a dependent view exists, naming it
    val ex = intercept[Exception](e.sql("DROP TABLE dt_a RESTRICT"))
    assert(ex.getMessage.contains("dt_v"))
    // default action is CASCADE: the dependent view dies with the table
    e.sql("DROP TABLE dt_a, dt_b")
    assert(e.tableNames.forall(n => n != "dt_a" && n != "dt_b" && n != "dt_v"))
    intercept[Exception](e.sql("SELECT * FROM dt_v"))
    // TABLE_OR_VIEW_NOT_FOUND without IF EXISTS; silent with it
    intercept[Exception](e.sql("DROP TABLE dt_a"))
    e.sql("DROP TABLE IF EXISTS dt_a")
  }
}
