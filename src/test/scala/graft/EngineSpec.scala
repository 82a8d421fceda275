package graft

import graft.sqlfront.Engine

/** Ports the reference's own JUnit semantic cases (FIXTURES.md §A) through
  * the H2-dialect front door: SqlTestBase/SelectTest shapes (A1), JoinTest
  * outer-join semantics (A2), MergeTest update-else-insert, UPDATE/DELETE
  * with LIMIT, SYSTEM_RANGE, FROM-first, sequences.
  */
class EngineSpec extends SparkSpec {

  private def freshEngine: Engine = new Engine(spark)

  test("A1 canonical table: insert, where, group/having, order/limit/offset") {
    val e = freshEngine
    e.sql("CREATE TABLE t (pk varchar(100) NOT NULL PRIMARY KEY, f1 varchar(100), f2 varchar(100), f3 int)")
    e.sql("""INSERT INTO t VALUES
      ('01','a1','b',51), ('02','a1','b',61), ('03','a1','b',61),
      ('04','a2','b',71), ('05','a2','b',81), ('06','a2','b',91),
      ('07','a3','b',11), ('08','a3','k',21), ('09','a3','l',31),
      ('10','a4','b',41), ('11','a4','b',41), ('12','a4','b',41)""")
    assert(e.sql("SELECT count(*) AS n FROM t").head().getLong(0) == 12)
    assert(e.sql("SELECT count(*) FROM t WHERE pk >= '10' AND f3 > 40").head().getLong(0) == 3)
    val grouped = e.sql(
      "SELECT f1, count(f1) AS c FROM t GROUP BY f1 HAVING count(f1) = 3 ORDER BY f1")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(grouped.length == 4)
    val slice = e.sql("SELECT f2 FROM t ORDER BY f2 DESC LIMIT 2 OFFSET 1")
      .collect().map(_.getString(0)).toSeq
    assert(slice == Seq("k", "b")) // l,k,b,... desc → offset 1 gives k then b
  }

  test("A2 join semantics: non-equi ON, null-condition ON, false WHERE") {
    val e = freshEngine
    e.sql("CREATE TABLE j1 (pk int PRIMARY KEY, id int, name varchar(500))")
    e.sql("CREATE TABLE j2 (pk int PRIMARY KEY, id2 int, name2 varchar(500))")
    e.sql("INSERT INTO j1 VALUES (1, 10, 'a'), (2, 40, 'b')")
    e.sql("INSERT INTO j2 VALUES (1, 10, 'x'), (2, 50, 'y')")
    // non-equi ON (JoinTest `ON id>30`)
    assert(e.sql("SELECT count(*) FROM j1 JOIN j2 ON id > 30").head().getLong(0) == 2)
    // LEFT JOIN with never-matching ON → full null padding
    val padded = e.sql(
      "SELECT name, name2 FROM j1 LEFT JOIN j2 ON name2 = null ORDER BY name")
      .collect()
    assert(padded.length == 2 && padded.forall(_.isNullAt(1)))
    // outer join + always-false WHERE → empty
    assert(e.sql("SELECT * FROM j1 LEFT JOIN j2 ON id = id2 WHERE 1 > 2").count() == 0)
  }

  test("MERGE INTO KEY: update-else-insert (MergeTest)") {
    val e = freshEngine
    e.sql("CREATE TABLE mt (k int PRIMARY KEY, v varchar(100))")
    e.sql("INSERT INTO mt VALUES (1,'a'), (2,'b')")
    e.sql("MERGE INTO mt KEY(k) VALUES (2,'B2'), (3,'c')")
    val rows = e.sql("SELECT k, v FROM mt ORDER BY k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "a"), (2, "B2"), (3, "c")))
    // KEY defaults to the declared PRIMARY KEY
    e.sql("MERGE INTO mt VALUES (3,'C3'), (4,'d')")
    assert(e.sql("SELECT v FROM mt WHERE k=3").head().getString(0) == "C3")
    assert(e.sql("SELECT count(*) FROM mt").head().getLong(0) == 4)
    // a repeated source key: the last row wins; a NULL key inserts
    e.sql("MERGE INTO mt KEY(k) VALUES (4,'d1'), (5,'e'), (4,'d2'), (NULL,'n')")
    val after = e.sql("SELECT k, v FROM mt ORDER BY k NULLS FIRST")
      .collect().map(r => (Option(r.get(0)), r.getString(1))).toSeq
    assert(after == Seq((None, "n"), (Some(1), "a"), (Some(2), "B2"),
      (Some(3), "C3"), (Some(4), "d2"), (Some(5), "e")))
  }

  test("UPDATE/DELETE with WHERE and LIMIT (Update.java:140-150)") {
    val e = freshEngine
    e.sql("CREATE TABLE u (k int PRIMARY KEY, bal double)")
    e.sql("INSERT INTO u VALUES (1,-5.0), (2,-3.0), (3, 7.0)")
    e.sql("UPDATE u SET bal = 0.0 WHERE bal < 0 LIMIT 1")
    assert(e.sql("SELECT count(*) FROM u WHERE bal = 0.0").head().getLong(0) == 1)
    e.sql("UPDATE u SET bal = bal + 1.0")
    // one negative was zeroed then +1 → positive; the other stays negative
    assert(e.sql("SELECT count(*) FROM u WHERE bal > 0").head().getLong(0) == 2)
    e.sql("DELETE FROM u WHERE bal > 0 LIMIT 1")
    assert(e.sql("SELECT count(*) FROM u").head().getLong(0) == 2)
    e.sql("DELETE FROM u")
    assert(e.sql("SELECT count(*) FROM u").head().getLong(0) == 0)
  }

  test("scalar subqueries in UPDATE SET and UPDATE/DELETE WHERE (Update.java shapes)") {
    val e = freshEngine
    e.sql("CREATE TABLE sq (k int PRIMARY KEY, v int)")
    e.sql("INSERT INTO sq VALUES (1, 10), (2, 20), (3, 30)")
    e.sql("UPDATE sq SET v = (SELECT max(v) FROM sq) WHERE k = 1")
    assert(e.sql("SELECT v FROM sq WHERE k = 1").head().getInt(0) == 30)
    e.sql("DELETE FROM sq WHERE v < (SELECT avg(v) FROM sq)")
    assert(e.sql("SELECT count(*) FROM sq").head().getLong(0) == 2)
    // a WHERE *inside* the SET subquery must not split the statement —
    // the depth-0 token scan binds only the top-level WHERE (the lazy
    // regex predecessor bound to the first occurrence at any depth)
    e.sql("CREATE TABLE sq2 (k int PRIMARY KEY, v int)")
    e.sql("INSERT INTO sq2 VALUES (1, 100), (2, 200)")
    e.sql("UPDATE sq SET v = (SELECT v FROM sq2 WHERE k = 2) WHERE k = 3")
    assert(e.sql("SELECT v FROM sq WHERE k = 3").head().getInt(0) == 200)
    // subquery WHERE with no top-level WHERE at all (every row updated)
    e.sql("UPDATE sq2 SET v = (SELECT min(v) FROM sq WHERE v IS NOT NULL)")
    assert(e.sql("SELECT DISTINCT v FROM sq2").collect().map(_.getInt(0)).toSeq
      == Seq(30))
    // DELETE whose only WHERE-containing text is the subquery cond
    // (sq keys are {1,3} here; sq2 keys {1,2} — the semi join hits k=1)
    e.sql("DELETE FROM sq2 WHERE k IN (SELECT k FROM sq WHERE v >= 30)")
    assert(e.sql("SELECT count(*) FROM sq2").head().getLong(0) == 1)
  }

  test("SYSTEM_RANGE, FROM-first, ORDER BY =n, SAMPLE_SIZE") {
    val e = freshEngine
    assert(e.sql("SELECT count(*) FROM SYSTEM_RANGE(1, 100)").head().getLong(0) == 100)
    assert(e.sql("SELECT sum(x) FROM SYSTEM_RANGE(1, 10, 3)").head().getLong(0) == 22)
    e.sql("CREATE TABLE ff (a int, b int)")
    e.sql("INSERT INTO ff VALUES (1, 10), (2, 20), (3, 30)")
    val ffirst = e.sql("FROM ff SELECT a, b WHERE a > 1 ORDER BY =2 LIMIT 1")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(ffirst == Seq((2, 20)))
    assert(e.sql("SELECT a FROM ff SAMPLE_SIZE 2").count() == 2)
  }

  test("TOP n, MySQL LIMIT a,b, INSERT DIRECT, TRUNCATE_VALUE") {
    val e = freshEngine
    e.sql("CREATE TABLE tt (a int)")
    e.sql("INSERT INTO tt DIRECT VALUES (5), (3), (1), (4), (2)")
    assert(e.sql("SELECT TOP 2 a FROM tt ORDER BY a").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(e.sql("SELECT a FROM tt ORDER BY a LIMIT 1, 2").collect()
      .map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(e.sql("SELECT truncate_value(3.14159, 2) AS t").head().getDouble(0) == 3.14)
    assert(e.sql("SELECT truncate_value(-3.14159, 3) AS t").head().getDouble(0) == -3.141)
  }

  test("sequences: NEXTVAL/CURRVAL in insert and select") {
    val e = freshEngine
    e.sql("CREATE SEQUENCE seq1 START WITH 100 INCREMENT BY 10")
    e.sql("CREATE TABLE s (id bigint, v varchar(10))")
    e.sql("INSERT INTO s VALUES (NEXTVAL('seq1'), 'a'), (NEXTVAL('seq1'), 'b')")
    val ids = e.sql("SELECT id FROM s ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(100L, 110L))
    assert(e.sql("SELECT CAST(CURRVAL('seq1') AS BIGINT) AS c").head().getLong(0) == 110L)
  }

  test("EXPLAIN, SET @var, INFORMATION_SCHEMA, SCRIPT, CREATE VIEW") {
    val e = freshEngine
    e.sql("CREATE TABLE meta_t (a int PRIMARY KEY, b varchar(10))")
    e.sql("INSERT INTO meta_t VALUES (1,'x'), (2,'y'), (3,'z')")
    // EXPLAIN returns the plan text
    val plan = e.sql("EXPLAIN SELECT a FROM meta_t WHERE a > 1").head().getString(0)
    assert(plan.contains("Physical Plan"))
    // SET @v / @v substitution
    e.sql("SET @threshold = 1 + 1")
    assert(e.sql("SELECT count(*) FROM meta_t WHERE a >= @threshold").head().getLong(0) == 2)
    // '@' inside a string literal is NOT a variable reference — neither in
    // the statement body nor inside a SET(@v, expr) value expression
    assert(e.sql("SELECT 'user@threshold.org' AS s").head().getString(0)
      == "user@threshold.org")
    e.sql("SELECT SET(@addr, 'a@b.io') AS x")
    assert(e.sql("SELECT @addr AS a").head().getString(0) == "a@b.io")
    // INFORMATION_SCHEMA.TABLES / COLUMNS (MetaTable parity)
    val tnames = e.sql(
      "SELECT table_name FROM INFORMATION_SCHEMA.TABLES ORDER BY table_name")
      .collect().map(_.getString(0))
    assert(tnames.contains("meta_t"))
    val cols = e.sql(
      "SELECT column_name, data_type FROM INFORMATION_SCHEMA.COLUMNS WHERE table_name = 'meta_t' ORDER BY ordinal_position")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols == Seq(("a", "INT"), ("b", "STRING")))
    // SCRIPT re-emits DDL
    val ddl = e.sql("SCRIPT").collect().map(_.getString(0))
    assert(ddl.exists(s => s.startsWith("CREATE TABLE meta_t") && s.contains("PRIMARY KEY")))
    // CREATE VIEW
    e.sql("CREATE VIEW big_meta AS SELECT * FROM meta_t WHERE a > 1")
    assert(e.sql("SELECT count(*) FROM big_meta").head().getLong(0) == 2)
    // FILE_READ function
    val f = java.nio.file.Files.createTempFile("graft", ".txt")
    java.nio.file.Files.writeString(f, "hello graft")
    assert(e.sql(s"SELECT file_read('$f', 'dflt') AS c").head().getString(0) == "hello graft")
    assert(e.sql("SELECT file_read('/nonexistent/x', 'dflt') AS c").head().getString(0) == "dflt")
  }

  test("PREPARE/EXECUTE/DEALLOCATE, RUNSCRIPT, SET MODE") {
    val e = freshEngine
    e.sql("CREATE TABLE pr (a int, b varchar(10)); INSERT INTO pr VALUES (1,'x'),(2,'y'),(3,'z')")
    e.sql("PREPARE getbig AS SELECT b FROM pr WHERE a >= ? ORDER BY a")
    val got = e.sql("EXECUTE getbig(2)").collect().map(_.getString(0)).toSeq
    assert(got == Seq("y", "z"))
    e.sql("DEALLOCATE getbig")
    intercept[IllegalArgumentException] { e.sql("EXECUTE getbig(1)") }
    // a literal '?' in the prepared body is not a parameter slot
    e.sql("PREPARE qmark AS SELECT b || '?' AS s FROM pr WHERE a = ?")
    assert(e.sql("EXECUTE qmark(2)").head().getString(0) == "y?")
    // RUNSCRIPT executes a file of statements
    val f = java.nio.file.Files.createTempFile("graft_rs", ".sql")
    java.nio.file.Files.writeString(f,
      "CREATE TABLE rs_t (k int);\nINSERT INTO rs_t VALUES (7), (8);")
    e.sql(s"RUNSCRIPT FROM '$f'")
    assert(e.sql("SELECT count(*) FROM rs_t").head().getLong(0) == 2)
    // SET MODE records the compatibility mode (db/Mode.java)
    e.sql("SET MODE MySQL")
    assert(e.mode == "MYSQL")
    // MSSQL mode enables [bracket] identifiers (mode-gated, like Mode.java's
    // squareBracketQuotedNames flag); other modes leave them alone
    e.sql("SET MODE MSSQLServer")
    assert(e.sql("SELECT [a] FROM pr WHERE [a] = 2").head().getInt(0) == 2)
    e.sql("SET MODE REGULAR")
    // RANDOM_UUID shape
    val uuid = e.sql("SELECT random_uuid() AS u").head().getString(0)
    assert(uuid.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
  }

  test("H2 function-name front door: DATEADD/DATEDIFF/HASH/INSERT/CHARINDEX/RANDOM etc") {
    val e = freshEngine
    // quoted-unit DATEADD/DATEDIFF route to the H2-semantics UDFs
    assert(e.sql("SELECT CAST(DATEADD('MONTH', 1, DATE '2024-01-15') AS DATE) AS d")
      .head().get(0).toString == "2024-02-15")
    assert(e.sql("SELECT DATEDIFF('DAY', DATE '2024-01-01', DATE '2024-01-11') AS n")
      .head().getLong(0) == 10)
    // HASH / INSERT / CHARINDEX / RANDOM / SYS_GUID / LEALONE_VERSION
    assert(e.sql("SELECT HASH('SHA256', STRINGTOUTF8('x'), 1) AS h").head().get(0) != null)
    assert(e.sql("SELECT INSERT('abcdef', 2, 3, 'XX') AS s").head().getString(0) == "aXXef")
    assert(e.sql("SELECT CHARINDEX('cd', 'abcdef') AS i").head().getInt(0) == 3)
    assert(e.sql("SELECT RANDOM() AS r").head().getDouble(0) >= 0.0)
    assert(e.sql("SELECT SYS_GUID() AS g").head().getString(0).length == 36)
    assert(e.sql("SELECT LEALONE_VERSION() AS v").head().getString(0).nonEmpty)
    assert(e.sql("SELECT length(SECURE_RAND(8)) AS n").head().getInt(0) == 8)
    // 'DATEADD(' inside a string literal is untouched
    assert(e.sql("SELECT 'DATEADD(''x'')' AS s").head().getString(0) == "DATEADD('x')")
  }

  test("SHOW statements: DATABASES/SCHEMAS/TABLES/COLUMNS + pg session settings") {
    val e = freshEngine
    e.sql("CREATE TABLE sh_a (id int PRIMARY KEY, v varchar(10))")
    e.sql("CREATE TABLE sh_b (x double)")
    e.sql("CREATE UNIQUE INDEX sh_uv ON sh_a(v)")
    assert(e.sql("SHOW DATABASES").collect().map(_.getString(0)).toSeq == Seq("graft"))
    assert(e.sql("SHOW SCHEMAS").collect().map(_.getString(0)).contains("public"))
    val tabs = e.sql("SHOW TABLES").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tabs == Seq(("sh_a", "public"), ("sh_b", "public"))) // ordered by name
    val cols = e.sql("SHOW COLUMNS FROM sh_a").collect()
      .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSeq
    assert(cols == Seq(("id", "NO", "PRI"), ("v", "YES", "UNI")))
    // PostgreSQL-protocol session settings (Parser.java:892-910)
    assert(e.sql("SHOW CLIENT_ENCODING").head().getString(0) == "UNICODE")
    assert(e.sql("SHOW TRANSACTION ISOLATION LEVEL").head().getString(0) == "read committed")
    assert(e.sql("SHOW SERVER_ENCODING").head().getString(0) == "UTF8")
    assert(e.sql("SHOW DATESTYLE").head().getString(0) == "ISO")
  }

  test("CALL statement evaluates expressions and aliases (CallableStatementTest)") {
    val e = freshEngine
    assert(e.sql("CALL 1+1").head().getInt(0) == 2)
    e.sql("CREATE ALIAS MY_SQRT FOR \"java.lang.Math.sqrt\"")
    assert(e.sql("CALL MY_SQRT(4.0)").head().getDouble(0) == 2.0)
    // JDBC out-parameter form `?= CALL f(x)` (CallableStatementTest.java:40)
    assert(e.sql("?= CALL MY_SQRT(9.0)").head().getDouble(0) == 3.0)
  }

  test("MySQL mode: ON DUPLICATE KEY UPDATE with VALUES(), null-to-zero, inline KEY") {
    val e = freshEngine
    e.sql("SET MODE MySQL")
    // indexDefinitionInCreateTable: inline KEY/INDEX entries (Mode.java:57)
    e.sql("CREATE TABLE mu (id int PRIMARY KEY, v varchar(20) NOT NULL, n int, KEY idx_v(v))")
    assert(e.sql("SELECT index_name FROM INFORMATION_SCHEMA.INDEXES WHERE table_name='mu'")
      .collect().map(_.getString(0)).toSeq == Seq("idx_v"))
    e.sql("INSERT INTO mu VALUES (1,'a',10), (2,'b',20)")
    // onDuplicateKeyUpdate (Mode.java:134): update-else-insert on the PK
    e.sql("INSERT INTO mu VALUES (2,'B',5), (3,'c',30) " +
      "ON DUPLICATE KEY UPDATE n = n + VALUES(n), v = VALUES(v)")
    val rows = e.sql("SELECT id, v, n FROM mu ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1, "a", 10), (2, "B", 25), (3, "c", 30)))
    // convertInsertNullToZero (Mode.java:42): NULL into NOT NULL v → ''
    e.sql("INSERT INTO mu VALUES (4, NULL, NULL)")
    val r4 = e.sql("SELECT v, n FROM mu WHERE id=4").head()
    assert(r4.getString(0) == "" && r4.isNullAt(1)) // n is nullable: stays NULL
    // outside MySQL mode the clause is rejected, as in the reference parser
    val e2 = freshEngine
    e2.sql("CREATE TABLE r (id int PRIMARY KEY, n int)")
    intercept[IllegalArgumentException] {
      e2.sql("INSERT INTO r VALUES (1,1) ON DUPLICATE KEY UPDATE n = 2")
    }
  }

  test("column-def keyword scans are literal-blind (DEFAULT 'x NOT NULL' is data)") {
    val e = freshEngine
    // keywords inside the DEFAULT literal must not mark the column NOT
    // NULL / IDENTITY / PK, and the default value must survive intact
    e.sql("CREATE TABLE lb (id int PRIMARY KEY, " +
      "v varchar(40) DEFAULT 'x NOT NULL', " +
      "w varchar(40) DEFAULT 'use IDENTITY here', " +
      "x varchar(40) DEFAULT 'a PRIMARY KEY b')")
    e.sql("INSERT INTO lb (id) VALUES (1)")
    val r = e.sql("SELECT v, w, x FROM lb").head()
    assert(r.getString(0) == "x NOT NULL")
    assert(r.getString(1) == "use IDENTITY here")
    assert(r.getString(2) == "a PRIMARY KEY b")
    // NULL insert into v succeeds: the literal never made it NOT NULL
    e.sql("INSERT INTO lb (id, v) VALUES (2, NULL)")
    assert(e.sql("SELECT v FROM lb WHERE id=2").head().isNullAt(0))
    // same discipline on the ALTER ADD COLUMN path
    e.sql("ALTER TABLE lb ADD COLUMN y varchar(40) DEFAULT 'y NOT NULL'")
    e.sql("INSERT INTO lb (id) VALUES (3)")
    assert(e.sql("SELECT y FROM lb WHERE id=3").head().getString(0) == "y NOT NULL")
  }

  test("MySQL mode: zero-date literals coerce to NULL (convertToNull twin)") {
    val e = freshEngine
    e.sql("SET MODE MySQL")
    e.sql("CREATE TABLE zd (id int PRIMARY KEY, d date, t timestamp, dn date NOT NULL)")
    e.sql("INSERT INTO zd VALUES (1, DATE '0000-00-00', " +
      "TIMESTAMP '0000-00-00 00:00:00', DATE '0000-00-00')")
    e.sql("INSERT INTO zd VALUES (2, '0000-00-00', '0000-00-00 00:00:00', '0000-00-00')")
    val rows = e.sql("SELECT id, d, t, dn FROM zd ORDER BY id").collect()
    rows.foreach { r =>
      assert(r.isNullAt(1) && r.isNullAt(2)) // nullable columns: NULL
      assert(!r.isNullAt(3)) // NOT NULL date: current-date coercion (Mode.java:42)
    }
    // a zero-date VARCHAR comparison is untouched (rewrite is typed-literal only)
    e.sql("CREATE TABLE zs (id int PRIMARY KEY, s varchar(20))")
    e.sql("INSERT INTO zs VALUES (1, '0000-00-00')")
    assert(e.sql("SELECT count(*) FROM zs WHERE s = '0000-00-00'").head().getLong(0) == 1L)
    // REGULAR mode: typed zero-date literal stays a (NULL-casting) literal
    // only in MySQL mode; regular mode leaves the statement alone
    val e2 = freshEngine
    e2.sql("CREATE TABLE zd2 (id int PRIMARY KEY, d date)")
    e2.sql("INSERT INTO zd2 VALUES (1, '0000-00-00')") // non-ANSI cast → NULL
    assert(e2.sql("SELECT d FROM zd2").head().isNullAt(0))
  }

  test("row triggers fire on insert/update/delete; INSTEAD OF suppresses (Trigger.java)") {
    val e = freshEngine
    e.sql("CREATE TABLE trg (id int PRIMARY KEY, v varchar(10))")
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    e.sql("CREATE TRIGGER trg_ins AFTER INSERT ON trg FOR EACH ROW CALL \"x\"")
    e.sql("CREATE TRIGGER trg_upd BEFORE UPDATE ON trg FOR EACH ROW CALL \"x\"")
    e.sql("CREATE TRIGGER trg_del AFTER DELETE ON trg FOR EACH ROW CALL \"x\"")
    Seq("trg_ins", "trg_upd", "trg_del").foreach(n =>
      e.registerTriggerImpl(n, (ev, oldR, newR) =>
        log += ((ev, oldR.count(), newR.count()))))

    e.sql("INSERT INTO trg VALUES (1,'a'), (2,'b')")
    assert(log.toSeq == Seq(("INSERT", 0L, 2L)))
    log.clear()
    e.sql("UPDATE trg SET v='B' WHERE id=2")
    assert(log.toSeq == Seq(("UPDATE", 1L, 1L)))
    log.clear()
    e.sql("DELETE FROM trg WHERE id=1")
    assert(log.toSeq == Seq(("DELETE", 1L, 0L)))
    assert(e.sql("SELECT count(*) AS n FROM trg").head().getLong(0) == 1)

    // INSTEAD OF replaces the operation (fireBeforeRow done=true,
    // Insert.java:157-161): the hook observes the rows, the table doesn't
    log.clear()
    e.sql("CREATE TRIGGER trg_iof INSTEAD OF INSERT ON trg FOR EACH ROW CALL \"x\"")
    e.registerTriggerImpl("trg_iof", (ev, oldR, newR) =>
      log += ((ev, oldR.count(), newR.count())))
    e.sql("INSERT INTO trg VALUES (9,'z')")
    assert(log.exists(_._1 == "INSERT"))
    assert(e.sql("SELECT count(*) AS n FROM trg").head().getLong(0) == 1)
    // a recorded trigger with NO bound impl stays a no-op (DDL-only twin)
    e.sql("DROP TRIGGER trg_iof")
    e.sql("INSERT INTO trg VALUES (9,'z')")
    assert(e.sql("SELECT count(*) AS n FROM trg").head().getLong(0) == 2)
  }

  test("PostgreSQL mode: CTID/OID system columns (Mode.java systemColumns)") {
    val e = freshEngine
    e.sql("CREATE TABLE pgs (id int, v varchar(5))")
    e.sql("INSERT INTO pgs VALUES (1,'a'), (2,'b'), (3,'c')")
    // outside PostgreSQL mode the pseudo-column is an unresolved column
    intercept[Exception] { e.sql("SELECT ctid FROM pgs").collect() }
    e.sql("SET MODE PostgreSQL")
    val ids = e.sql("SELECT ctid AS rid FROM pgs").collect().map(_.getLong(0))
    assert(ids.distinct.length == 3) // unique per row
    assert(e.sql("SELECT oid AS rid, id FROM pgs WHERE id > 1").count() == 2)
    // deterministic: filter and projection agree on the same row's id —
    // selecting BY a previously-read ctid returns that exact row
    val target = e.sql("SELECT ctid AS rid, id FROM pgs WHERE id = 2").head()
    val back = e.sql(s"SELECT id FROM pgs WHERE ctid = ${target.getLong(0)}").head()
    assert(back.getInt(0) == 2)
    // qualified form resolves (t.ctid → xxhash64(t.*))
    assert(e.sql("SELECT pgs.ctid AS rid FROM pgs").count() == 3)
  }

  test("upsert: UPDATE arm freeing a unique value the insert arm reuses is legal (MySQL)") {
    val e = freshEngine
    e.sql("SET MODE MySQL")
    e.sql("CREATE TABLE uv (id int PRIMARY KEY, tag varchar(5))")
    e.sql("CREATE UNIQUE INDEX uv_tag ON uv(tag)")
    e.sql("INSERT INTO uv VALUES (1,'a')")
    // MySQL: row 1's tag moves to 'z', then (3,'a') inserts cleanly
    e.sql("INSERT INTO uv VALUES (1,'a'), (3,'a') ON DUPLICATE KEY UPDATE tag='z'")
    val rows = e.sql("SELECT id, tag FROM uv ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "z"), (3, "a")))
    // a REAL post-state collision still raises
    intercept[Exception] {
      e.sql("INSERT INTO uv VALUES (4,'z') ON DUPLICATE KEY UPDATE tag='q'")
    }
  }

  test("triggers fire on upsert and MERGE arms; LIMIT bounds update/delete deltas") {
    val e = freshEngine
    e.sql("SET MODE MySQL")
    e.sql("CREATE TABLE ta (id int PRIMARY KEY, v varchar(10))")
    val log = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    Seq(("ta_i", "AFTER INSERT"), ("ta_u", "AFTER UPDATE"), ("ta_d", "AFTER DELETE"))
      .foreach { case (n, timing) =>
        e.sql(s"CREATE TRIGGER $n $timing ON ta FOR EACH ROW CALL \"x\"")
        e.registerTriggerImpl(n, (ev, o, nw) => log += ((ev, o.count(), nw.count())))
      }
    e.sql("INSERT INTO ta VALUES (1,'a'), (2,'b')")
    log.clear()
    // upsert: one updated (id 2), one inserted (id 3) — both arms fire
    e.sql("INSERT INTO ta VALUES (2,'B'), (3,'c') ON DUPLICATE KEY UPDATE v = VALUES(v)")
    assert(log.toSet == Set(("UPDATE", 1L, 1L), ("INSERT", 0L, 1L)))
    log.clear()
    // MERGE: replaces id 3, inserts id 4
    e.sql("MERGE INTO ta KEY(id) VALUES (3,'C'), (4,'d')")
    assert(log.toSet == Set(("UPDATE", 1L, 1L), ("INSERT", 0L, 1L)))
    log.clear()
    // UPDATE ... LIMIT 1 with 4 matching rows: delta is the 1 victim row
    e.sql("UPDATE ta SET v='x' WHERE id > 0 LIMIT 1")
    assert(log.toSeq == Seq(("UPDATE", 1L, 1L)))
    log.clear()
    e.sql("DELETE FROM ta WHERE id > 0 LIMIT 2")
    assert(log.toSeq == Seq(("DELETE", 2L, 0L)))
  }

  test("MySQL ||: arithmetic operands keep H2 precedence; unbounded shapes are loud") {
    val e = freshEngine
    e.sql("CREATE TABLE mp (id int, a varchar(5), n int)")
    e.sql("INSERT INTO mp VALUES (1, 'v', 4)")
    e.sql("SET MODE MySQL")
    // (n + 1) || a — summand-level left operand absorbed into the concat
    assert(e.sql("SELECT n + 1 || a AS c FROM mp").head().getString(0) == "5v")
    // unary minus stays inside the operand: -1 || a
    assert(e.sql("SELECT -1 || a AS c FROM mp").head().getString(0) == "-1v")
    // right side: * binds tighter (a || n*2), + does not (a || n then + 1)
    assert(e.sql("SELECT a || n * 2 AS c FROM mp").head().getString(0) == "v8")
    // NULL literal operand yields the other side
    assert(e.sql("SELECT NULL || a AS c FROM mp").head().getString(0) == "v")
    // unparenthesized CASE…END operand is rejected loudly, never silent
    val err = intercept[Exception] {
      e.sql("SELECT CASE WHEN n > 0 THEN a ELSE a END || a AS c FROM mp").collect()
    }
    assert(err.getMessage.contains("parenthesize"))
    // …and the parenthesized form works
    assert(e.sql("SELECT (CASE WHEN n > 0 THEN a ELSE a END) || a AS c FROM mp")
      .head().getString(0) == "vv")
  }

  test("LINK_SCHEMA raises the reference's unsupported error (Function.java:1270)") {
    val e = freshEngine
    val err = intercept[UnsupportedOperationException] {
      e.sql("CALL LINK_SCHEMA('T','d','url','u','p','s')")
    }
    assert(err.getMessage.contains("LINK_SCHEMA"))
    // inside a string literal the name is data, not a call
    assert(e.sql("SELECT 'LINK_SCHEMA(x)' AS s").head().getString(0)
      == "LINK_SCHEMA(x)")
  }

  test("masked dispatch: keywords inside string literals never steer statements") {
    val e = freshEngine
    e.sql("CREATE TABLE md (id int PRIMARY KEY, v varchar(60))")
    e.sql("INSERT INTO md VALUES (1, 'a'), (2, 'b')")
    // UPDATE whose SET literal contains ' WHERE ' — the lazy SET/WHERE
    // split must bind to the real WHERE, not the one inside the literal
    e.sql("UPDATE md SET v = 'x WHERE y' WHERE id = 1")
    assert(e.sql("SELECT v FROM md WHERE id=1").head().getString(0) == "x WHERE y")
    // SET literal containing ' LIMIT 5' must not be parsed as a LIMIT clause
    e.sql("UPDATE md SET v = 'keep LIMIT 5' WHERE id = 2")
    assert(e.sql("SELECT v FROM md WHERE id=2").head().getString(0) == "keep LIMIT 5")
    // plain INSERT whose VALUES text contains the upsert phrase stays a
    // plain insert (round-2 advice; now uniform for every dispatch regex)
    e.sql("INSERT INTO md VALUES (3, 'x ON DUPLICATE KEY UPDATE y')")
    assert(e.sql("SELECT v FROM md WHERE id=3").head().getString(0)
      == "x ON DUPLICATE KEY UPDATE y")
    // DELETE with a WHERE literal containing ' WHERE '
    e.sql("DELETE FROM md WHERE v = 'x WHERE y'")
    assert(e.sql("SELECT count(*) AS n FROM md").head().getLong(0) == 2)
    // statement-name keywords inside literals don't reroute dispatch
    e.sql("INSERT INTO md VALUES (9, 'DROP TABLE md')")
    assert(e.sql("SELECT count(*) AS n FROM md").head().getLong(0) == 3)
  }

  test("tokenizer-first INSERT: DEFAULT VALUES, paren-wrapped query, cols+SELECT") {
    val e = freshEngine
    e.sql("CREATE TABLE ti (id int DEFAULT 7, v varchar(20) DEFAULT 'dv', n int)")
    // INSERT INTO t DEFAULT VALUES (Parser.java:1033): one all-default row
    e.sql("INSERT INTO ti DEFAULT VALUES")
    val r0 = e.sql("SELECT id, v, n FROM ti").head()
    assert(r0.getInt(0) == 7 && r0.getString(1) == "dv" && r0.isNullAt(2))
    // paren-wrapped query form (Parser.java:1022 isSelect after '(')
    e.sql("INSERT INTO ti (SELECT 1, 'q', 10)")
    assert(e.sql("SELECT v FROM ti WHERE id=1").head().getString(0) == "q")
    // column list + SELECT still routes through the query arm
    e.sql("INSERT INTO ti (id, n) SELECT 2, 20")
    val r2 = e.sql("SELECT id, v, n FROM ti WHERE id=2").head()
    assert(r2.getString(1) == "dv" && r2.getInt(2) == 20) // v takes DEFAULT
    assert(e.sql("SELECT count(*) AS c FROM ti").head().getLong(0) == 3)
    // hidden-rowid table (no PK): DEFAULT VALUES fills _rowid_ itself
    e.sql("CREATE TABLE tr (a int DEFAULT 3, b varchar(5))")
    e.sql("INSERT INTO tr DEFAULT VALUES")
    val rr = e.sql("SELECT a, b, _ROWID_ FROM tr").head()
    assert(rr.getInt(0) == 3 && rr.isNullAt(1) && rr.getLong(2) == 1L)
    // the _ROWID_ path must detect the table through its QUOTED reference
    // too (regex-era \btr\b matched inside "tr"; Token.isIdent parity)
    val rq = e.sql("SELECT _ROWID_ FROM \"tr\"").head()
    assert(rq.getLong(0) == 1L)
  }

  test("MySQL mode: || treats NULL as the other operand (Mode.java nullConcatIsNull)") {
    val e = freshEngine
    e.sql("CREATE TABLE cc (id int, a varchar(10), b varchar(10))")
    e.sql("INSERT INTO cc VALUES (1,'x','y'), (2,NULL,'y'), (3,'x',NULL), (4,NULL,NULL)")
    // REGULAR (nullConcatIsNull=true): NULL propagates, as in Spark
    val reg = e.sql("SELECT id, a || b AS c FROM cc ORDER BY id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq
    assert(reg == Seq("xy", null, null, null))
    // MySQL (nullConcatIsNull=false, Operation.java:125-142): NULL yields
    // the other side; all-NULL yields NULL
    e.sql("SET MODE MySQL")
    val my = e.sql("SELECT id, a || b AS c FROM cc ORDER BY id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getString(1)).toSeq
    assert(my == Seq("xy", "y", "x", null))
    // chains skip NULLs; function-call + literal + paren operands;
    // non-string operands stringify (Operation.java getString)
    val r = e.sql("SELECT a || '-' || UPPER(b) || (id + 1) AS c FROM cc WHERE id=2")
      .head().getString(0)
    assert(r == "-Y3")
    // inside a string literal, || is data — never rewritten
    assert(e.sql("SELECT '|| not an op' AS s").head().getString(0) == "|| not an op")
    // lowerCaseIdentifiers (Mode.java:151): unquoted identifiers fold to
    // lower case — holds natively (the catalog lowercases everywhere)
    e.sql("CREATE TABLE MixedCase (SomeCol int)")
    assert(e.sql("SELECT table_name FROM INFORMATION_SCHEMA.TABLES " +
      "WHERE table_name='mixedcase'").count() == 1)
    assert(e.sql("SELECT SOMECOL FROM mixedcase").columns.toSeq == Seq("somecol"))
  }

  test("PostgreSQL mode: LOG base 10, SERIAL not PK; REGULAR: SERIAL is identity PK") {
    val e = freshEngine
    // REGULAR: LOG is natural log; SERIAL = auto-increment PK (H2 semantics)
    assert(math.abs(e.sql("SELECT LOG(EXP(1.0)) AS l").head().getDouble(0) - 1.0) < 1e-12)
    e.sql("CREATE TABLE sr (id SERIAL, v varchar(5))")
    e.sql("INSERT INTO sr (v) VALUES ('a'), ('b')")
    assert(e.sql("SELECT id FROM sr ORDER BY id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(e.sql("SELECT column_list FROM INFORMATION_SCHEMA.CONSTRAINTS " +
      "WHERE table_name='sr' AND constraint_type='PRIMARY KEY'").head().getString(0) == "id")
    e.sql("SET MODE PostgreSQL")
    // logIsLogBase10 (Mode.java:114): single-arg LOG is base 10; 2-arg untouched
    assert(math.abs(e.sql("SELECT LOG(100.0) AS l").head().getDouble(0) - 2.0) < 1e-12)
    assert(math.abs(e.sql("SELECT LOG(2, 8) AS l").head().getDouble(0) - 3.0) < 1e-12)
    // serialColumnIsNotPK (Mode.java:119): still auto-increment, not PK
    e.sql("CREATE TABLE pgs (id BIGSERIAL, v varchar(5))")
    e.sql("INSERT INTO pgs (v) VALUES ('x'), ('y')")
    assert(e.sql("SELECT id FROM pgs ORDER BY id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.CONSTRAINTS " +
      "WHERE table_name='pgs' AND constraint_type='PRIMARY KEY'").head().getLong(0) == 0)
  }

  test("OFFSET…ROWS / FETCH FIRST…ROWS ONLY and unique-index NULL-distinct") {
    val e = freshEngine
    e.sql("CREATE TABLE of (x int)")
    e.sql("INSERT INTO of VALUES (1),(2),(3),(4),(5)")
    assert(e.sql("SELECT x FROM of ORDER BY x OFFSET 1 ROWS FETCH NEXT 2 ROWS ONLY")
      .collect().map(_.getInt(0)).toSeq == Seq(2, 3))
    assert(e.sql("SELECT x FROM of ORDER BY x FETCH FIRST 2 ROWS ONLY")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(e.sql("SELECT x FROM of ORDER BY x FETCH FIRST ROW ONLY")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(e.sql("SELECT x FROM of ORDER BY x OFFSET 3 ROWS")
      .collect().map(_.getInt(0)).toSeq == Seq(4, 5))
    // unique-index NULL semantics (Mode.java:88-99, all flags off): multiple
    // NULLs never conflict; duplicated non-NULL values are rejected at
    // insert time (GlobalUniqueIndex per-batch twin)
    e.sql("CREATE TABLE un (k int, v varchar(5))")
    e.sql("INSERT INTO un VALUES (NULL,'a'), (NULL,'b'), (1,'c')")
    e.sql("CREATE UNIQUE INDEX un_k ON un(k)") // NULL,NULL,1 → allowed
    e.sql("INSERT INTO un VALUES (NULL,'d')") // more NULLs still fine
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO un VALUES (1,'e')") // duplicate non-NULL key
    }
    intercept[IllegalArgumentException] {
      e.sql("INSERT INTO un VALUES (7,'x'), (7,'y')") // batch-internal dup
    }
    assert(e.sql("SELECT count(*) FROM un").head().getLong(0) == 4)
  }

  test("transactions: BEGIN/COMMIT/ROLLBACK restore catalog snapshots (TransactionTest)") {
    val e = freshEngine
    e.sql("CREATE TABLE tx (f1 int PRIMARY KEY, f2 int, f3 varchar(10))")
    e.sql("INSERT INTO tx VALUES (100, 10, 'a'), (200, 20, 'b')")
    // rollback undoes DML since BEGIN
    e.sql("BEGIN")
    e.sql("INSERT INTO tx VALUES (300, 30, 'c')")
    e.sql("DELETE FROM tx WHERE f1 = 100")
    assert(e.sql("SELECT count(*) FROM tx").head().getLong(0) == 2)
    e.sql("ROLLBACK")
    assert(e.sql("SELECT f1 FROM tx ORDER BY f1").collect().map(_.getInt(0)).toSeq
      == Seq(100, 200))
    // commit makes it durable: rollback after commit is a no-op
    e.sql("START TRANSACTION")
    e.sql("INSERT INTO tx VALUES (300, 30, 'c')")
    e.sql("COMMIT WORK")
    e.sql("ROLLBACK")
    assert(e.sql("SELECT count(*) FROM tx").head().getLong(0) == 3)
    // DDL is covered by the snapshot (extension beyond the reference)
    e.sql("BEGIN; CREATE TABLE tx2 (x int); ROLLBACK")
    assert(!e.tableNames.contains("tx2"))
  }

  test("SAVEPOINT / ROLLBACK TO SAVEPOINT / SET AUTOCOMMIT (Parser.java:560-650)") {
    val e = freshEngine
    e.sql("CREATE TABLE sv (x int)")
    e.sql("SET AUTOCOMMIT OFF")
    e.sql("INSERT INTO sv VALUES (1)")
    e.sql("SAVEPOINT s1")
    e.sql("INSERT INTO sv VALUES (2)")
    e.sql("SAVEPOINT s2")
    e.sql("INSERT INTO sv VALUES (3)")
    e.sql("ROLLBACK TO SAVEPOINT s1")
    assert(e.sql("SELECT x FROM sv ORDER BY x").collect().map(_.getInt(0)).toSeq == Seq(1))
    // s2 died with the rollback; s1 is still usable
    intercept[IllegalArgumentException] { e.sql("ROLLBACK TO SAVEPOINT s2") }
    e.sql("INSERT INTO sv VALUES (9)")
    e.sql("ROLLBACK TO SAVEPOINT s1")
    assert(e.sql("SELECT count(*) FROM sv").head().getLong(0) == 1)
    // full rollback returns to BEGIN (= AUTOCOMMIT OFF point)
    e.sql("ROLLBACK")
    assert(e.sql("SELECT count(*) FROM sv").head().getLong(0) == 0)
    e.sql("INSERT INTO sv VALUES (7)")
    e.sql("SET AUTOCOMMIT ON") // commits
    e.sql("ROLLBACK")          // no-op outside a transaction
    assert(e.sql("SELECT count(*) FROM sv").head().getLong(0) == 1)
    // sequences are not transactional (reference Sequence semantics)
    e.sql("CREATE SEQUENCE txs START WITH 5")
    e.sql("BEGIN")
    e.sql("SELECT NEXTVAL('txs') AS v").collect()
    e.sql("ROLLBACK")
    assert(e.sql("SELECT NEXTVAL('txs') AS v").head().getInt(0) == 6)
    // generic SET options are recorded in the SETTINGS meta view
    e.sql("SET LOCK_TIMEOUT 5000")
    assert(e.sql("SELECT setting_value FROM INFORMATION_SCHEMA.SETTINGS " +
      "WHERE setting_name='LOCK_TIMEOUT'").head().getString(0) == "5000")
  }

  test("INSERT INTO t SET, ANALYZE, EXPLAIN ANALYZE (Parser.java:1053,333,1340)") {
    val e = freshEngine
    e.sql("CREATE TABLE ist (id int, name varchar(10) DEFAULT 'dflt', n int)")
    e.sql("INSERT INTO ist SET id = 1, n = 5")
    val r = e.sql("SELECT id, name, n FROM ist").head()
    assert(r.getInt(0) == 1 && r.getString(1) == "dflt" && r.getInt(2) == 5)
    e.sql("INSERT INTO ist SET id = 2, name = DEFAULT, n = 6")
    assert(e.sql("SELECT name FROM ist WHERE id=2").head().getString(0) == "dflt")
    assert(e.sql("ANALYZE").head().getString(0) == "OK")
    assert(e.sql("ANALYZE TABLE ist SAMPLE_SIZE 100").head().getString(0) == "OK")
    val plan = e.sql("EXPLAIN ANALYZE SELECT count(*) FROM ist").head().getString(0)
    assert(plan.contains("Aggregate") || plan.contains("HashAggregate"))
  }

  test("review regressions: dup-key upsert, DEFAULT+NOT NULL, sequence advance, ROWNUM WHERE") {
    val e = freshEngine
    // ON DUPLICATE KEY UPDATE with duplicate source keys must not multiply
    // the target row (last source occurrence wins)
    e.sql("SET MODE MySQL")
    e.sql("CREATE TABLE du (id int PRIMARY KEY, v varchar(5), n int)")
    e.sql("INSERT INTO du VALUES (2, 'a', 10)")
    e.sql("INSERT INTO du VALUES (2,'x',1), (2,'y',2) ON DUPLICATE KEY UPDATE n = VALUES(n), v = VALUES(v)")
    val r = e.sql("SELECT v, n FROM du").collect()
    assert(r.length == 1 && r(0).getString(0) == "y" && r(0).getInt(1) == 2)
    // DEFAULT expr followed by column options parses cleanly
    val e2 = freshEngine
    e2.sql("CREATE TABLE dn (c int DEFAULT 5 NOT NULL, v int)")
    e2.sql("INSERT INTO dn (v) VALUES (1)")
    assert(e2.sql("SELECT c FROM dn").head().getInt(0) == 5)
    e2.sql("INSERT INTO dn VALUES (DEFAULT, 2)")
    assert(e2.sql("SELECT c FROM dn WHERE v=2").head().getInt(0) == 5)
    // SHOW COLUMNS surfaces the recorded default
    assert(e2.sql("SHOW COLUMNS FROM dn").collect()
      .find(_.getString(0) == "c").get.getString(4) == "5")
    // explicit inserts into a sequence-defaulted column do not advance it
    e2.sql("CREATE SEQUENCE sq2 START WITH 100")
    e2.sql("CREATE TABLE st (id int DEFAULT NEXTVAL('sq2'), v int)")
    e2.sql("INSERT INTO st VALUES (7, 1)") // explicit id — no sequence use
    e2.sql("INSERT INTO st (v) VALUES (2)") // omitted → 100
    assert(e2.sql("SELECT id FROM st WHERE v=2").head().getInt(0) == 100)
    // DEFAULT keyword evaluates the sequence per row
    e2.sql("INSERT INTO st VALUES (DEFAULT, 3), (DEFAULT, 4)")
    assert(e2.sql("SELECT id FROM st WHERE v IN (3,4) ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(101, 102))
    // WHERE ROWNUM <= n tail form (canonical H2 row cap)
    assert(e2.sql("SELECT v FROM st WHERE ROWNUM <= 2").count() == 2)
    assert(e2.sql("SELECT v FROM st WHERE ROWNUM < 2").count() == 1)
    // database-level SET REFERENTIAL_INTEGRITY FALSE suspends FK checks
    val e3 = freshEngine
    e3.sql("CREATE TABLE p3 (id int PRIMARY KEY); CREATE TABLE c3 (pid int)")
    e3.sql("INSERT INTO p3 VALUES (1)")
    e3.sql("ALTER TABLE c3 ADD CONSTRAINT fk3 FOREIGN KEY(pid) REFERENCES p3(id)")
    e3.sql("SET REFERENTIAL_INTEGRITY FALSE")
    e3.sql("INSERT INTO c3 VALUES (42)") // orphan allowed
    e3.sql("SET REFERENTIAL_INTEGRITY TRUE")
    intercept[IllegalArgumentException] { e3.sql("INSERT INTO c3 VALUES (43)") }
    // MySQL-mode NOT NULL survives a column rename
    val e4 = freshEngine
    e4.sql("SET MODE MySQL")
    e4.sql("CREATE TABLE rn (v varchar(10) NOT NULL)")
    e4.sql("ALTER TABLE rn ALTER COLUMN v RENAME TO w")
    e4.sql("INSERT INTO rn VALUES (NULL)")
    assert(e4.sql("SELECT w FROM rn").head().getString(0) == "") // null→zero applied
  }

  test("BACKUP TO statement + SHUTDOWN no-op (BackupCommandTest/ShutdownServerTest)") {
    val e = freshEngine
    e.sql("create table IF NOT EXISTS BackupCommandTest(id int, name varchar(500), b boolean)")
    e.sql("insert into BackupCommandTest(id, name, b) values(1, 'a1', true), (2, 'a2', false)")
    val dir = java.nio.file.Files.createTempDirectory("graft_backup").toFile.getAbsolutePath
    e.sql(s"BACKUP TO '$dir/myBackup.zip'")
    assert(spark.read.parquet(s"$dir/myBackup/backupcommandtest.parquet").count() == 2)
    assert(e.sql("SHUTDOWN IMMEDIATELY").head().getString(0) == "OK")
    assert(e.sql("SHUTDOWN COMPACT").head().getString(0) == "OK")
  }

  test("CREATE/ALTER/DROP USER recorded + USERS meta view (AlterUserTest)") {
    val e = freshEngine
    e.sql("DROP USER IF EXISTS test1")
    e.sql("CREATE USER IF NOT EXISTS test1 PASSWORD 'test'")
    assert(e.sql("SELECT admin FROM INFORMATION_SCHEMA.USERS WHERE name='TEST1'")
      .head().getBoolean(0) == false)
    e.sql("ALTER USER test1 RENAME TO test2")
    val names = e.sql("SELECT name FROM INFORMATION_SCHEMA.USERS ORDER BY name")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("ROOT", "SA", "TEST2"))
    e.sql("ALTER USER test2 ADMIN TRUE")
    assert(e.sql("SELECT admin FROM INFORMATION_SCHEMA.USERS WHERE name='TEST2'")
      .head().getBoolean(0))
    e.sql("ALTER USER test2 SET PASSWORD 'x'")
    intercept[IllegalArgumentException] { e.sql("ALTER USER nouser ADMIN TRUE") }
    e.sql("DROP USER test2")
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.USERS").head().getLong(0) == 2)
  }

  test("session identity functions: IDENTITY()/SCOPE_IDENTITY()/LASTVAL()") {
    val e = freshEngine
    e.sql("CREATE TABLE sid (id IDENTITY, v varchar(5))")
    assert(e.sql("SELECT IDENTITY() AS i").head().isNullAt(0)) // none yet
    e.sql("INSERT INTO sid (v) VALUES ('a'), ('b'), ('c')")
    assert(e.sql("SELECT IDENTITY() AS i").head().getInt(0) == 3)
    assert(e.sql("SELECT SCOPE_IDENTITY() AS i").head().getInt(0) == 3)
    e.sql("CREATE SEQUENCE lv START WITH 7")
    assert(e.sql("SELECT LASTVAL() AS l").head().isNullAt(0))
    e.sql("SELECT NEXTVAL('lv') AS x").collect()
    assert(e.sql("SELECT LASTVAL() AS l").head().getInt(0) == 7)
  }

  test("IDENTITY auto-increment and system function stubs") {
    val e = freshEngine
    e.sql("CREATE TABLE ids (id IDENTITY, v varchar(10))")
    e.sql("INSERT INTO ids (v) VALUES ('a'), ('b')")
    e.sql("INSERT INTO ids (v) VALUES ('c')")
    val rows = e.sql("SELECT id, v FROM ids ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // explicit id wins; counter continues independently
    e.sql("INSERT INTO ids VALUES (100, 'x')")
    assert(e.sql("SELECT max(id) FROM ids").head().getLong(0) == 100L)
    // system/session stubs
    val r = e.sql(
      "SELECT database() AS d, autocommit() AS a, memory_used() AS m, graft_version() AS v")
      .head()
    assert(r.getString(0) == "graft")
    assert(r.getBoolean(1))
    assert(r.getLong(2) > 0)
    assert(r.getString(3).nonEmpty)
  }

  test("SubqueryTest/DistinctQueryTest shapes through the front door") {
    val e = freshEngine
    e.sql("""CREATE TABLE st (pk int PRIMARY KEY, grp varchar(10), v int);
      INSERT INTO st VALUES (1,'a',10),(2,'a',20),(3,'b',30),(4,'b',40),(5,'c',50)""")
    // correlated scalar subquery (re-executed per row in the reference,
    // decorrelated by Catalyst — same results, Select.java:510-567)
    val corr = e.sql(
      """SELECT pk FROM st s WHERE v > (SELECT AVG(v) FROM st i WHERE i.grp = s.grp)
         ORDER BY pk""").collect().map(_.getInt(0)).toSeq
    assert(corr == Seq(2, 4))
    // IN + EXISTS
    assert(e.sql(
      "SELECT count(*) FROM st WHERE grp IN (SELECT grp FROM st WHERE v >= 40)")
      .head().getLong(0) == 3)
    assert(e.sql(
      """SELECT count(*) FROM st s WHERE EXISTS
         (SELECT 1 FROM st i WHERE i.grp = s.grp AND i.v > s.v)""")
      .head().getLong(0) == 2)
    // DISTINCT single + multi column (queryDistinct paths)
    assert(e.sql("SELECT DISTINCT grp FROM st").count() == 3)
    assert(e.sql("SELECT DISTINCT grp, v >= 30 AS big FROM st").count() == 3)
    // ROWNUM over join results (JoinTest rownum case) via row_number
    val rn = e.sql(
      """SELECT ROW_NUMBER() OVER (ORDER BY a.pk, b.pk) AS rn
         FROM st a JOIN st b ON a.grp = b.grp ORDER BY rn DESC LIMIT 1""")
      .head().getInt(0)
    assert(rn == 9) // 2*2 + 2*2 + 1 pairs
  }

  test("ALTER TABLE: add/drop/rename column, type change, rename table (ddl/AlterTable*)") {
    val e = freshEngine
    e.sql("CREATE TABLE at (a int PRIMARY KEY, b varchar(10))")
    e.sql("INSERT INTO at VALUES (1,'x'), (2,'y')")
    // ADD COLUMN (AlterTableAddColumn.java), default NULL
    e.sql("ALTER TABLE at ADD COLUMN c double")
    assert(e.table("at").columns.toSeq == Seq("a", "b", "c"))
    assert(e.sql("SELECT count(*) FROM at WHERE c IS NULL").head().getLong(0) == 2)
    // ADD ... BEFORE keeps reference column order semantics
    e.sql("ALTER TABLE at ADD d bigint BEFORE b")
    assert(e.table("at").columns.toSeq == Seq("a", "d", "b", "c"))
    // RENAME COLUMN
    e.sql("ALTER TABLE at ALTER COLUMN b RENAME TO label")
    assert(e.table("at").columns.contains("label"))
    // type change (AlterTableAlterColumn.java): int → bigint, value kept
    e.sql("ALTER TABLE at ALTER COLUMN a BIGINT")
    assert(e.table("at").schema("a").dataType.typeName == "long")
    assert(e.sql("SELECT sum(a) FROM at").head().getLong(0) == 3)
    // DROP COLUMN
    e.sql("ALTER TABLE at DROP COLUMN c")
    assert(!e.table("at").columns.contains("c"))
    // RENAME TO moves metadata with the table
    e.sql("ALTER TABLE at RENAME TO at2")
    assert(e.sql("SELECT count(*) FROM at2").head().getLong(0) == 2)
    intercept[Exception] { e.table("at") }
    // SCRIPT round-trips the evolved schema
    val ddl = e.sql("SCRIPT").collect().map(_.getString(0))
    assert(ddl.exists(s => s.startsWith("CREATE TABLE at2") && s.contains("label")))
  }

  test("CREATE/DROP INDEX recorded + INFORMATION_SCHEMA.INDEXES (ddl/CreateIndex.java)") {
    val e = freshEngine
    e.sql("CREATE TABLE ix (a int, b varchar(10))")
    e.sql("INSERT INTO ix VALUES (1,'x'), (2,'y'), (2,'z')")
    // plain index: accepted, recorded, execution is a Spark no-op
    e.sql("CREATE INDEX ix_a ON ix (a)")
    e.sql("CREATE UNIQUE INDEX ix_b ON ix (b)")
    val rows = e.sql(
      """SELECT index_name, column_name, non_unique FROM INFORMATION_SCHEMA.INDEXES
         WHERE table_name = 'ix' ORDER BY index_name""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(rows == Seq(("ix_a", "a", true), ("ix_b", "b", false)))
    // unique index over duplicate data is rejected (GlobalUniqueIndex parity)
    intercept[Exception] { e.sql("CREATE UNIQUE INDEX ix_dup ON ix (a)") }
    e.sql("DROP INDEX ix_a")
    assert(e.sql(
      "SELECT count(*) FROM INFORMATION_SCHEMA.INDEXES WHERE table_name = 'ix'")
      .head().getLong(0) == 1)
    // SCRIPT re-emits surviving index DDL
    assert(e.sql("SCRIPT").collect().map(_.getString(0))
      .exists(_.startsWith("CREATE UNIQUE INDEX ix_b")))
  }

  test("FK + CHECK constraints: existing-row validation and insert-batch checks") {
    val e = freshEngine
    e.sql("CREATE TABLE parent (id int PRIMARY KEY, nm varchar(10))")
    e.sql("INSERT INTO parent VALUES (1,'a'), (2,'b')")
    e.sql("CREATE TABLE child (cid int PRIMARY KEY, pid int, qty int)")
    e.sql("INSERT INTO child VALUES (10, 1, 5), (11, 2, 7), (12, NULL, 1)")
    // FK over valid data (NULL FK passes per SQL semantics)
    e.sql("ALTER TABLE child ADD CONSTRAINT fk_p FOREIGN KEY (pid) REFERENCES parent (id)")
    // insert violating the FK is rejected; valid insert passes
    intercept[Exception] { e.sql("INSERT INTO child VALUES (13, 99, 2)") }
    e.sql("INSERT INTO child VALUES (13, 2, 2)")
    assert(e.sql("SELECT count(*) FROM child").head().getLong(0) == 4)
    // CHECK: NULL passes (3-valued), FALSE rejects
    e.sql("ALTER TABLE child ADD CONSTRAINT ck_qty CHECK (qty > 0)")
    intercept[Exception] { e.sql("INSERT INTO child VALUES (14, 1, -5)") }
    e.sql("INSERT INTO child VALUES (14, 1, NULL)")
    // adding a CHECK that existing rows violate is rejected
    intercept[Exception] {
      e.sql("ALTER TABLE child ADD CONSTRAINT ck_big CHECK (qty > 100)")
    }
    // UNIQUE constraint over duplicates is rejected
    e.sql("ALTER TABLE child ADD CONSTRAINT uq_cid UNIQUE (cid)")
    intercept[Exception] {
      e.sql("ALTER TABLE parent ADD CONSTRAINT uq_nm UNIQUE (nm)");
      e.sql("INSERT INTO parent VALUES (3,'a'), (4,'a')")
      e.sql("ALTER TABLE parent ADD CONSTRAINT uq_nm2 UNIQUE (nm)")
    }
    // constraint catalog surfaces all of it
    val kinds = e.sql(
      "SELECT constraint_type FROM INFORMATION_SCHEMA.CONSTRAINTS WHERE table_name = 'child'")
      .collect().map(_.getString(0)).toSet
    assert(Set("REFERENTIAL", "CHECK", "UNIQUE").subsetOf(kinds))
  }

  test("CSVWRITE statement + TABLE()/TABLE_DISTINCT FROM forms") {
    val e = freshEngine
    e.sql("CREATE TABLE cw (a int, b varchar(10))")
    e.sql("INSERT INTO cw VALUES (1,'x'), (2,'y'), (3,'z')")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csvwrite_stmt"
    val n = e.sql(s"CALL CSVWRITE('$dir', 'SELECT * FROM cw WHERE a >= 2')")
      .head().getLong(0)
    assert(n == 2)
    assert(e.sql(s"SELECT count(*) FROM CSVREAD('$dir')").head().getLong(0) == 2)
    // TABLE(...) in FROM position (TableFunction.java:32-160), both the
    // ARRAY[...] and tuple literal syntaxes, null-padding the short column
    val t = e.sql(
      "SELECT id, nm FROM TABLE(id INT=ARRAY[1,2,3], nm VARCHAR=('a','b')) ORDER BY id")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(t == Seq((1, "a"), (2, "b"), (3, null)))
    assert(e.sql("SELECT count(*) FROM TABLE_DISTINCT(v INT=ARRAY[1,1,2,2,3])")
      .head().getLong(0) == 3)
    // joins against real tables work (the reference's typical usage)
    e.sql("CREATE TABLE lk (k int, txt varchar(10))")
    e.sql("INSERT INTO lk VALUES (1,'one'), (2,'two'), (3,'three')")
    assert(e.sql(
      """SELECT count(*) FROM lk JOIN TABLE(k INT=ARRAY[1,3]) w ON lk.k = w.k""")
      .head().getLong(0) == 2)
  }

  test("CREATE ALIAS reflection + DROP ALIAS + FUNCTION_ALIASES view") {
    val e = freshEngine
    // the reference resolves "class.method" static targets by reflection
    // (FunctionAlias.java); Integer.bitCount is a stable JDK static
    e.sql("""CREATE ALIAS bitcount FOR "java.lang.Integer.bitCount"""")
    assert(e.sql("SELECT bitcount(7) AS c").head().getInt(0) == 3)
    e.sql("""CREATE ALIAS str_repeat FOR "graft.AliasFixture.rep"""")
    assert(e.sql("SELECT str_repeat('ab', 3) AS r").head().getString(0) == "ababab")
    val fa = e.sql(
      "SELECT alias_name, java_method FROM INFORMATION_SCHEMA.FUNCTION_ALIASES ORDER BY alias_name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(fa == Seq(("bitcount", "bitCount"), ("str_repeat", "rep")))
    e.sql("DROP ALIAS bitcount")
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.FUNCTION_ALIASES")
      .head().getLong(0) == 1)
    // SCRIPT re-emits the alias DDL
    assert(e.sql("SCRIPT").collect().map(_.getString(0))
      .exists(_.contains("CREATE ALIAS str_repeat")))
  }

  test("translate() is string-literal-safe; views/users/sessions meta views") {
    val e = freshEngine
    // @var inside a quoted literal must never be substituted (round-1 advice)
    assert(e.sql("SELECT 'user@example.com' AS s").head().getString(0)
      == "user@example.com")
    e.sql("SET @v = 42")
    assert(e.sql("SELECT '@v is literal' AS s, @v AS n").head().getString(0)
      == "@v is literal")
    // LIMIT/SAMPLE_SIZE-looking text inside literals survives
    assert(e.sql("SELECT 'LIMIT 1, 2' AS s").head().getString(0) == "LIMIT 1, 2")
    assert(e.sql("SELECT 'SYSTEM_RANGE(1,5)' AS s").head().getString(0)
      == "SYSTEM_RANGE(1,5)")
    // VIEWS meta view surfaces the definition
    e.sql("CREATE TABLE vt (a int)")
    e.sql("CREATE VIEW v_pos AS SELECT a FROM vt WHERE a > 0")
    val vd = e.sql(
      "SELECT view_definition FROM INFORMATION_SCHEMA.VIEWS WHERE table_name = 'v_pos'")
      .head().getString(0)
    assert(vd.contains("a > 0"))
    e.sql("DROP VIEW v_pos")
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.VIEWS").head().getLong(0) == 0)
    // SESSIONS / USERS stubs exist with the documented shape
    assert(e.sql("SELECT user_name FROM INFORMATION_SCHEMA.SESSIONS").head().getString(0) == "SA")
    assert(e.sql("SELECT name FROM INFORMATION_SCHEMA.USERS WHERE admin").count() == 2)
  }

  test("NEXTVAL is per-row in INSERT ... SELECT (SequenceValue semantics)") {
    val e = freshEngine
    e.sql("CREATE SEQUENCE rowseq START WITH 1000 INCREMENT BY 1")
    e.sql("CREATE TABLE src (v varchar(10))")
    e.sql("INSERT INTO src VALUES ('a'), ('b'), ('c'), ('d')")
    e.sql("CREATE TABLE dst (id bigint, v varchar(10))")
    e.sql("INSERT INTO dst SELECT NEXTVAL('rowseq'), v FROM src")
    val ids = e.sql("SELECT id FROM dst ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1000L, 1001L, 1002L, 1003L), s"ids were $ids")
    // the counter advanced past the batch; CURRVAL sees the last value
    assert(e.sql("SELECT CAST(CURRVAL('rowseq') AS BIGINT) AS c").head().getLong(0) == 1003L)
    e.sql("INSERT INTO dst VALUES (NEXTVAL('rowseq'), 'e')")
    assert(e.sql("SELECT max(id) FROM dst").head().getLong(0) == 1004L)
    // NEXTVAL inside a string literal is untouched
    assert(e.sql("SELECT 'NEXTVAL(''rowseq'')' AS s").head().getString(0)
      == "NEXTVAL('rowseq')")
  }

  test("IDENTITY fill is parallel and contiguous across a multi-partition insert") {
    val e = freshEngine
    e.sql("CREATE TABLE big_ids (id IDENTITY, x bigint)")
    e.sql("INSERT INTO big_ids (x) SELECT x FROM SYSTEM_RANGE(1, 5000)")
    val stats = e.sql(
      "SELECT count(*) AS n, count(DISTINCT id) AS d, min(id) AS lo, max(id) AS hi FROM big_ids")
      .head()
    assert(stats.getLong(0) == 5000 && stats.getLong(1) == 5000)
    assert(stats.getLong(2) == 1 && stats.getLong(3) == 5000)
    // second insert continues the counter
    e.sql("INSERT INTO big_ids (x) VALUES (0)")
    assert(e.sql("SELECT max(id) FROM big_ids").head().getLong(0) == 5001)
  }

  test("CONSTANT/DOMAIN/TRIGGER DDL + full INFORMATION_SCHEMA breadth (MetaTable 30)") {
    val e = freshEngine
    // CREATE CONSTANT substitutes outside literals; columns shadow it
    e.sql("CREATE CONSTANT max_qty VALUE 50")
    assert(e.sql("SELECT max_qty + 1 AS v").head().getInt(0) == 51)
    assert(e.sql("SELECT 'max_qty' AS s").head().getString(0) == "max_qty")
    e.sql("CREATE TABLE shadow_t (max_qty int)")
    e.sql("INSERT INTO shadow_t VALUES (7)")
    assert(e.sql("SELECT max_qty FROM shadow_t").head().getInt(0) == 7)
    // shadowing must also hold when the table is referenced ONLY through
    // its quoted form (the regex predecessor's \bword\b matched inside
    // "shadow_t"; Token.isIdent keeps that parity)
    assert(e.sql("SELECT max_qty FROM \"shadow_t\"").head().getInt(0) == 7)
    // constants resolve in DML scalar positions too (UPDATE SET/WHERE, VALUES)
    e.sql("CREATE TABLE cst (v int)")
    e.sql("INSERT INTO cst VALUES (max_qty)")
    e.sql("UPDATE cst SET v = v + max_qty WHERE v = max_qty")
    assert(e.sql("SELECT v FROM cst").head().getInt(0) == 100)
    // CREATE DOMAIN resolves through column definitions
    e.sql("CREATE DOMAIN money AS DECIMAL(18,2)")
    e.sql("CREATE TABLE prices (p money)")
    assert(e.table("prices").schema("p").dataType.sql == "DECIMAL(18,2)")
    // trigger recorded + surfaced (row-hook execution out of scope)
    e.sql("CREATE TRIGGER trg_p AFTER INSERT ON prices CALL \"x.Y\"")
    assert(e.sql(
      "SELECT table_name FROM INFORMATION_SCHEMA.TRIGGERS WHERE trigger_name = 'trg_p'")
      .head().getString(0) == "prices")
    // every MetaTable id (MetaTable.java:77-107) resolves
    val all = Seq("tables", "columns", "indexes", "table_types", "type_info",
      "catalogs", "settings", "help", "sequences", "users", "roles", "rights",
      "function_aliases", "schemata", "table_privileges", "column_privileges",
      "collations", "views", "in_doubt", "cross_references", "constraints",
      "function_columns", "constants", "domains", "triggers", "sessions",
      "locks", "session_state", "query_statistics", "databases")
    all.foreach { t =>
      e.sql(s"SELECT count(*) FROM INFORMATION_SCHEMA.${t.toUpperCase}").head()
    }
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.CONSTANTS").head().getLong(0) == 1)
    assert(e.sql("SELECT type_name FROM INFORMATION_SCHEMA.DOMAINS").head().getString(0)
      == "DECIMAL(18,2)")
    // SET @v surfaces in SESSION_STATE
    e.sql("SET @who = 'graft'")
    assert(e.sql(
      "SELECT sql FROM INFORMATION_SCHEMA.SESSION_STATE WHERE key = '@who'")
      .head().getString(0).startsWith("SET @who"))
    // SCRIPT round-trips constants and domains
    val ddl = e.sql("SCRIPT").collect().map(_.getString(0))
    assert(ddl.exists(_.startsWith("CREATE CONSTANT max_qty")))
    assert(ddl.exists(_.startsWith("CREATE DOMAIN money")))
    // CREATE SCHEMA / GRANT / REVOKE recorded and surfaced; DROP ALL OBJECTS
    e.sql("CREATE SCHEMA staging")
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.SCHEMATA").head().getLong(0) == 2)
    e.sql("GRANT SELECT, INSERT ON prices TO etl_user")
    assert(e.sql(
      "SELECT count(*) FROM INFORMATION_SCHEMA.RIGHTS WHERE grantee = 'etl_user'")
      .head().getLong(0) == 2)
    e.sql("REVOKE INSERT ON prices FROM etl_user")
    assert(e.sql(
      "SELECT rights FROM INFORMATION_SCHEMA.RIGHTS WHERE grantee = 'etl_user'")
      .head().getString(0) == "SELECT")
    e.sql("DROP ALL OBJECTS")
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.TABLES").head().getLong(0) == 0)
    assert(e.sql("SELECT count(*) FROM INFORMATION_SCHEMA.CONSTANTS").head().getLong(0) == 0)
  }

  test("front-door edge cases: quoted CSVWRITE SQL, commas in TABLE() literals, FK→PK default, BEFORE errors") {
    val e = freshEngine
    e.sql("CREATE TABLE ec (a int, b varchar(20))")
    e.sql("INSERT INTO ec VALUES (1,'x,y'), (2,'z')")
    // CSVWRITE with '' escaped quotes inside the query string (Csv.java form)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csvwrite_esc"
    val n = e.sql(s"CALL CSVWRITE('$dir', 'SELECT * FROM ec WHERE b = ''x,y''')")
      .head().getLong(0)
    assert(n == 1)
    // TABLE() literal containing a comma inside quotes survives splitting
    val vals = e.sql("SELECT v FROM TABLE(v VARCHAR=ARRAY['a,b','c']) ORDER BY v")
      .collect().map(_.getString(0)).toSeq
    assert(vals == Seq("a,b", "c"))
    // FK REFERENCES without an explicit column list targets the parent PK
    e.sql("CREATE TABLE pkp (id int PRIMARY KEY, v varchar(5))")
    e.sql("INSERT INTO pkp VALUES (1,'a')")
    e.sql("CREATE TABLE pkc (r int)")
    e.sql("INSERT INTO pkc VALUES (1)")
    e.sql("ALTER TABLE pkc ADD CONSTRAINT fk_def FOREIGN KEY (r) REFERENCES pkp")
    intercept[Exception] { e.sql("INSERT INTO pkc VALUES (99)") }
    // ALTER ... ADD BEFORE a nonexistent column is a clear error
    intercept[Exception] { e.sql("ALTER TABLE ec ADD c2 int BEFORE nope") }
    // DOMAIN with a CHECK clause parses (check recorded at type level only)
    e.sql("CREATE DOMAIN posint AS INT CHECK (VALUE > 0)")
    e.sql("CREATE TABLE dt (p posint)")
    assert(e.table("dt").schema("p").dataType.typeName == "integer")
    // attribute-only ALTER COLUMN forms must NOT be misparsed as a type
    // change (SET would otherwise parse as a string type and corrupt)
    e.sql("ALTER TABLE dt ALTER COLUMN p SET DEFAULT 5")
    e.sql("ALTER TABLE dt ALTER COLUMN p SELECTIVITY 50")
    assert(e.table("dt").schema("p").dataType.typeName == "integer")
  }

  test("CREATE TABLE AS SELECT + corpus views + CSVREAD") {
    val e = freshEngine
    graft.core.Tables.names.foreach(n =>
      e.register(n, graft.core.Tables.load(spark, sf, n)))
    e.sql("CREATE TABLE big_cust AS SELECT * FROM customer WHERE c_acctbal > 9000")
    assert(e.sql("SELECT count(*) FROM big_cust").head().getLong(0) ==
      e.table("customer").filter("c_acctbal > 9000").count())
    // CSVREAD in FROM position
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_csvread_test"
    e.table("region").coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir)
    val csvFile = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".csv")).head.getAbsolutePath
    assert(e.sql(s"SELECT count(*) FROM CSVREAD('$csvFile')").head().getLong(0) == 5)
  }

  test("uppercase sequence name in column DEFAULT fills and advances (r2 advice)") {
    val e = freshEngine
    e.sql("CREATE SEQUENCE SEQ_UP")
    // H2 SQL conventionally writes NEXTVAL('SEQ1') uppercase; the fill must
    // hit the lowercase-keyed sequence map.
    e.sql("CREATE TABLE useq (id bigint DEFAULT NEXTVAL('SEQ_UP'), v varchar(5))")
    e.sql("INSERT INTO useq (v) VALUES ('a'), ('b')")
    val ids = e.sql("SELECT id FROM useq ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 2L), s"expected fill from SEQ_UP, got $ids")
    // and the sequence advanced
    assert(e.sql("SELECT NEXTVAL('seq_up') AS n").head().getInt(0) == 3)
  }

  test("upsert UPDATE arm is re-validated: CHECK and non-key unique collisions (r2 advice)") {
    val e = freshEngine
    e.sql("SET MODE MySQL")
    e.sql("CREATE TABLE uv (id int PRIMARY KEY, qty int, tag varchar(10))")
    e.sql("ALTER TABLE uv ADD CONSTRAINT qty_pos CHECK (qty >= 0)")
    e.sql("INSERT INTO uv VALUES (1, 5, 'a'), (2, 7, 'b')")
    // UPDATE arm drives qty below the CHECK → must raise, not corrupt
    intercept[Exception] {
      e.sql("INSERT INTO uv VALUES (1, 0, 'x') ON DUPLICATE KEY UPDATE qty = -1")
    }
    assert(e.sql("SELECT qty FROM uv WHERE id=1").head().getInt(0) == 5)
    // UPDATE arm rewrites a unique column into a collision with another row
    e.sql("CREATE UNIQUE INDEX uv_tag ON uv(tag)")
    intercept[Exception] {
      e.sql("INSERT INTO uv VALUES (1, 5, 'z') ON DUPLICATE KEY UPDATE tag = 'b'")
    }
    assert(e.sql("SELECT tag FROM uv WHERE id=1").head().getString(0) == "a")
    // a legal upsert still works
    e.sql("INSERT INTO uv VALUES (1, 9, 'a') ON DUPLICATE KEY UPDATE qty = 9")
    assert(e.sql("SELECT qty FROM uv WHERE id=1").head().getInt(0) == 9)
  }

  test("WHERE alias retry does not rewrite an alias that shadows a real column (r2 advice)") {
    val e = freshEngine
    e.sql("CREATE TABLE sh (pk varchar(4) PRIMARY KEY, f3 int)")
    e.sql("INSERT INTO sh VALUES ('01', 100), ('02', 1)")
    // `f3` aliases an expression AND is a real column; H2 resolves the real
    // column in WHERE. A second alias (`big`) is genuinely unresolved and
    // triggers the retry — which must substitute big but leave f3 alone.
    val rows = e.sql(
      "SELECT pk, f3 + 1000 AS f3, f3 > 50 AS big FROM sh WHERE big AND f3 < 50")
      .collect()
    assert(rows.isEmpty, // real f3 of the qualifying row is 100, not < 50
      s"alias f3 must not shadow column f3 in WHERE: ${rows.mkString}")
    val ok = e.sql(
      "SELECT pk, f3 + 1000 AS f3, f3 > 50 AS big FROM sh WHERE big AND f3 > 50")
      .collect().map(_.getString(0)).toSeq
    assert(ok == Seq("01"))
  }

  test("ON DUPLICATE KEY UPDATE inside a string literal is a plain insert (r2 advice)") {
    val e = freshEngine
    e.sql("SET MODE MySQL")
    e.sql("CREATE TABLE lit (id int PRIMARY KEY, note varchar(100))")
    // keyword only inside the literal → plain INSERT, stored verbatim
    e.sql("INSERT INTO lit VALUES (1, 'use ON DUPLICATE KEY UPDATE here')")
    assert(e.sql("SELECT note FROM lit WHERE id=1").head().getString(0)
      == "use ON DUPLICATE KEY UPDATE here")
    // keyword both inside a literal AND as the real clause → split at the
    // real (outside-literal) occurrence
    e.sql("INSERT INTO lit VALUES (1, 'try ON DUPLICATE KEY UPDATE x') " +
      "ON DUPLICATE KEY UPDATE note = VALUES(note)")
    assert(e.sql("SELECT note FROM lit WHERE id=1").head().getString(0)
      == "try ON DUPLICATE KEY UPDATE x")
    // non-MySQL mode still rejects a REAL upsert clause
    val e2 = freshEngine
    e2.sql("CREATE TABLE lit2 (id int PRIMARY KEY)")
    intercept[IllegalArgumentException] {
      e2.sql("INSERT INTO lit2 VALUES (1) ON DUPLICATE KEY UPDATE id = 1")
    }
  }

  test("statement split: semicolons in literals and quoted identifiers") {
    val e = freshEngine
    // ';' inside a string literal (with '' escape) never splits
    e.sql("CREATE TABLE semi (id int, note varchar); " +
      "INSERT INTO semi VALUES (1, 'a;b'); INSERT INTO semi VALUES (2, 'it''s; fine')")
    assert(e.sql("SELECT note FROM semi WHERE id=1").head().getString(0) == "a;b")
    assert(e.sql("SELECT note FROM semi WHERE id=2").head().getString(0) == "it's; fine")
    // ';' inside a double-quoted identifier never splits (tokenizer-first
    // improvement over the identifier-blind char loop)
    e.sql("""CREATE TABLE semi2 ("a;b" int)""")
    e.sql("""INSERT INTO semi2 ("a;b") VALUES (7); INSERT INTO semi2 ("a;b") VALUES (8)""")
    assert(e.sql("""SELECT count(*) FROM semi2""").head().getLong(0) == 2L)
  }

  test("statement split: semicolons inside comments never split") {
    val e = freshEngine
    // ';' in a -- line comment is invisible to the split
    e.sql("CREATE TABLE cmt (id int); -- trailing; not a statement\n" +
      "INSERT INTO cmt VALUES (1); INSERT INTO cmt VALUES (2)")
    assert(e.sql("SELECT count(*) FROM cmt").head().getLong(0) == 2L)
    // ';' in a block comment (including nested, H2-family lexing)
    e.sql("INSERT INTO cmt VALUES (3) /* c; /* nested; */ still; comment */;" +
      " INSERT INTO cmt VALUES (4)")
    assert(e.sql("SELECT count(*) FROM cmt").head().getLong(0) == 4L)
    // a comment does NOT swallow following real statements
    val n = e.sql("-- leading comment; with semicolon\nSELECT count(*) FROM cmt")
    assert(n.head().getLong(0) == 4L)
  }

  test("TIME type: column, literal, compare, group, CURTIME, SCRIPT round-trip") {
    import org.apache.spark.sql.types.TimeType
    val e = freshEngine
    e.sql("CREATE TABLE tt (id int PRIMARY KEY, t TIME)")
    e.sql("INSERT INTO tt VALUES (1, '12:34:56'), (2, TIME '01:02:03.5'), " +
      "(3, '12:34:56'), (4, NULL)")
    val df = e.sql("SELECT t FROM tt WHERE id = 1")
    assert(df.schema.head.dataType.isInstanceOf[TimeType],
      s"TIME column is ${df.schema.head.dataType}, not TimeType")
    assert(df.head().get(0).toString == "12:34:56")
    // fractional seconds survive (ValueTime keeps nanos)
    assert(e.sql("SELECT CAST(t AS VARCHAR) FROM tt WHERE id = 2")
      .head().getString(0) == "01:02:03.5")
    // comparison + ORDER BY + GROUP BY on the typed column
    assert(e.sql("SELECT count(*) FROM tt WHERE t > TIME '02:00:00'")
      .head().getLong(0) == 2L)
    val grouped = e.sql(
      "SELECT t, count(*) c FROM tt WHERE t IS NOT NULL GROUP BY t ORDER BY t")
      .collect().map(r => (r.get(0).toString, r.getLong(1))).toSeq
    // LocalTime.toString pads fractional seconds to millis
    assert(grouped == Seq(("01:02:03.500", 1L), ("12:34:56", 2L)))
    // HOUR/MINUTE/SECOND extract from TIME (DateTimeFunction parity)
    assert(e.sql("SELECT HOUR(t), MINUTE(t), SECOND(t) FROM tt WHERE id = 1")
      .head().toSeq == Seq(12, 34, 56))
    // CURTIME/CURRENT_TIME are typed TIME now, not strings
    val ct = e.sql("SELECT CURTIME(), CURRENT_TIME")
    assert(ct.schema.forall(_.dataType.isInstanceOf[TimeType]))
    // current_time(0) is whole-second; LocalTime.toString drops the :SS
    // part entirely when the second is exactly 0 (a 1-in-60 flake
    // otherwise — hit at 15:55:00 in a full-suite run)
    assert(ct.head().get(0).toString.matches("\\d{2}:\\d{2}(:\\d{2})?"))
    // SCRIPT emits TIME(6) and RUNSCRIPT re-parses it (catalogString loop)
    val ddl = e.sql("SCRIPT").collect().map(_.getString(0))
      .find(_.toUpperCase.contains("CREATE TABLE TT")).get
    assert(ddl.toUpperCase.contains("TIME(6)"), ddl)
    val e2 = freshEngine
    e2.sql(ddl)
    assert(e2.sql("SELECT * FROM tt").schema("t").dataType.isInstanceOf[TimeType])
  }

  test("documented platform divergences enforce at the boundary (README)") {
    val e = freshEngine
    // DECIMAL beyond precision 38: H2 decimals are unbounded
    // (lealone-common Value.java:78); Spark caps at DecimalType(38). The
    // cap ERRORS at DDL time rather than silently rounding — the README
    // "Known divergences" entry is enforced, not prose.
    val err = intercept[Exception](e.sql("CREATE TABLE dv (x DECIMAL(39, 0))"))
    assert(err.getMessage.contains("38"), err.getMessage)
    // ...while the full supported width still works end to end
    e.sql("CREATE TABLE dv (x DECIMAL(38, 0))")
    e.sql("INSERT INTO dv VALUES (99999999999999999999999999999999999999)")
    assert(e.sql("SELECT CAST(x AS VARCHAR) FROM dv").head().getString(0)
      == "9" * 38)
    // TIME sub-microsecond precision: ValueTime carries nanos
    // (lealone-common ValueTime.java); Spark TimeType(6) is micros — a
    // nanosecond literal loses its sub-micro digits at the boundary.
    e.sql("CREATE TABLE tvn (t TIME)")
    e.sql("INSERT INTO tvn VALUES ('01:02:03.123456789')")
    val got = e.sql("SELECT CAST(t AS VARCHAR) FROM tvn").head().getString(0)
    assert(got == "01:02:03.123456",
      s"nanos must truncate to TIME(6) micros, got $got")
  }

  test("storage prefixes + DECLARE + ON COMMIT (Parser.java:367,3969-3987)") {
    val e = freshEngine
    // all six head shapes parse; the storage tier maps to Spark uniformly
    e.sql("CREATE MEMORY TABLE mem1 (x int)")
    e.sql("CREATE CACHED TABLE c1 (x int)")
    e.sql("CREATE GLOBAL TEMPORARY TABLE gt1 (x int) NOT PERSISTENT")
    e.sql("CREATE LOCAL TEMPORARY TABLE lt1 (x int) ON COMMIT DROP")
    e.sql("CREATE TEMP TABLE tt1 (x int) ON COMMIT DELETE ROWS")
    e.sql("DECLARE GLOBAL TEMPORARY TABLE dg1 (x int)") // DECLARE = CREATE
    // SCRIPT round-trips the prefix (bare TEMP reads as GLOBAL TEMPORARY,
    // Parser.java:3984-3986) and the ON COMMIT tail
    val ddl = e.sql("SCRIPT").collect().map(_.getString(0)).toSeq
    assert(ddl.exists(_.startsWith("CREATE MEMORY TABLE mem1")), ddl)
    assert(ddl.exists(_.startsWith("CREATE CACHED TABLE c1")), ddl)
    assert(ddl.exists(_.startsWith("CREATE GLOBAL TEMPORARY TABLE tt1")), ddl)
    assert(ddl.exists(s => s.startsWith("CREATE LOCAL TEMPORARY TABLE lt1")
      && s.contains("ON COMMIT DROP")), ddl)
    // ON COMMIT semantics inside BEGIN…COMMIT: DROP removes the table,
    // DELETE ROWS truncates and stays armed for the next commit
    e.sql("SET AUTOCOMMIT OFF")
    e.sql("INSERT INTO lt1 VALUES (7)")
    e.sql("INSERT INTO tt1 VALUES (9)")
    e.sql("COMMIT")
    assert(!e.tableNames.contains("lt1"))
    assert(e.sql("SELECT count(*) FROM tt1").head().getLong(0) == 0)
    e.sql("INSERT INTO tt1 VALUES (10)")
    e.sql("COMMIT")
    assert(e.sql("SELECT count(*) FROM tt1").head().getLong(0) == 0)
    e.sql("SET AUTOCOMMIT ON")
    // ON COMMIT on a non-temp table is rejected (grammar: temp branch only)
    val err = intercept[Exception](
      e.sql("CREATE TABLE oops (x int) ON COMMIT DROP"))
    assert(err.getMessage.contains("TEMPORARY"), err.getMessage)
    // a prefixed create that died with ROLLBACK (storage metadata is not
    // snapshotted) must not leak its prefix onto a later plain CREATE of
    // the same name via SCRIPT
    e.sql("SET AUTOCOMMIT OFF")
    e.sql("CREATE MEMORY TABLE leak1 (x int)")
    e.sql("ROLLBACK")
    e.sql("SET AUTOCOMMIT ON")
    assert(!e.tableNames.contains("leak1"))
    e.sql("CREATE TABLE leak1 (x int)")
    val ddl2 = e.sql("SCRIPT").collect().map(_.getString(0))
    assert(ddl2.exists(_.startsWith("CREATE TABLE leak1")), ddl2.toSeq)
    assert(!ddl2.exists(_.startsWith("CREATE MEMORY TABLE leak1")), ddl2.toSeq)
  }

  test("MySQL CHANGE COLUMN renames, type ignored (Parser.java:5333-5345)") {
    val e = freshEngine
    e.sql("CREATE TABLE cc (a int, b varchar(5))")
    e.sql("INSERT INTO cc VALUES (1, 'x')")
    // the declared new type (varchar(20)) is deliberately NOT applied —
    // the reference's documented MySQL-compat behavior is rename-only
    e.sql("ALTER TABLE cc CHANGE COLUMN b bb varchar(20)")
    assert(e.sql("SELECT bb FROM cc").head().getString(0) == "x")
    assert(!e.sql("SELECT * FROM cc").columns.contains("b"))
    // bare CHANGE (no COLUMN keyword) and unknown column errors
    e.sql("ALTER TABLE cc CHANGE bb b3 int")
    assert(e.sql("SELECT b3 FROM cc").head().getString(0) == "x") // still str
    val err = intercept[Exception](e.sql("ALTER TABLE cc CHANGE nope n2 int"))
    assert(err.getMessage.contains("COLUMN_NOT_FOUND"), err.getMessage)
  }

  test("FOR UPDATE / FOR READ|FETCH ONLY tails accepted (Parser.java:1576-1589)") {
    val e = freshEngine
    e.sql("CREATE TABLE fu (a int, b varchar(5))")
    e.sql("INSERT INTO fu VALUES (1, 'x'), (2, 'y')")
    // row locks are a no-op on single-statement snapshots — result identical
    assert(e.sql("SELECT * FROM fu FOR UPDATE").count() == 2)
    assert(e.sql("SELECT * FROM fu FOR UPDATE OF a, b").count() == 2)
    assert(e.sql("SELECT * FROM fu FOR UPDATE NOWAIT").count() == 2)
    assert(e.sql("SELECT a FROM fu FOR READ ONLY").count() == 2)
    assert(e.sql("SELECT a FROM fu FOR FETCH ONLY").count() == 2)
    // a FOR UPDATE inside a string literal is data, not a clause
    assert(e.sql("SELECT 'FOR UPDATE' AS s FROM fu").head().getString(0)
      == "FOR UPDATE")
    // malformed tails still fail (the strip only matches the exact clause)
    intercept[Exception](e.sql("SELECT a FROM fu FOR UPDATE OF"))
    // the OF-list and NOWAIT are mutually exclusive ALTERNATIVES in the
    // reference grammar (Parser.java:1578-1584) — combining them is a
    // syntax error there and stays one here
    intercept[Exception](e.sql("SELECT a FROM fu FOR UPDATE OF a, b NOWAIT"))
  }

  test("failed CREATE leaks no storage prefix or codegen tail into SCRIPT") {
    val e = freshEngine
    e.sql("CREATE TABLE st1 (a int)")
    // duplicate create with a MEMORY prefix fails — the surviving table's
    // SCRIPT DDL must stay prefix-free (the prefix is staged, committed
    // only on success)
    intercept[Exception](e.sql("CREATE MEMORY TABLE st1 (b int)"))
    val ddl1 = e.sql("SCRIPT").collect().map(_.getString(0))
      .filter(_.toUpperCase.contains("ST1"))
    assert(ddl1.exists(_.toUpperCase.startsWith("CREATE TABLE")), ddl1.toSeq)
    assert(!ddl1.exists(_.toUpperCase.contains("MEMORY")), ddl1.toSeq)
    // a codegen-tailed create that dies in a rolled-back transaction must
    // not leak PACKAGE/GENERATE CODE onto a later plain create (the
    // tableCodegen twin of the storage-prefix stale-clear)
    e.sql("BEGIN")
    e.sql("CREATE TABLE st2 (a int) PACKAGE 'com.x' GENERATE CODE 'src'")
    e.sql("ROLLBACK")
    e.sql("CREATE TABLE st2 (a int)")
    val ddl2 = e.sql("SCRIPT").collect().map(_.getString(0))
      .filter(_.toUpperCase.contains("ST2"))
    assert(!ddl2.exists(_.toUpperCase.contains("PACKAGE")), ddl2.toSeq)
    // a temp-table create that FAILS later in the statement leaves no ON
    // COMMIT action armed, and the staged prefix still serves ON COMMIT
    // validation on the success path
    e.sql("CREATE GLOBAL TEMPORARY TABLE st3 (a int) ON COMMIT DELETE ROWS")
    val ddl3 = e.sql("SCRIPT").collect().map(_.getString(0))
      .filter(_.toUpperCase.contains("ST3"))
    assert(ddl3.exists(_.toUpperCase.contains("GLOBAL TEMPORARY")), ddl3.toSeq)
  }

  test("duplicate CREATE VIEW follows CreateView.java:90-98: IF NOT " +
      "EXISTS no-op, OR REPLACE only over a VIEW, else error") {
    val e = freshEngine
    e.sql("CREATE TABLE vt (a int)")
    e.sql("INSERT INTO vt VALUES (1), (2)")
    e.sql("CREATE VIEW vv AS SELECT a FROM vt WHERE a > 1")
    // plain duplicate → VIEW_ALREADY_EXISTS
    val err = intercept[Exception](
      e.sql("CREATE VIEW vv AS SELECT a FROM vt"))
    assert(err.getMessage.contains("VIEW_ALREADY_EXISTS"), err.getMessage)
    // IF NOT EXISTS leaves the existing view untouched
    e.sql("CREATE VIEW IF NOT EXISTS vv AS SELECT a FROM vt")
    assert(e.sql("SELECT count(*) FROM vv").head().getLong(0) == 1)
    // OR REPLACE over a view replaces
    e.sql("CREATE OR REPLACE VIEW vv AS SELECT a FROM vt")
    assert(e.sql("SELECT count(*) FROM vv").head().getLong(0) == 2)
    // OR REPLACE can never replace a TABLE
    intercept[Exception](
      e.sql("CREATE OR REPLACE VIEW vt AS SELECT a FROM vt"))
  }

  test("duplicate CREATE across schema-object families mirrors the " +
      "reference: error without IF NOT EXISTS, silent no-op with it") {
    val e = freshEngine
    e.sql("CREATE SEQUENCE dseq START WITH 5")
    intercept[Exception](e.sql("CREATE SEQUENCE dseq"))
    e.sql("CREATE SEQUENCE IF NOT EXISTS dseq START WITH 99")
    assert(e.sql("SELECT NEXTVAL('dseq') FROM SYSTEM_RANGE(1,1)")
      .head().get(0).asInstanceOf[Number].longValue == 5) // original intact
    e.sql("CREATE TABLE dt (a int, b int)")
    e.sql("CREATE INDEX dix ON dt(a)")
    intercept[Exception](e.sql("CREATE INDEX dix ON dt(b)"))
    e.sql("CREATE INDEX IF NOT EXISTS dix ON dt(b)") // no-op
    e.sql("CREATE CONSTANT dc VALUE 7")
    intercept[Exception](e.sql("CREATE CONSTANT dc VALUE 8"))
    e.sql("CREATE CONSTANT IF NOT EXISTS dc VALUE 8")
    assert(e.sql("SELECT dc FROM SYSTEM_RANGE(1,1)").head().getInt(0) == 7)
    e.sql("CREATE TRIGGER dtr BEFORE INSERT ON dt FOR EACH ROW " +
      "CALL \"x\"")
    intercept[Exception](e.sql(
      "CREATE TRIGGER dtr AFTER INSERT ON dt FOR EACH ROW CALL \"x\""))
    e.sql("CREATE TRIGGER IF NOT EXISTS dtr AFTER DELETE ON dt " +
      "FOR EACH ROW CALL \"x\"") // no-op
  }

  test("user data types follow CreateUserDataType.java's built-in rules: " +
      "primary names never creatable, hidden aliases only pre-table") {
    val e = freshEngine
    // hidden alias with NO user table: shadowable (UserDataTypeTest)
    e.sql("CREATE DATATYPE IF NOT EXISTS int AS VARCHAR(255)")
    e.sql("DROP DATATYPE int")
    // primary name: never, even under IF NOT EXISTS
    val err = intercept[Exception](
      e.sql("CREATE DATATYPE IF NOT EXISTS integer AS VARCHAR(255)"))
    assert(err.getMessage.contains("USER_DATA_TYPE_ALREADY_EXISTS"),
      err.getMessage)
    // duplicate user domain: error without IF NOT EXISTS, no-op with it
    e.sql("CREATE DOMAIN email AS VARCHAR(255)")
    intercept[Exception](e.sql("CREATE DOMAIN email AS INT"))
    e.sql("CREATE DOMAIN IF NOT EXISTS email AS INT") // no-op
    // hidden alias AFTER a user table exists: rejected
    e.sql("CREATE TABLE udt_t (a int)")
    intercept[Exception](
      e.sql("CREATE DATATYPE IF NOT EXISTS int AS VARCHAR(255)"))
  }

  test("sequence not found carries the reference's error text") {
    val e = freshEngine
    val err = intercept[Exception](
      e.sql("SELECT NEXTVAL('nosuch') FROM SYSTEM_RANGE(1,1)"))
    assert(err.getMessage.contains("\"NOSUCH\" not found"), err.getMessage)
  }

  test("values written by DML are fixed when the statement runs") {
    val e = freshEngine
    e.sql("CREATE TABLE vf (k int PRIMARY KEY, s varchar(100), ts timestamp)")
    val q = "SELECT k, s, CAST(ts AS STRING) FROM vf ORDER BY k"
    def read = e.sql(q).collect().toSeq
    Seq(
      "INSERT INTO vf VALUES (1, 'a', CURRENT_TIMESTAMP)",
      "INSERT INTO vf VALUES (2, RANDOM_UUID(), NULL)",
      "UPDATE vf SET ts = CURRENT_TIMESTAMP WHERE k = 2",
      "INSERT INTO vf SELECT X + 10, RANDOM_UUID(), NULL FROM SYSTEM_RANGE(1, 3)",
      "MERGE INTO vf KEY(k) VALUES (1, RANDOM_UUID(), CURRENT_TIMESTAMP)"
    ).foreach { stmt =>
      e.sql(stmt)
      val first = read
      Thread.sleep(20) // CURRENT_TIMESTAMP would move on
      assert(read == first, stmt)
    }
    assert(read.length == 5)
  }

  /** Depth of a logical plan tree. */
  private def depth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    1 + (p.children.map(depth) :+ 0).max

  test("version chain: mixed DML matches a shadow map; the plan depth stays bounded") {
    val e = freshEngine
    e.sql("CREATE TABLE vc (k int PRIMARY KEY, v bigint)")
    e.sql("INSERT INTO vc SELECT X, X * 10 FROM SYSTEM_RANGE(1, 20)")
    val shadow = scala.collection.mutable.Map((1 to 20).map(k => k -> k * 10L): _*)
    val rnd = new scala.util.Random(7)
    var next = 21
    val depths = (0 until 30).map { i =>
      val present = shadow.keys.toSeq.sorted
      val k = present(rnd.nextInt(present.size))
      i % 4 match {
        case 0 =>
          e.sql(s"INSERT INTO vc VALUES ($next, $i)"); shadow(next) = i; next += 1
        case 1 => e.sql(s"UPDATE vc SET v = $i WHERE k = $k"); shadow(k) = i
        case 2 =>
          val mk = if (i % 8 == 2) k else { next += 1; next - 1 }
          e.sql(s"MERGE INTO vc KEY(k) VALUES ($mk, $i)"); shadow(mk) = i
        case _ => e.sql(s"DELETE FROM vc WHERE k = $k"); shadow.remove(k)
      }
      val rows = e.sql("SELECT k, v FROM vc").collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(rows == shadow.toMap, s"after statement $i")
      depth(e.table("vc").queryExecution.logical)
    }
    // 9 lazy versions at most, whatever the statement count
    assert(depths.max <= 30, depths)
  }

  test("version chain: transactions restore exact content across compactions") {
    val e = freshEngine
    e.sql("CREATE TABLE vt (k int PRIMARY KEY, v int)")
    e.sql("INSERT INTO vt VALUES (1, 1), (2, 2), (3, 3)")
    def rows = e.sql("SELECT k, v FROM vt ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    def dml(n: Int, from: Int): Unit = (0 until n).foreach { i =>
      if (i % 2 == 0) e.sql(s"INSERT INTO vt VALUES (${from + i}, $i)")
      else e.sql(s"UPDATE vt SET v = v + 1 WHERE k = ${1 + i % 3}")
    }
    val start = rows
    e.sql("BEGIN")
    dml(20, 100)
    assert(rows.length == 13)
    e.sql("ROLLBACK")
    assert(rows == start)
    e.sql("BEGIN")
    e.sql("UPDATE vt SET v = 10 WHERE k = 1")
    e.sql("SAVEPOINT sp")
    val atSavepoint = rows
    dml(20, 200)
    e.sql("ROLLBACK TO SAVEPOINT sp")
    assert(rows == atSavepoint)
    e.sql("COMMIT")
    e.sql("SET AUTOCOMMIT FALSE")
    dml(20, 300)
    e.sql("COMMIT")
    e.sql("SET AUTOCOMMIT TRUE")
    val committed = rows
    assert(committed.take(3) == Seq((1, 13), (2, 6), (3, 6)))
    dml(12, 400) // compacts again: the committed bases are released
    assert(rows.length == 19)
    assert(rows.take(3) == Seq((1, 15), (2, 8), (3, 8)))
  }

  test("version chain: at most one checkpoint RDD per table, none after DROP TABLE") {
    val e = freshEngine
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    def held = sc.getRDDStorageInfo.count(i => !before(i.id))
    e.sql("CREATE TABLE vs (k int PRIMARY KEY, v int)")
    e.sql("INSERT INTO vs SELECT X, X FROM SYSTEM_RANGE(1, 100)")
    (1 to 50).foreach { i =>
      e.sql(s"UPDATE vs SET v = v + 1 WHERE k = $i")
      assert(held <= 1, s"after statement $i")
    }
    assert(held == 1)
    assert(e.sql("SELECT sum(v) FROM vs").head().getLong(0) == 5050 + 50)
    e.sql("DROP TABLE vs")
    assert(held == 0)
  }

  test("version chain: tables filled from a compacted table outlive its compactions") {
    val e = freshEngine
    e.sql("CREATE TABLE va (k int PRIMARY KEY, v int)")
    e.sql("INSERT INTO va SELECT X, X FROM SYSTEM_RANGE(1, 5)")
    def compactVa(): Unit =
      (1 to 10).foreach(_ => e.sql("UPDATE va SET v = v + 1 WHERE k = 5"))
    compactVa()
    // a rowid table (no single integral PK) and an IDENTITY table: their
    // ids are assigned over an RDD whose lineage reads va's base
    e.sql("CREATE TABLE vb (k int, v int)")
    e.sql("CREATE TABLE vi (id int IDENTITY, k int)")
    e.sql("INSERT INTO vb SELECT k, v FROM va")
    e.sql("INSERT INTO vi (k) SELECT k FROM va")
    def vb = e.sql("SELECT k, v FROM vb ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    def vi = e.sql("SELECT k FROM vi ORDER BY k").collect().map(_.getInt(0)).toSeq
    val filled = (1 to 4).map(k => (k, k)) :+ ((5, 15))
    compactVa(); compactVa()
    assert(vb == filled)
    assert(vi == (1 to 5))
    // a transaction snapshot holding such a version, across a ROLLBACK
    e.sql("BEGIN")
    e.sql("INSERT INTO vb SELECT k + 10, v FROM va WHERE k = 5")
    compactVa(); compactVa()
    assert(vb.last == (15, 35))
    e.sql("ROLLBACK")
    assert(vb == filled)
    // vb's own compaction reads va's old base once more
    (1 to 10).foreach(i => e.sql(s"UPDATE vb SET v = v + 1 WHERE k = ${1 + i % 5}"))
    compactVa()
    assert(vb == filled.map { case (k, v) => (k, v + 2) })
    assert(vi == (1 to 5))
  }
}
