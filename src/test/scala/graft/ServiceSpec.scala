package graft

import graft.sqlfront.Engine

/** Observable side-effect sink for the void-method dispatch test (the
  * cached impl instance lives inside the Engine, so the probe is global). */
object GraftServiceProbe { @volatile var hellos: Int = 0 }

/** Reference-shaped service implementation (HelloWorldServiceImpl —
  * lealone-test/.../service/impl/HelloWorldServiceImpl.java): a plain
  * class with a no-arg constructor whose camelCased methods the generated
  * executer (here: the engine dispatcher) calls. */
class GraftHelloWorldServiceImpl {
  def sayHello(): Unit = GraftServiceProbe.hellos += 1
  def sayGoodbyeTo(name: String): String = "goodbye " + name
}

/** A second implementation of HELLO_WORLD_SERVICE's SAY_GOODBYE_TO. */
class GraftFarewellServiceImpl {
  def sayGoodbyeTo(name: String): String = "farewell " + name
}

/** Scalar-type coercion surface: INT/LONG/DOUBLE/BOOLEAN/VARCHAR params. */
class GraftCalcServiceImpl {
  def add(a: Int, b: Long): Long = a + b
  def ratio(x: Double, neg: Boolean): Double = if (neg) -x else x
  def nothing(name: String): String = null
}

/** CREATE SERVICE / DROP SERVICE / EXECUTE_SERVICE_*_RETURN_VALUE parity
  * (ddl/CreateService.java, ServiceExecuterManager.java,
  * Function.java:951-965, SqlScript.java:166-191 shapes). The reference's
  * client-proxy CODE GENERATOR and TCP transport are build/net artifacts
  * outside a Spark library's query surface; the SQL-visible contract —
  * registration, typed dispatch through the function pair, error texts,
  * DROP, SCRIPT round trip — is what these pin. */
class ServiceSpec extends SparkSpec {

  test("CREATE SERVICE + WITH_RETURN_VALUE dispatch (HelloWorldService " +
      "shape, SqlScript.java:181-191)") {
    val e = new Engine(spark)
    e.sql("create service hello_world_service (" +
      "             say_hello() void," +
      "             say_goodbye_to(name varchar) varchar" +
      "         ) package 'org.example.generated.service'" +
      "           implement by 'graft.GraftHelloWorldServiceImpl'" +
      "           generate code './target/gen'")
    val r = e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'HELLO_WORLD_SERVICE.SAY_GOODBYE_TO', '[\"zhh\"]')").collect()
    assert(r.length == 1 && r.head.getString(0) == "goodbye zhh")
    // SQL '' escaping unfolds before the JSON parse and re-folds on the
    // spliced result literal
    val q = e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'HELLO_WORLD_SERVICE.SAY_GOODBYE_TO', '[\"o''brien\"]')").collect()
    assert(q.head.getString(0) == "goodbye o'brien")
  }

  test("NO_RETURN_VALUE dispatches the void method (side effect observed) " +
      "and yields SQL NULL (Function.java:951-956)") {
    val e = new Engine(spark)
    e.sql("create service hello_world_service (say_hello() void, " +
      "say_goodbye_to(name varchar) varchar) " +
      "implement by 'graft.GraftHelloWorldServiceImpl'")
    val before = GraftServiceProbe.hellos
    val r = e.sql("CALL EXECUTE_SERVICE_NO_RETURN_VALUE(" +
      "'HELLO_WORLD_SERVICE.SAY_HELLO', '[]')").collect()
    assert(GraftServiceProbe.hellos == before + 1)
    assert(r.length == 1 && r.head.isNullAt(0))
  }

  test("scalar parameter coercion per the DECLARED types; null result → " +
      "SQL NULL; void-less multi-method service") {
    val e = new Engine(spark)
    e.sql("create service calc_service (" +
      " add(a int, b long) long," +
      " ratio(x double, neg boolean) double," +
      " nothing(name varchar) varchar" +
      ") implement by 'graft.GraftCalcServiceImpl'")
    assert(e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'CALC_SERVICE.ADD', '[3, 40]')").collect().head.getString(0) == "43")
    assert(e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'CALC_SERVICE.RATIO', '[2.5, true]')").collect()
      .head.getString(0) == "-2.5")
    assert(e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'CALC_SERVICE.NOTHING', '[\"x\"]')").collect().head.isNullAt(0))
  }

  test("error texts mirror the reference: service not found " +
      "(ServiceExecuterManager) / no method (generated executer) / " +
      "duplicate create / drop missing") {
    val e = new Engine(spark)
    val nf = intercept[Exception] {
      e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE('NOPE.M', '[]')")
    }
    assert(nf.getMessage.contains("service NOPE not found"))
    e.sql("create service s1 (m(x int) int) " +
      "implement by 'graft.GraftCalcServiceImpl'")
    val nm = intercept[Exception] {
      e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE('S1.NOPE', '[]')")
    }
    assert(nm.getMessage.contains("no method: NOPE"))
    val dup = intercept[Exception] {
      e.sql("create service s1 (m(x int) int)")
    }
    assert(dup.getMessage.contains("already exists"))
    e.sql("create service if not exists s1 (other(x int) int)") // no-op
    assert(intercept[Exception] { e.sql("drop service s2") }
      .getMessage.contains("not found"))
    e.sql("drop service if exists s2") // tolerated
    e.sql("drop service s1")
    assert(intercept[Exception] {
      e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE('S1.M', '[1]')")
    }.getMessage.contains("not found"))
  }

  test("CREATE TABLE accepts the model-codegen tail (SqlScript.java:52-58 " +
      "`package 'p' generate code 'g'`) — recorded, SCRIPT round trips") {
    val e = new Engine(spark)
    e.sql("create table user_t(name char(10) primary key, notes varchar, " +
      "phone int) package 'org.example.model' generate code './src'")
    e.sql("insert into user_t values('a', 'b', 1)")
    assert(e.sql("select count(*) from user_t").collect().head.getLong(0) == 1)
    val line = e.script().find(_.startsWith("CREATE TABLE user_t"))
    assert(line.isDefined && line.get.contains("PACKAGE 'org.example.model'")
      && line.get.contains("GENERATE CODE './src'"))
    // trailing junk still fails loudly (the pattern's former Eos contract)
    assert(intercept[Exception] {
      e.sql("create table bad_t(x int) wibble")
    }.getMessage.contains("unknown CREATE TABLE option"))
    // storage-engine clause (StorageTest.java:26): accepted, storage maps
    // to parquet/Spark — the CREATE DATABASE RUN MODE treatment
    e.sql("CREATE TABLE IF NOT EXISTS storage_t(f1 int, f2 int) " +
      "ENGINE AOSE WITH(map_type=BufferedMap)")
    e.sql("INSERT INTO storage_t(f1, f2) VALUES(1, 10)")
    assert(e.sql("select f2 from storage_t").collect().head.getInt(0) == 10)
  }

  test("inline table constraints (Parser.parseTableConstraintIf): FK / " +
      "named CHECK / UNIQUE enforce through the ADD CONSTRAINT machinery; " +
      "a column named checksum is NOT misread as a CHECK") {
    val e = new Engine(spark)
    e.sql("create table parent(id long primary key)")
    e.sql("create table child(pid long, checksum int, " +
      "FOREIGN KEY(pid) REFERENCES parent(id), " +
      "CONSTRAINT pos_ck CHECK (checksum > 0), UNIQUE(checksum))")
    assert(e.sql("select * from child").columns.toSeq ==
      Seq("pid", "checksum")) // no junk 'foreign'/'constraint' columns
    e.sql("insert into parent values(1)")
    e.sql("insert into child values(1, 2)")
    assert(intercept[Exception] { e.sql("insert into child values(99, 3)") }
      .getMessage.contains("FK"))
    assert(intercept[Exception] { e.sql("insert into child values(1, -5)") }
      .getMessage.contains("CHECK pos_ck"))
    assert(intercept[Exception] { e.sql("insert into child values(1, 2)") }
      .getMessage.contains("unique"))
    assert(e.sql("select count(*) from child").collect().head.getLong(0) == 1)
  }

  test("backquoted identifiers (Parser.readIdentifier; SqlScript.java:94 " +
      "`order`): keyword table name creates, enforces its inline FK, and " +
      "reads back through BOTH the backquoted and bare forms") {
    val e = new Engine(spark)
    e.sql("create table customer(id long primary key, name char(10))")
    e.sql("create table `order`(customer_id long, order_id int primary key," +
      " order_date date, total double," +
      " FOREIGN KEY(customer_id) REFERENCES customer(id))" +
      " package 'org.example.model' generate code './gen'")
    e.sql("insert into customer values(1, 'c1')")
    e.sql("insert into `order` values(1, 10, DATE '2024-01-01', 5.5)")
    assert(intercept[Exception] {
      e.sql("insert into `order` values(7, 11, DATE '2024-01-02', 1.0)")
    }.getMessage.contains("FK"))
    e.sql("update `order` set total = 9.75 where order_id = 10")
    assert(e.sql("select total from `order`").collect()
      .head.getDouble(0) == 9.75)
    assert(e.sql("select total from order").collect()
      .head.getDouble(0) == 9.75) // bare form: no reserved words
    // FK from ANOTHER table referencing the keyword table
    e.sql("create table order_item(order_id int, " +
      "FOREIGN KEY(order_id) REFERENCES `order`(order_id))")
    e.sql("insert into order_item values(10)")
    assert(intercept[Exception] { e.sql("insert into order_item values(99)") }
      .getMessage.contains("FK"))
    // non-word-shaped backquoted names normalize to the "quoted" form and
    // ride the existing quoted-identifier support (here: a select alias
    // with a space, which reaches Spark as a backticked identifier again)
    val w = e.sql("select 1 as `weird name`")
    assert(w.columns.toSeq == Seq("weird name") &&
      w.collect().head.getInt(0) == 1)
    // a backtick inside a string literal is data, never a quote
    assert(e.sql("select 'a`b' as v").collect().head.getString(0) == "a`b")
  }

  test("SCRIPT re-emits CREATE SERVICE and the replay dispatches again") {
    val e = new Engine(spark)
    e.sql("create service hello_world_service (say_hello() void, " +
      "say_goodbye_to(name varchar) varchar) package 'p.q' " +
      "implement by 'graft.GraftHelloWorldServiceImpl' generate code 'g'")
    val line = e.script().find(_.startsWith("CREATE SERVICE"))
    assert(line.isDefined && line.get.contains("HELLO_WORLD_SERVICE") &&
      line.get.contains("IMPLEMENT BY 'graft.GraftHelloWorldServiceImpl'"))
    val e2 = new Engine(spark)
    e2.sql(line.get.stripSuffix(";"))
    assert(e2.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'HELLO_WORLD_SERVICE.SAY_GOODBYE_TO', '[\"x\"]')").collect()
      .head.getString(0) == "goodbye x")
  }

  test("a service re-created with another IMPLEMENT BY calls the new class") {
    val e = new Engine(spark)
    def create(impl: String): Unit = e.sql("CREATE SERVICE greeter " +
      s"(say_goodbye_to(name varchar) varchar) IMPLEMENT BY 'graft.$impl'")
    def call(): String = e.sql("CALL EXECUTE_SERVICE_WITH_RETURN_VALUE(" +
      "'GREETER.SAY_GOODBYE_TO', '[\"x\"]')").head().getString(0)
    e.sql("BEGIN")
    create("GraftHelloWorldServiceImpl")
    assert(call() == "goodbye x")
    e.sql("ROLLBACK")
    create("GraftFarewellServiceImpl")
    assert(call() == "farewell x")
    e.sql("DROP SERVICE greeter")
    create("GraftHelloWorldServiceImpl")
    assert(call() == "goodbye x")
  }
}
