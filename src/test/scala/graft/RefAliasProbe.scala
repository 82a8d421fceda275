package graft

import graft.sqlfront.Engine

/** The reference's AggregateFunction contract, duck-typed (api/
  * AggregateFunction.java:16-43 — add(Object)/getResult()/getType(int[]);
  * the reference resolves the class by NAME and feeds an instance
  * row-at-a-time per group). Mirrors UserAggregateTest.MedianString. */
class MedianFixture {
  private val list = new java.util.ArrayList[String]()
  def add(value: AnyRef): Unit = list.add(value.toString)
  def getResult(): AnyRef = list.get(list.size / 2)
  def getType(inputType: Array[Int]): Int = java.sql.Types.VARCHAR
}

/** Multi-argument + null-observing fixture: the reference passes several
  * arguments as ONE Object[] per row and feeds NULL rows too
  * (JavaAggregate.java:195-207). */
class PairConcatFixture {
  private val sb = new StringBuilder
  def add(value: AnyRef): Unit = value match {
    case arr: Array[AnyRef] => sb.append(arr.mkString("<", ",", ">"))
    case null => sb.append("<null>")
    case v => sb.append("<").append(v).append(">")
  }
  def getResult(): AnyRef = sb.toString
}

/** db/schema/FunctionAliasTest.java and db/UserAggregateTest.java
  * statements run VERBATIM through the front door: reflection aliases,
  * in-memory-compiled `AS $$source$$` aliases (both string quote forms),
  * and CREATE [FORCE] AGGREGATE FOR "class". */
class RefAliasProbe extends SparkSpec {

  test("FunctionAliasTest: FOR-target and AS $$source$$ forms") {
    val en = new Engine(spark)
    // FunctionAliasTest.create() verbatim
    en.sql("CREATE ALIAS IF NOT EXISTS my_sqrt DETERMINISTIC FOR \"java.lang.Math.sqrt\"")
    en.sql("CREATE ALIAS IF NOT EXISTS my_reverse AS " +
      "$$ String reverse(String s) { return new StringBuilder(s).reverse().toString(); } $$")
    val r = en.sql("select my_sqrt(4.0), my_reverse('abc')").head()
    assert(r.getDouble(0) == 2.0) // the test asserts the string "2.0"
    assert(r.getString(1) == "cba")
    // both registered in the meta surface (schema.findFunction analogue)
    assert(en.sql("SELECT alias_name FROM INFORMATION_SCHEMA.FUNCTION_ALIASES")
      .collect().map(_.getString(0)).toSet == Set("my_sqrt", "my_reverse"))
    // FunctionAliasTest.drop() verbatim
    en.sql("DROP ALIAS IF EXISTS my_sqrt")
    en.sql("DROP ALIAS IF EXISTS my_reverse")
    assert(en.sql("SELECT alias_name FROM INFORMATION_SCHEMA.FUNCTION_ALIASES")
      .count() == 0)
  }

  test("source aliases: quote-form parity, @CODE imports, executor-side use") {
    val en = new Engine(spark)
    // "用$$与用单引号有一样的效果" — single quotes are the same string form
    en.sql("CREATE ALIAS shout AS ' String shout(String s) { return s.toUpperCase() + \"!\"; } '")
    assert(en.sql("SELECT shout('abc')").head().getString(0) == "ABC!")
    val arity = intercept[IllegalArgumentException](en.sql("SELECT shout('a', 'b')").collect())
    assert(arity.getMessage.contains("alias shout takes 1 arguments, not 2"), arity)
    // @CODE splits custom imports from the body (SourceCompiler.java:159-166)
    en.sql("CREATE ALIAS next_day AS $$ import java.time.*; @CODE " +
      "String next_day(String d) { return LocalDate.parse(d).plusDays(1).toString(); } $$")
    assert(en.sql("SELECT next_day('2020-02-28')").head().getString(0) == "2020-02-29")
    // default imports (java.util/math/sql) are in scope without @CODE
    en.sql("CREATE ALIAS big_twice AS $$ BigDecimal big_twice(String s) " +
      "{ return new BigDecimal(s).add(new BigDecimal(s)); } $$")
    assert(en.sql("SELECT big_twice('1.5')").head().getDecimal(0)
      .compareTo(new java.math.BigDecimal("3.0")) == 0)
    // the compiled UDF runs distributed: per-row over a real table scan
    en.sql("CREATE TABLE src_t (pk int, s varchar(10))")
    en.sql("INSERT INTO src_t VALUES (1, 'ab'), (2, 'cd'), (3, 'ef')")
    assert(en.sql("SELECT shout(s) FROM src_t WHERE pk >= 2 ORDER BY pk")
      .collect().map(_.getString(0)).toSeq == Seq("CD!", "EF!"))
    // a body that does not compile fails loudly at CREATE time
    intercept[IllegalArgumentException] {
      en.sql("CREATE ALIAS broken AS $$ String broken( { } $$")
    }
  }

  test("UserAggregateTest: CREATE FORCE AGGREGATE / use / DROP") {
    val en = new Engine(spark)
    val className = classOf[MedianFixture].getName
    // UserAggregateTest verbatim (its SQL section)
    en.sql(s"""CREATE FORCE AGGREGATE IF NOT EXISTS MEDIAN FOR "$className"""")
    assert(en.sql("SELECT MEDIAN(X) FROM SYSTEM_RANGE(1, 5)")
      .head().getString(0) == "3")
    // IF NOT EXISTS tolerates the duplicate; bare CREATE refuses it
    en.sql(s"""CREATE FORCE AGGREGATE IF NOT EXISTS MEDIAN FOR "$className"""")
    intercept[IllegalArgumentException] {
      en.sql(s"""CREATE AGGREGATE MEDIAN FOR "$className"""")
    }
    en.sql("DROP AGGREGATE MEDIAN")
    // dropped → the user class no longer intercepts the name; Spark's own
    // median builtin resolves it instead (numeric, not the VARCHAR result)
    val post = en.sql("SELECT MEDIAN(X) FROM SYSTEM_RANGE(1, 5)").head()
    assert(post.get(0) != "3" && post.get(0).toString.toDouble == 3.0)
  }

  test("user aggregates group per key and validate eagerly") {
    val en = new Engine(spark)
    val className = classOf[MedianFixture].getName
    en.sql(s"""CREATE AGGREGATE med FOR "$className"""")
    en.sql("CREATE TABLE ua_t (g int, v int)")
    en.sql("INSERT INTO ua_t VALUES (1, 10), (1, 20), (1, 30), (2, 7), (2, 8)")
    val rows = en.sql("SELECT g, med(v) FROM ua_t GROUP BY g ORDER BY g")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(rows == Seq((1, "20"), (2, "8")))
    // DROP AGGREGATE reads IF EXISTS after the name too (Parser.java:1306)
    en.sql("DROP AGGREGATE med IF EXISTS")
    en.sql("DROP AGGREGATE med IF EXISTS") // idempotent once gone
    // dropped → the name (no Spark builtin) no longer resolves at all
    intercept[Exception] {
      en.sql("SELECT g, med(v) FROM ua_t GROUP BY g").collect()
    }
    // eager validation without FORCE (CreateAggregate → UserAggregate ctor)
    intercept[Exception] {
      en.sql("""CREATE AGGREGATE nope FOR "no.such.Class"""")
    }
    // a built-in aggregate name is taken (Parser.java:4455)
    intercept[IllegalArgumentException] {
      en.sql(s"""CREATE AGGREGATE sum FOR "$className"""")
    }
  }

  test("user aggregates: multi-arg Object[], NULL rows reach add()") {
    val en = new Engine(spark)
    en.sql(s"""CREATE AGGREGATE pcat FOR "${classOf[PairConcatFixture].getName}"""")
    en.sql("CREATE TABLE pc_t (g int, a varchar(5), b int)")
    en.sql("INSERT INTO pc_t VALUES (1, 'x', 10), (1, NULL, 20)")
    // two args arrive as one Object[] per row (JavaAggregate add(argValues));
    // the row with the NULL argument is fed, not dropped
    assert(en.sql("SELECT pcat(a, b) FROM pc_t").head().getString(0)
      == "<x,10><null,20>")
    // one arg unwraps to the bare (possibly NULL) value — NULL rows kept
    assert(en.sql("SELECT pcat(a) FROM pc_t").head().getString(0)
      == "<x><null>")
    // DISTINCT and FILTER apply to the rows the user object is fed
    en.sql("INSERT INTO pc_t VALUES (2, 'x', 30)")
    assert(en.sql("SELECT pcat(DISTINCT a) FILTER (WHERE a IS NOT NULL) FROM pc_t")
      .head().getString(0) == "<x>")
  }

  test("FORCE alias defers failures to first use; duplicates error without IF NOT EXISTS") {
    val en = new Engine(spark)
    // FunctionAlias.init(force): CREATE succeeds though the class is missing
    en.sql("""CREATE FORCE ALIAS ghost FOR "no.such.Cls.m"""")
    assert(en.sql("SELECT alias_name FROM INFORMATION_SCHEMA.FUNCTION_ALIASES")
      .collect().map(_.getString(0)).toSeq == Seq("ghost"))
    // fails at use, with the cause the load hit
    val ghost = intercept[Exception] { en.sql("SELECT ghost(1)").collect() }
    assert(String.valueOf(ghost.getMessage).contains("no.such.Cls"), ghost)
    // without FORCE the same statement fails at CREATE time
    intercept[Exception] { en.sql("""CREATE ALIAS ghost2 FOR "no.such.Cls.m"""") }
    // an existing alias errors without IF NOT EXISTS, no-ops with it
    en.sql("CREATE ALIAS dup AS $$ int dup(int x) { return x; } $$")
    intercept[IllegalArgumentException] {
      en.sql("CREATE ALIAS dup AS $$ int dup(int x) { return x + 1; } $$")
    }
    en.sql("CREATE ALIAS IF NOT EXISTS dup AS $$ int dup(int x) { return x + 2; } $$")
    assert(en.sql("SELECT dup(5)").head().getInt(0) == 5) // original kept
    // an alias may not shadow a user aggregate, and vice versa
    en.sql(s"""CREATE AGGREGATE med2 FOR "${classOf[MedianFixture].getName}"""")
    intercept[IllegalArgumentException] {
      en.sql("CREATE ALIAS med2 AS $$ int med2(int x) { return x; } $$")
    }
    intercept[IllegalArgumentException] {
      en.sql(s"""CREATE AGGREGATE dup FOR "${classOf[MedianFixture].getName}"""")
    }
  }

  test("source alias entry method: first declared wins over later helpers") {
    val en = new Engine(spark)
    // "aux" < "fmt" alphabetically — first-declared must still win
    en.sql("CREATE ALIAS fmt2 AS $$ String fmt2(int x) { return aux(x); } " +
      "public static String aux(int x) { return \"v\" + x; } $$")
    assert(en.sql("SELECT fmt2(7)").head().getString(0) == "v7")
  }

  test("$$ strings are general literals: plain SELECT/VALUES + bodies with quotes") {
    val en = new Engine(spark)
    // the front door normalizes $$…$$ to '…' for every statement kind
    assert(en.sql("SELECT $$abc$$").head().getString(0) == "abc")
    assert(en.sql("SELECT upper($$don't$$)").head().getString(0) == "DON'T")
    en.sql("CREATE TABLE dq_t (s varchar(20))")
    en.sql("INSERT INTO dq_t VALUES ($$it's$$)")
    assert(en.sql("SELECT s FROM dq_t").head().getString(0) == "it's")
    // a $$ inside a single-quoted literal stays data
    assert(en.sql("SELECT 'a$$b'").head().getString(0) == "a$$b")
  }

  test("DROP ALL OBJECTS clears aliases, source aliases and user aggregates") {
    val en = new Engine(spark)
    en.sql("CREATE ALIAS gone AS $$ int gone(int x) { return x; } $$")
    en.sql(s"""CREATE AGGREGATE medx FOR "${classOf[MedianFixture].getName}"""")
    en.sql("DROP ALL OBJECTS")
    assert(en.sql("SELECT count(*) FROM INFORMATION_SCHEMA.FUNCTION_ALIASES")
      .head().getLong(0) == 0)
    // the dropped aggregate name no longer rewrites
    intercept[Exception] { en.sql("SELECT medx(X) FROM SYSTEM_RANGE(1, 3)").collect() }
  }

  test("SCRIPT round-trips source aliases and user aggregates") {
    val en = new Engine(spark)
    val className = classOf[MedianFixture].getName
    en.sql("CREATE ALIAS rev AS $$ String rev(String s) { return new StringBuilder(s).reverse().toString(); } $$")
    // a body containing both quote forms must survive the round trip
    en.sql("CREATE ALIAS tricky AS $$ String tricky() { return \"it's $\" + \"$ ok\"; } $$")
    en.sql(s"""CREATE AGGREGATE med FOR "$className"""")
    val script = en.sql("SCRIPT").collect().map(_.getString(0))
    assert(script.exists(_.startsWith("CREATE ALIAS rev AS '")))
    assert(script.exists(_ == s"""CREATE FORCE AGGREGATE med FOR "$className";"""))
    // the replay alone defines what en2 calls: each engine binds its
    // functions from its own catalog
    en.sql("DROP ALL OBJECTS")
    val en2 = new Engine(spark)
    script.foreach(en2.sql(_))
    assert(en2.sql("SELECT rev('xyz')").head().getString(0) == "zyx")
    assert(en2.sql("SELECT tricky()").head().getString(0) == "it's $$ ok")
    assert(en2.sql("SELECT med(X) FROM SYSTEM_RANGE(1, 5)").head().getString(0) == "3")
  }
}
