package graft

import org.apache.spark.sql.functions._
import graft.dsl.Model

case class P(name: String, age: Int)

class ModelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val people = Seq(
    (1, "Alice", "Berlin", 30, Seq("scala", "sql")),
    (2, "Bob", "Paris", 25, Seq("python")),
    (3, "carol", "berlin", 35, Seq.empty[String]),
    (4, "Dave", "Rome", 40, Seq("sql"))
  ).toDF("id", "name", "city", "age", "tags")

  test("predicate vocabulary: eq/ieq/like/contains/in/between") {
    assert(Model(people).where().eq("city", "Berlin").findCount() == 1)
    assert(Model(people).where().ieq("city", "BERLIN").findCount() == 2)
    assert(Model(people).where().ilike("name", "a%").findCount() == 1)
    assert(Model(people).where().icontains("name", "AROL").findCount() == 1)
    assert(Model(people).where().in("city", "Paris", "Rome").findCount() == 2)
    assert(Model(people).between("age", 26, 36).findCount() == 2)
    assert(Model(people).istartsWith("name", "c").findCount() == 1)
    assert(Model(people).matches("name", "^[AB]").findCount() == 2)
  }

  test("array predicates") {
    assert(Model(people).arrayContains("tags", "sql").findCount() == 2)
    assert(Model(people).arrayIsEmpty("tags").findCount() == 1)
    assert(Model(people).arrayIsNotEmpty("tags").findCount() == 3)
  }

  test("and/or/not with lp/rp grouping") {
    // city = 'Berlin' OR (age > 30 AND NOT name LIKE 'c%')
    val n = Model(people).where()
      .eq("city", "Berlin")
      .or().lp().gt("age", 30).not().like("name", "c%").rp()
      .findCount()
    assert(n == 2) // Alice (Berlin), Dave (40, not c%) — carol excluded
    // NOT applied to a whole group
    val m = Model(people).not().lp().eq("city", "Paris").or().eq("city", "Rome").rp()
      .findCount()
    assert(m == 2)
  }

  test("select/orderBy/limit/offset composition") {
    val names = Model(people).where().gt("age", 24)
      .select("name", "age").orderByDesc("age").offset(1).limit(2)
      .toDF.collect().map(_.getString(0)).toSeq
    assert(names == Seq("carol", "Alice"))
  }

  test("groupBy/agg/having") {
    val rows = Model(people)
      .groupBy("city").agg(count(lit(1)).as("n"), max($"age").as("max_age"))
      .having($"n" >= 1)
      .orderBy("city")
      .toDF.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 4)
  }

  test("join composes relations") {
    val orders = Seq((1, 100.0), (1, 50.0), (2, 70.0)).toDF("pid", "amount")
    val joined = Model(people).where().gt("age", 20)
      .join(Model(orders), col("id") === col("pid"))
      .groupBy("name").agg(sum($"amount").as("total"))
      .orderBy("name")
      .toDF.collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(joined.toSeq == Seq(("Alice", 150.0), ("Bob", 70.0)))
  }

  test("typed dataset exit") {
    val ds = Model(people).where().ge("age", 35).select("name", "age")
      .toDS[P](org.apache.spark.sql.Encoders.product[P])
    assert(ds.collect().map(_.name).toSet == Set("carol", "Dave"))
  }

  test("findOne/findList executors") {
    assert(Model(people).eq("id", 3).findOne().map(_.getString(1)) == Some("carol"))
    assert(Model(people).findList().length == 4)
  }

  test("DAO executors: insert/update/delete through an Engine binding + transactions") {
    val e = new graft.sqlfront.Engine(spark)
    e.sql("CREATE TABLE dao (id int PRIMARY KEY, name varchar(20), age int)")
    val dao = Model(e, "dao")
    // insert (Model.java insert :736)
    assert(dao.insert("id" -> 1, "name" -> "ann", "age" -> 30) == 1L)
    dao.insert("id" -> 2, "name" -> "bob", "age" -> 40)
    assert(Model(e, "dao").findCount() == 2)
    // update returns the affected count (Model.java update :644)
    assert(Model(e, "dao").where().ge("age", 40).update("name" -> "BOB") == 1L)
    assert(e.sql("SELECT name FROM dao WHERE id=2").head().getString(0) == "BOB")
    // delete (Model.java delete :600)
    assert(Model(e, "dao").eq("id", 1).delete() == 1L)
    assert(Model(e, "dao").findCount() == 1)
    // transactions delegate to the Engine's snapshot machinery
    val m = Model(e, "dao")
    m.beginTransaction()
    Model(e, "dao").insert("id" -> 9, "name" -> "tmp", "age" -> 1)
    m.rollbackTransaction()
    assert(Model(e, "dao").findCount() == 1)
    // explain exposes the composed plan (printSQL twin)
    assert(Model(e, "dao").eq("id", 2).explain().contains("Filter"))
    // a bound model reads through to the live table (sees its own inserts)
    val live = Model(e, "dao")
    val before = live.findCount()
    live.insert("id" -> 11, "name" -> "zed", "age" -> 9)
    assert(live.findCount() == before + 1)
    Model(e, "dao").eq("id", 11).delete()
    // DSL updates and deletes count toward the table's compaction: ten
    // in a row compact its version chain onto a materialized base
    (1 to 10).foreach(i => Model(e, "dao").eq("id", 2).update("age" -> i))
    assert(e.table("dao").queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD if r.rdd.isCheckpointed => r
    }.nonEmpty)
    assert(e.sql("SELECT age FROM dao WHERE id=2").head().getInt(0) == 10)
    // unbound models refuse mutation
    intercept[IllegalStateException] { Model(people).delete() }
  }

  // Generated-model twin for the typed-property tests: one val per column,
  // mirroring lealone-test generated/model/User.java (id/name/notes/phone).
  case class UserM(model: Model, sets: Seq[(String, Any)] = Nil)
      extends graft.dsl.TypedModel[UserM] {
    protected def rebuild(m: Model): UserM = copy(model = m)
    protected def rebuildSets(s: Seq[(String, Any)]): UserM = copy(sets = s)
    val id = new PLong("id")
    val name = new PString("name")
    val notes = new PString("notes")
    val phone = new PInteger("phone")
  }

  test("typed properties: generated-model chain shapes (DaoTest/OrmCrudTest)") {
    val e = new graft.sqlfront.Engine(spark)
    e.sql("CREATE TABLE user (id bigint PRIMARY KEY, name varchar(20), " +
      "notes varchar(20), phone int)")
    def dao = UserM(Model(e, "user"))

    // u.id.set(1000).name.set("Rob1").notes.set("notes1").insert()
    // (OrmCrudTest.java:83-87)
    assert(dao.id.set(1000L).name.set("Rob1").notes.set("notes1")
      .phone.set(7).insert() == 1L)
    dao.id.set(2000L).name.set("Rob2").notes.set("notes2").phone.set(8).insert()

    // dao.where().id.eq(1000L).findOne() (OrmCrudTest.java:95)
    val row = dao.where().id.eq(1000L).findOne().get
    assert(row.getAs[String]("name") == "Rob1")

    // predicate chains with and/or and typed comparisons
    assert(dao.where().id.ge(1000L).and().name.startsWith("Rob").findCount() == 2)
    assert(dao.where().name.eq("Rob1").or().phone.gt(7).findCount() == 2)
    assert(dao.where().phone.between(7, 8).findCount() == 2)
    assert(dao.where().notes.ilike("NOTES%").findCount() == 2)
    assert(dao.where().name.in("Rob1", "nope").findCount() == 1)
    assert(dao.where().notes.isNotNull().findCount() == 2)

    // select/orderBy through typed column handles
    val names = dao.select(dao.name.column).orderBy(dao.id.desc)
      .findList().map(_.getString(0)).toSeq
    assert(names == Seq("Rob2", "Rob1"))

    // dao.where().name.eq(...).update() with staged sets (DaoTest.java:103)
    assert(dao.where().id.eq(2000L).name.set("zhh").update() == 1L)
    assert(dao.where().name.eq("zhh").findCount() == 1)

    // dao.where().name.eq("zhh1").delete() (DaoTest.java:48)
    assert(dao.where().name.eq("zhh").delete() == 1L)
    assert(dao.findCount() == 1)
  }
}
