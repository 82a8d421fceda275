package graft.sqlfront

import scala.collection.immutable.{ListSet, VectorMap}

// DDL surface recorded for INFORMATION_SCHEMA + validation
// (ddl/CreateIndex.java, db/constraint/ConstraintReferential.java,
// ConstraintCheck.java)
private[sqlfront] final case class IndexDef(name: String, table: String,
    cols: Seq[String], unique: Boolean)
private[sqlfront] final case class FkDef(name: String, table: String,
    cols: Seq[String], refTable: String, refCols: Seq[String])
private[sqlfront] final case class CheckDef(name: String, table: String, expr: String)

/** CREATE ALIAS (ddl/CreateFunctionAlias.java): `body` is the
  * "class.method" target, or with `source` the Java method source
  * compiled in-memory (FunctionAlias.loadFromSource, [[SourceCompiler]]). */
private[sqlfront] final case class AliasDef(body: String, source: Boolean)

/** CREATE DOMAIN (ddl/CreateUserDataType.java): the base type, and the
  * CHECK every column of the domain takes, with VALUE for the column. */
private[sqlfront] final case class Domain(baseType: String, check: Option[String])

/** One declared service method: SQL name (stored uppercase), ordered
  * (paramName, sqlType) pairs, declared return type ("void" = no return
  * value — the reference executer's NO_RETURN_VALUE contract). */
private[sqlfront] final case class ServiceMethod(
    name: String, params: Seq[(String, String)], retType: String)

/** CREATE SERVICE registration (ddl/CreateService.java,
  * SqlScript.java:166-191): the service's typed method list plus the
  * PACKAGE / IMPLEMENT BY / GENERATE CODE attributes. PACKAGE and
  * GENERATE CODE drive the reference's client/executer CODE GENERATOR —
  * a build-time artifact, recorded here but not emitted (a Spark
  * library has no client-proxy build step); IMPLEMENT BY is the live
  * contract: the class whose camelCased methods the dispatcher calls. */
private[sqlfront] final case class ServiceDef(
    name: String, methods: Map[String, ServiceMethod],
    packageName: Option[String], implementBy: Option[String],
    codePath: Option[String])

/** Full reference sequence semantics (schema/Sequence.java): MINVALUE /
  * MAXVALUE default per Sequence.java:146-160, bound check + CYCLE wrap
  * or SEQUENCE_EXHAUSTED per Sequence.java:239-247, attribute validation
  * per Sequence.java:137-144, BELONGS_TO_TABLE drop guard enforced at
  * the DROP SEQUENCE dispatch. CACHE sizes are accepted and ignored
  * (a persistence-flush margin; no disk here). The value is immutable:
  * NEXTVAL replaces it with [[drawn]].
  *
  * @param next the value the next NEXTVAL returns, before any wrap
  * @param curr the value CURRVAL returns */
private[sqlfront] final case class Sequence(next: Long, inc: Long, minV: Long,
    maxV: Long, curr: Long, cycle: Boolean, belongsToTable: Boolean) {

  def validated: Sequence = {
    require(minV <= next && next <= maxV && maxV > minV && inc != 0 &&
        (BigInt(inc).abs < BigInt(maxV) - BigInt(minV)),
      s"SEQUENCE_ATTRIBUTES_INVALID value=$next min=$minV max=$maxV increment=$inc (Sequence.java:137)")
    this
  }

  /** After one NEXTVAL: `curr` is the value it returned. */
  def drawn: Sequence = {
    val v = if ((inc > 0 && next > maxV) || (inc < 0 && next < minV)) {
      if (cycle) { if (inc > 0) minV else maxV }
      else throw new IllegalStateException("SEQUENCE_EXHAUSTED (Sequence.java:246)")
    } else next
    copy(next = v + inc, curr = v)
  }

  /** After `n` NEXTVALs of a per-row multi-occurrence fill (SequenceValue
    * semantics: every evaluation increments). The arithmetic fill cannot
    * express a CYCLE wrap, so crossing a bound fails loudly either way. */
  def advanced(n: Long): Sequence =
    if (n <= 0) this
    else {
      val end = next + (n - 1) * inc
      if ((inc > 0 && end > maxV) || (inc < 0 && end < minV))
        throw new IllegalStateException(
          if (cycle) "bulk INSERT…SELECT NEXTVAL cannot CYCLE-wrap mid-fill; use single-row inserts"
          else "SEQUENCE_EXHAUSTED (Sequence.java:246)")
      copy(next = end + inc, curr = end)
    }

  /** This sequence with the counter of `live` if `live` has drawn further. */
  def keepingCounter(live: Sequence): Sequence =
    if (if (inc > 0) live.next > next else live.next < next)
      copy(next = live.next, curr = live.curr)
    else this
}

private[sqlfront] object Sequence {
  def create(start: Long, inc: Long, min: Option[Long], max: Option[Long],
      cycle: Boolean, belongsToTable: Boolean): Sequence =
    Sequence(start, inc, min.getOrElse(defaultMin(inc, start)),
      max.getOrElse(defaultMax(inc, start)), start - inc, cycle,
      belongsToTable).validated
  def defaultMin(inc: Long, next: Long): Long =
    if (inc >= 0) math.min(1L, next) else Long.MinValue
  def defaultMax(inc: Long, next: Long): Long =
    if (inc >= 0) Long.MaxValue else math.max(-1L, next)
}

/** Every schema object of an [[Engine]], as one immutable value (SURVEY
  * §1.2: the reference keeps them in one object hierarchy). Each family is
  * an ordered map or list, in creation order. The engine holds the value
  * in one `var`: a statement assigns a new value, a transaction snapshot
  * is the value itself, ROLLBACK assigns the snapshot back
  * ([[keepingCountersOf]]), and DROP ALL OBJECTS assigns [[dropAll]].
  * Names are stored lowercase, services uppercase.
  *
  * @param tables      every table and view
  * @param triggers    name → (table, timing and events)
  * @param comments    COMMENT ON text by (object kind, name); a COLUMN
  *                    comment is named `table.column`
  * @param aggregates  CREATE AGGREGATE name → user class
  *                    (db/UserAggregate.java)
  * @param constants   CREATE CONSTANT name → SQL literal (schema/Constant.java)
  * @param users       name → admin
  * @param roleGrants  (role, grantee) edges: "grantee has role"
  * @param rights      (grantee, right, table or `*`); enforced nowhere
  * @param schemas     name → owning user (CREATE SCHEMA … AUTHORIZATION) */
private[sqlfront] final case class Catalog(
    tables: VectorMap[String, TableEntry] = VectorMap.empty,
    indexes: VectorMap[String, IndexDef] = VectorMap.empty,
    foreignKeys: Vector[FkDef] = Vector.empty,
    checks: Vector[CheckDef] = Vector.empty,
    triggers: VectorMap[String, (String, String)] = VectorMap.empty,
    comments: VectorMap[(String, String), String] = VectorMap.empty,
    sequences: VectorMap[String, Sequence] = VectorMap.empty,
    services: VectorMap[String, ServiceDef] = VectorMap.empty,
    aliases: VectorMap[String, AliasDef] = VectorMap.empty,
    aggregates: VectorMap[String, String] = VectorMap.empty,
    constants: VectorMap[String, String] = VectorMap.empty,
    domains: VectorMap[String, Domain] = VectorMap.empty,
    users: VectorMap[String, Boolean] = VectorMap.empty,
    roles: ListSet[String] = ListSet.empty,
    roleGrants: Vector[(String, String)] = Vector.empty,
    rights: Vector[(String, String, String)] = Vector.empty,
    schemas: VectorMap[String, Option[String]] = VectorMap.empty,
    databases: ListSet[String] = ListSet.empty) {

  /** This snapshot as ROLLBACK restores it over the `live` value: every
    * table and sequence both hold keeps the live IDENTITY, `_rowid_` and
    * sequence counters if they drew further, so an id or value drawn by
    * the rolled-back work stays used. ROLLBACK applies it once per value
    * that held an object the transaction dropped, then once for the live
    * value, so each counter ends at the largest of them. */
  def keepingCountersOf(live: Catalog): Catalog = copy(
    tables = tables.map { case (n, e) => n -> live.tables.get(n).fold(e)(l =>
      e.copy(identityNext = e.identityNext max l.identityNext,
        rowidNext = e.rowidNext max l.rowidNext)) },
    sequences = sequences.map { case (n, s) =>
      n -> live.sequences.get(n).fold(s)(s.keepingCounter) })

  /** After DROP ALL OBJECTS (ddl/DropDatabase.java): only the users,
    * schemas, databases and their comments stay. */
  def dropAll: Catalog = Catalog.empty.copy(users = users, schemas = schemas,
    databases = databases,
    comments = comments.filter { case ((k, _), _) => k == "USER" || k == "SCHEMA" })

  /** Without object `n` of `kind` (a COMMENT ON kind, or DATABASE,
    * AGGREGATE or SERVICE), and without what [[moveNamed]] drops with it. */
  def without(kind: String, n: String): Catalog = (kind match {
    case "INDEX" => copy(indexes = indexes - n)
    case "SEQUENCE" => copy(sequences = sequences - n)
    case "SERVICE" => copy(services = services - n)
    case "ALIAS" => copy(aliases = aliases - n)
    case "AGGREGATE" => copy(aggregates = aggregates - n)
    case "CONSTANT" => copy(constants = constants - n)
    case "DOMAIN" => copy(domains = domains - n)
    case "TRIGGER" => copy(triggers = triggers - n)
    case "USER" => copy(users = users - n)
    case "ROLE" => copy(roles = roles - n)
    case "SCHEMA" => copy(schemas = schemas - n)
    case "DATABASE" => copy(databases = databases - n)
  }).moveNamed(kind, n, None)

  def withoutTable(name: String): Catalog =
    copy(tables = tables - name).moveOwned(name, None)

  /** Table `from` renamed to `to`, with everything it owns. */
  def renamedTable(from: String, to: String): Catalog =
    copy(tables = tables - from + (to -> tables(from))).moveOwned(from, Some(to))

  /** Re-key to `to` (RENAME), or drop with `to` = None (DROP), the objects
    * with names of their own that table `from` owns: its indexes, CHECK
    * and FOREIGN KEY constraints, triggers, and column comments, plus
    * what [[moveNamed]] moves for the table itself. A FOREIGN KEY of
    * another table that references `from` follows it too: H2 drops a
    * referential constraint with either of its tables. */
  def moveOwned(from: String, to: Option[String]): Catalog = {
    def re(t: String): Option[String] = if (t == from) to else Some(t)
    val gone = if (to.nonEmpty) Nil else
      indexes.collect { case (n, ix) if ix.table == from => ("INDEX", n, None) } ++
        triggers.collect { case (n, (t, _)) if t == from => ("TRIGGER", n, None) }
    val moved = copy(
      indexes = indexes.flatMap { case (n, ix) => re(ix.table).map(t => n -> ix.copy(table = t)) },
      checks = checks.flatMap(ck => re(ck.table).map(t => ck.copy(table = t))),
      foreignKeys = foreignKeys.flatMap(fk => for (t <- re(fk.table); r <- re(fk.refTable))
        yield fk.copy(table = t, refTable = r)),
      triggers = triggers.flatMap { case (n, (t, timing)) => re(t).map(t2 => n -> (t2, timing)) },
      comments = comments.flatMap {
        case (("COLUMN", tc), c) if tc.startsWith(from + ".") =>
          to.map(t => ("COLUMN", t + tc.drop(from.length)) -> c)
        case kc => Some(kc)
      })
    (Seq(("TABLE", from, to), ("VIEW", from, to)) ++ gone).foldLeft(moved) {
      case (c, (kind, n, t)) => c.moveNamed(kind, n, t)
    }
  }

  /** Re-key to `to` (RENAME), or drop with `to` = None (DROP), what names
    * object `from` of `kind` (a COMMENT ON kind): its comment; for a user
    * or role, the rights and role grants it holds or, for a role, gives;
    * for a table or view, the rights on it. */
  def moveNamed(kind: String, from: String, to: Option[String]): Catalog = {
    def re(n: String): Option[String] = if (n == from) to else Some(n)
    val principal = kind == "USER" || kind == "ROLE"
    val table = kind == "TABLE" || kind == "VIEW"
    copy(
      comments = comments.flatMap { case ((k, n), c) =>
        (if (k == kind) re(n) else Some(n)).map(n2 => (k, n2) -> c) },
      rights = rights.flatMap { case (g, p, o) =>
        if (principal) re(g).map((_, p, o))
        else if (table) re(o).map((g, p, _))
        else Some((g, p, o)) },
      roleGrants = if (!principal) roleGrants else roleGrants.flatMap { case (r, g) =>
        for (r2 <- if (kind == "ROLE") re(r) else Some(r); g2 <- re(g)) yield (r2, g2) })
  }
}

private[sqlfront] object Catalog {
  /** The built-in objects: schema PUBLIC, the implicit admins ROOT (the
    * reference's LealoneDatabase superuser, renamed by UserTest) and SA
    * (the H2-family session user USER() reports), role PUBLIC, which every
    * user holds (db/auth/Role.java), and this engine's database. */
  val empty: Catalog = Catalog(
    users = VectorMap("root" -> true, "sa" -> true),
    roles = ListSet("public"),
    schemas = VectorMap("public" -> None),
    databases = ListSet("graft"))
}
