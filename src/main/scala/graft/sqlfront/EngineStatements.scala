package graft.sqlfront

import scala.collection.mutable

/** The statement-pattern face of [[Engine]] (split out mechanically — one
  * class across files via self-typed traits): every `Pat.P` statement
  * extractor of the DDL/DML dispatch, the custom token-shape extractors
  * (INSERT bodies, WHERE/LIMIT tails), and the session's variables and
  * prepared statements. See Engine's scaladoc for the full surface
  * inventory. */
private[sqlfront] trait EngineStatements { this: Engine =>

  // Stmt (the literal-masked statement view) lives in Pat.scala with the
  // token-pattern extractors; `Pat.P` patterns replaced the `M(regex)`
  // extractors of the historical regex front door — STATEMENT dispatch is
  // now regex-free, as are the fragment-level DEFAULT/SEQUENCE clause
  // scans (defaultClause/seqClause) and every textual rewrite (Rw).
  import Pat.{P, Kw, Opt, OptCap, AltKw, AltCap, OptG, Ident, Quoted, IntCap,
    SkipWord, SkipNum, SkipLit, Paren, SkipParen, Rest, RestNonEmpty,
    RestTyped, CapUntil, Peek, SkipRest, Eos, SpecBeforeAfter, DomainTail,
    LitCap, LitCapNonEmpty, StrCap, DottedIdent, NullOrLit}


  // optional tail = the reference's model-codegen attributes
  // (CreateTable.java packageName/genCode; SqlScript.java:52-58 shapes
  // `create table user(...) package 'p' generate code 'g'`) — parsed by
  // parseTableTail, which errors loudly on anything else (the old Eos
  // strictness for trailing junk)
  private[sqlfront] val createTableRe =
    P(Kw("CREATE", "TABLE"), OptCap("IF", "NOT", "EXISTS"), Ident, Paren, Rest)
  private[sqlfront] val createTableAsRe =
    P(Kw("CREATE", "TABLE"), OptCap("IF", "NOT", "EXISTS"), Ident, Kw("AS"),
      Rest)
  // DROP TABLE [IF EXISTS] t1[, t2 …] [CASCADE|RESTRICT] — the reference
  // chains comma-separated drops (Parser.java parseDropTable →
  // DropTable.addNextDropTable) and defaults the action to CASCADE
  // (DropTable.java:40, dropRestrict=false); tail parsed by dropTableTail
  private[sqlfront] val dropTableRe =
    P(Kw("DROP", "TABLE"), OptCap("IF", "EXISTS"), RestNonEmpty)
  private[sqlfront] val truncateRe = P(Kw("TRUNCATE", "TABLE"), Ident, Eos)
  // option tail parsed by parseSeqOptions — the reference grammar is an
  // order-free option loop (Parser.java:4375-4422 / 4780-4826), which a
  // fixed-order pattern cannot express
  private[sqlfront] val createSeqRe =
    P(Kw("CREATE", "SEQUENCE"), OptCap("IF", "NOT", "EXISTS"), Ident, Rest)
  private[sqlfront] val alterSeqRe =
    P(Kw("ALTER", "SEQUENCE"), Ident, Rest)
  private[sqlfront] val dropSeqRe =
    P(Kw("DROP", "SEQUENCE"), Opt("IF", "EXISTS"), Ident, Eos)
  // CREATE SERVICE (ddl/CreateService.java; SqlScript.java:166-191 shapes):
  // typed method list in parens + an order-free PACKAGE / IMPLEMENT BY /
  // GENERATE CODE / COMMENT option tail (parsed by parseServiceTail)
  private[sqlfront] val createServiceRe =
    P(Kw("CREATE", "SERVICE"), OptCap("IF", "NOT", "EXISTS"), Ident, Paren,
      Rest)
  private[sqlfront] val dropServiceRe =
    P(Kw("DROP", "SERVICE"), OptCap("IF", "EXISTS"), Ident, Eos)
  // CREATE PRIMARY KEY [HASH] name ON t(cols) (ddl/CreateIndex.java primary
  // form, used by the reference's index tests)
  private[sqlfront] val createPkRe =
    P(Kw("CREATE", "PRIMARY", "KEY"), Opt("HASH"), Opt("IF", "NOT", "EXISTS"),
      Ident, Kw("ON"), Ident, Paren, Eos)
  // CREATE/ALTER DATABASE (ddl/CreateDatabase.java Parser.java:4224-4250,
  // ddl/AlterDatabase.java Parser.java:4718) — RUN MODE / WITH REPLICATION
  // STRATEGY (k:v, …) / PARAMETERS are distributed-deployment attributes,
  // recorded only; TENANT is the reference's synonym (Parser.java:4706)
  private[sqlfront] val createDatabaseRe =
    P(Kw("CREATE"), AltKw(Seq("DATABASE"), Seq("TENANT")),
      OptCap("IF", "NOT", "EXISTS"), Ident,
      OptG(Kw("RUN", "MODE"), SkipWord),
      OptG(Kw("WITH", "REPLICATION", "STRATEGY"), SkipParen),
      OptG(Kw("PARAMETERS"), SkipParen), Eos)
  private[sqlfront] val alterDatabaseRe =
    P(Kw("ALTER"), AltKw(Seq("DATABASE"), Seq("TENANT")), Ident,
      OptG(Kw("RUN", "MODE"), SkipWord),
      OptG(Kw("WITH", "REPLICATION", "STRATEGY"), SkipParen),
      OptG(Kw("PARAMETERS"), SkipParen), Eos)
  private[sqlfront] val dropDatabaseRe =
    P(Kw("DROP"), AltKw(Seq("DATABASE"), Seq("TENANT")), Opt("IF", "EXISTS"),
      Ident, Eos)
  // ── tokenizer-first INSERT family (Parser.java:1014 parseInsert) ──
  // One token scan classifies every INSERT body form — SET assignments
  // (Parser.java:1052), [DIRECT] VALUES with an optional depth-0
  // ON DUPLICATE KEY UPDATE tail (Mode.java onDuplicateKeyUpdate),
  // SELECT/FROM query, DEFAULT VALUES (Parser.java:1033), and the
  // paren-wrapped query `INSERT INTO t (SELECT …)` (Parser.java:1022) —
  // replacing three ordered regexes plus a masked keyword search.
  // Literal safety is structural (literals and quoted identifiers are
  // single tokens), and the ON DUPLICATE split is depth-0, so the phrase
  // inside a nested subquery can no longer split the statement.
  private[sqlfront] sealed trait InsBody
  private[sqlfront] final case class InsSet(assigns: String) extends InsBody
  private[sqlfront] final case class InsValues(tuples: String, onDup: Option[String])
    extends InsBody
  private[sqlfront] final case class InsSelect(query: String) extends InsBody
  private[sqlfront] case object InsDefaults extends InsBody

  private[sqlfront] def isSym(s: String, t: Lex.Token, c: Char): Boolean =
    t.kind == Lex.Sym && s.charAt(t.start) == c

  private[sqlfront] object InsertStmt {
    /** (table, colsOrNull, body) — colsOrNull mirrors the regex capture
      * contract this replaces (null = no column list given). */
    def unapply(st: Stmt): Option[(String, String, InsBody)] = {
      val s = st.raw
      val ts = Lex.tokens(s)
      if (ts.length < 4 || !ts(0).is(s, "INSERT") || !ts(1).is(s, "INTO"))
        return None
      // bare identifiers only, as the regexes required (\w+)
      val nameTok = ts(2)
      if (nameTok.kind != Lex.Word || s.charAt(nameTok.start) == '"')
        return None
      val name = nameTok.text(s)
      var i = 3
      var cols: String = null
      if (i < ts.length && isSym(s, ts(i), '(')) {
        // matching close = first ')' back at the open's depth
        var close = i + 1
        while (close < ts.length &&
          !(isSym(s, ts(close), ')') && ts(close).depth == ts(i).depth))
          close += 1
        if (close >= ts.length) return None // unbalanced → not ours
        if (close == ts.length - 1 && i + 1 < close &&
            (ts(i + 1).is(s, "SELECT") || ts(i + 1).is(s, "FROM")))
          // INSERT INTO t (SELECT …) — whole tail is one wrapped query
          return Some((name, null,
            InsSelect(s.substring(ts(i).end, ts(close).start))))
        // column list: flat, as `\(([^)]*)\)` required — nested parens
        // fall through to the old no-match path
        var j = i + 1
        while (j < close) {
          if (isSym(s, ts(j), '(')) return None
          j += 1
        }
        cols = s.substring(ts(i).end, ts(close).start)
        i = close + 1
      }
      if (cols == null && i + 1 < ts.length && ts(i).is(s, "DEFAULT") &&
          ts(i + 1).is(s, "VALUES") && i + 2 == ts.length)
        return Some((name, null, InsDefaults))
      // DIRECT/SORTED insert hints (Parser.java parseInsert readIf) are
      // advisory in a snapshot engine — accepted before VALUES or SELECT
      while (i < ts.length && (ts(i).is(s, "DIRECT") || ts(i).is(s, "SORTED")))
        i += 1
      if (i < ts.length && ts(i).is(s, "VALUES")) {
        val bodyStart = ts(i).end
        var k = i + 1
        var cut = -1
        while (k + 3 < ts.length && cut < 0) {
          if (ts(k).depth == 0 && ts(k).is(s, "ON") &&
              ts(k + 1).is(s, "DUPLICATE") && ts(k + 2).is(s, "KEY") &&
              ts(k + 3).is(s, "UPDATE")) cut = k
          k += 1
        }
        val body =
          if (cut < 0) InsValues(s.substring(bodyStart).stripLeading(), None)
          else InsValues(s.substring(bodyStart, ts(cut).start).trim,
            Some(s.substring(ts(cut + 3).end).trim))
        return Some((name, cols, body))
      }
      if (cols == null && i < ts.length && ts(i).is(s, "SET"))
        // MySQL INSERT INTO t SET c1=v1, … (Parser.java:1052; cols and SET
        // are mutually exclusive there too)
        return Some((name, null, InsSet(s.substring(ts(i).end))))
      if (i + 1 < ts.length && (ts(i).is(s, "SELECT") || ts(i).is(s, "FROM")))
        return Some((name, cols, InsSelect(s.substring(ts(i).start))))
      None
    }
  }

  /** Depth-0 tail split shared by UPDATE and DELETE (Parser.java:1106
    * parseUpdate / Parser.java:1163 parseDelete): optional top-level WHERE,
    * optional trailing top-level LIMIT <n>. Token scan, so a WHERE inside
    * a parenthesized subquery — `SET v = (SELECT … WHERE …)` — can no
    * longer split the statement (the lazy regexes this replaces bound to
    * the FIRST occurrence at any depth). Returns (head, whereOrNull,
    * limitOrNull) with head = the text before WHERE/LIMIT. */
  private[sqlfront] def whereLimitTail(s: String, ts: IndexedSeq[Lex.Token],
      from: Int): (String, String, String) = {
    val n = ts.length
    // trailing LIMIT <digits> at depth 0, as `LIMIT\s+(\d+)\s*$` required
    val limIdx =
      if (n - from >= 2 && ts(n - 2).depth == 0 && ts(n - 2).is(s, "LIMIT") &&
          ts(n - 1).kind == Lex.Num && ts(n - 1).depth == 0 &&
          !ts(n - 1).text(s).exists(c => !c.isDigit)) n - 2 else n
    var w = from
    while (w < limIdx && !(ts(w).depth == 0 && ts(w).is(s, "WHERE"))) w += 1
    val headEnd = if (w < limIdx) ts(w).start
      else if (limIdx < n) ts(limIdx).start else s.length
    val head = s.substring(if (from < n) ts(from).start else s.length,
      headEnd)
    val where =
      if (w < limIdx)
        s.substring(ts(w).end,
          if (limIdx < n) ts(limIdx).start else s.length).trim
      else null
    val limit = if (limIdx < n) ts(n - 1).text(s) else null
    (head, where, limit)
  }

  /** Tokenizer-first UPDATE (Parser.java:1106): UPDATE t SET assigns
    * [WHERE cond] [LIMIT n], with the WHERE/LIMIT binding depth-0 only. */
  private[sqlfront] object UpdateStmt {
    def unapply(st: Stmt): Option[(String, String, String, String)] = {
      val s = st.raw
      val ts = Lex.tokens(s)
      if (ts.length < 4 || !ts(0).is(s, "UPDATE")) return None
      val nameTok = ts(1)
      if (nameTok.kind != Lex.Word || s.charAt(nameTok.start) == '"') return None
      if (!ts(2).is(s, "SET")) return None
      val (sets, where, limit) = whereLimitTail(s, ts, 3)
      if (sets.trim.isEmpty) return None
      Some((nameTok.text(s), sets, where, limit))
    }
  }

  /** Tokenizer-first MERGE (Parser.java:1073 parseMerge): MERGE INTO t
    * [(cols)] [KEY(keys)] VALUES …|SELECT …|FROM …|(SELECT …). The source
    * capture keeps its leading keyword, as the regex this replaces did —
    * the dispatch arm switches on that prefix. */
  private[sqlfront] object MergeStmt {
    def unapply(st: Stmt): Option[(String, String, String, String)] = {
      val s = st.raw
      val ts = Lex.tokens(s)
      if (ts.length < 4 || !ts(0).is(s, "MERGE") || !ts(1).is(s, "INTO"))
        return None
      val nameTok = ts(2)
      if (nameTok.kind != Lex.Word || s.charAt(nameTok.start) == '"') return None
      var i = 3
      // flat paren group (old `\(([^)]*)\)` contract): None on nesting
      def flatGroup(): Option[String] = {
        var close = i + 1
        while (close < ts.length &&
          !(isSym(s, ts(close), ')') && ts(close).depth == ts(i).depth)) {
          if (isSym(s, ts(close), '(')) return None
          close += 1
        }
        if (close >= ts.length) return None
        val g = s.substring(ts(i).end, ts(close).start)
        i = close + 1
        Some(g)
      }
      var cols: String = null
      if (i < ts.length && isSym(s, ts(i), '(') &&
          !(i + 1 < ts.length && ts(i + 1).is(s, "SELECT"))) {
        cols = flatGroup().getOrElse(return None)
      }
      var keys: String = null
      if (i + 1 < ts.length && ts(i).is(s, "KEY") && isSym(s, ts(i + 1), '(')) {
        i += 1
        keys = flatGroup().getOrElse(return None)
      }
      if (i >= ts.length) return None
      val t = ts(i)
      val srcOk = t.is(s, "VALUES") || t.is(s, "SELECT") || t.is(s, "FROM") ||
        (isSym(s, t, '(') && i + 1 < ts.length && ts(i + 1).is(s, "SELECT"))
      if (!srcOk) return None
      Some((nameTok.text(s), cols, keys, s.substring(t.start)))
    }
  }

  /** Tokenizer-first DELETE (Parser.java:1163): DELETE FROM t
    * [WHERE cond] [LIMIT n], depth-0 clause binding. */
  private[sqlfront] object DeleteStmt {
    def unapply(st: Stmt): Option[(String, String, String)] = {
      val s = st.raw
      val ts = Lex.tokens(s)
      if (ts.length < 3 || !ts(0).is(s, "DELETE") || !ts(1).is(s, "FROM"))
        return None
      val nameTok = ts(2)
      if (nameTok.kind != Lex.Word || s.charAt(nameTok.start) == '"') return None
      val (head, where, limit) = whereLimitTail(s, ts, 3)
      if (head.trim.nonEmpty) return None // junk between table and clauses
      Some((nameTok.text(s), where, limit))
    }
  }
  // ANALYZE [TABLE t] [SAMPLE_SIZE n] (ddl/Analyze.java): selectivity
  // statistics — Catalyst keeps its own stats; accepted no-op
  private[sqlfront] val analyzeRe =
    P(Kw("ANALYZE"), OptG(Kw("TABLE"), SkipWord),
      OptG(Kw("SAMPLE_SIZE"), SkipNum), Eos)
  private[sqlfront] val explainAnalyzeRe = P(Kw("EXPLAIN", "ANALYZE"), Rest)
  private[sqlfront] val createViewRe =
    P(Kw("CREATE"), OptCap("OR", "REPLACE"), Opt("FORCE"), Kw("VIEW"),
      OptCap("IF", "NOT", "EXISTS"), Ident,
      OptG(Kw("COMMENT", "IS"), LitCap), OptG(Paren), Kw("AS"), Rest)
  private[sqlfront] val dropViewRe =
    P(Kw("DROP", "VIEW"), Opt("IF", "EXISTS"), Ident, Eos)
  // ALTER TABLE family (ddl/AlterTableAddColumn.java,
  // AlterTableAlterColumn.java, AlterTableRename.java,
  // AlterTableRenameColumn.java, AlterTableAddConstraint.java)
  private[sqlfront] val alterRenameTableRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("RENAME", "TO"), Ident, Opt("HIDDEN"), Eos)
  private[sqlfront] val alterAddConstraintRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("ADD", "CONSTRAINT"),
      Opt("IF", "NOT", "EXISTS"), Ident, RestNonEmpty)
  // multi-column ADD: `ADD (f3 int, f4 int)` / `ADD COLUMN(f5 int, f6 int)`
  // (AlterTableAddColumn.java list form)
  private[sqlfront] val alterAddMultiRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("ADD"), Opt("COLUMN"), Paren, Eos)
  private[sqlfront] val alterAddColRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("ADD"), Opt("COLUMN"),
      Opt("IF", "NOT", "EXISTS"), Ident, SpecBeforeAfter)
  private[sqlfront] val alterDropPkRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("DROP", "PRIMARY", "KEY"), Eos)
  private[sqlfront] val alterDropConstraintRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("DROP", "CONSTRAINT"),
      Opt("IF", "EXISTS"), Ident, Eos)
  private[sqlfront] val alterDropColRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("DROP"), Opt("COLUMN"),
      OptCap("IF", "EXISTS"), Ident, Eos)
  // ALTER/MODIFY [COLUMN] variants (AlterTableAlterColumnTest shapes:
  // `ALTER f1 TYPE long`, `MODIFY f1 long`, `MODIFY COLUMN f1 int NOT NULL`)
  private[sqlfront] val alterRenameColRe =
    P(Kw("ALTER", "TABLE"), Ident, AltKw(Seq("ALTER"), Seq("MODIFY")),
      Opt("COLUMN"), Ident, Kw("RENAME", "TO"), Ident, Eos)
  // MySQL `CHANGE [COLUMN] old new type` (Parser.java:5333-5345): a pure
  // rename — "new column type ignored. RENAME and MODIFY are a single
  // command in MySQL but two different commands in H2." The type must be
  // present (parseColumnForTable) but is deliberately not applied.
  private[sqlfront] val alterChangeColRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("CHANGE"), Opt("COLUMN"),
      Ident, Ident, RestNonEmpty)
  private[sqlfront] val alterColSetDefaultRe =
    P(Kw("ALTER", "TABLE"), Ident, AltKw(Seq("ALTER"), Seq("MODIFY")),
      Opt("COLUMN"), Ident, Kw("SET", "DEFAULT"), RestNonEmpty)
  private[sqlfront] val alterColDropDefaultRe =
    P(Kw("ALTER", "TABLE"), Ident, AltKw(Seq("ALTER"), Seq("MODIFY")),
      Opt("COLUMN"), Ident, Kw("DROP", "DEFAULT"), Eos)
  private[sqlfront] val alterColNullRe =
    P(Kw("ALTER", "TABLE"), Ident, AltKw(Seq("ALTER"), Seq("MODIFY")),
      Opt("COLUMN"), Ident,
      AltKw(Seq("SET", "NOT", "NULL"), Seq("SET", "NULL"),
        Seq("DROP", "NOT", "NULL")), Eos)
  private[sqlfront] val alterColTypeRe =
    P(Kw("ALTER", "TABLE"), Ident, AltKw(Seq("ALTER"), Seq("MODIFY")),
      Opt("COLUMN"), Ident,
      OptG(AltKw(Seq("SET", "DATA", "TYPE"), Seq("TYPE"))), RestTyped)
  private[sqlfront] val alterSetRefIntRe =
    P(Kw("ALTER", "TABLE"), Ident, Kw("SET", "REFERENTIAL_INTEGRITY"),
      AltCap("TRUE", "FALSE"), OptG(AltKw(Seq("CHECK"), Seq("NOCHECK"))), Eos)
  // CREATE/DROP INDEX (ddl/CreateIndex.java, ddl/DropIndex.java) — recorded
  // and surfaced via INFORMATION_SCHEMA.INDEXES; lookup acceleration is
  // subsumed by Spark's scan planning, and under SET BUCKETED_INDEXES 1
  // the index ALSO takes physical effect (Engine.bucket: co-located
  // bucketBy layout on the indexed key).
  private[sqlfront] val createIndexRe =
    P(Kw("CREATE"), OptCap("UNIQUE"), Opt("HASH"), Kw("INDEX"),
      OptCap("IF", "NOT", "EXISTS"), Ident, Kw("ON"), Ident, Paren, Eos)
  private[sqlfront] val dropIndexRe =
    P(Kw("DROP", "INDEX"), Opt("IF", "EXISTS"), Ident, Eos)
  // CSVWRITE('dir','sql') statement form (Function.java:353, Csv.java:123)
  private[sqlfront] val csvWriteRe =
    P(Opt("CALL"), Kw("CSVWRITE"), Pat.Sym('('), LitCapNonEmpty,
      Pat.Sym(','), LitCap, Pat.Sym(')'), Eos)
  // CREATE ALIAS name FOR "class.method" (ddl/CreateFunctionAlias.java —
  // the reference resolves the target by reflection; so do we).
  // DETERMINISTIC is accepted and advisory (Parser.java:4583); FORCE
  // records the alias even when resolution/compilation fails
  // (FunctionAlias.init(force) — the error then surfaces at first use).
  private[sqlfront] val createAliasRe =
    P(Kw("CREATE"), OptCap("FORCE"), Kw("ALIAS"), OptCap("IF", "NOT", "EXISTS"),
      Ident, Opt("DETERMINISTIC"), Kw("FOR"), Quoted, Eos)
  // CREATE ALIAS name AS $$ method source $$ (Parser.java:4584-4585 →
  // FunctionAlias.loadFromSource): the body is a Java method compiled
  // in-memory; '…' and $$…$$ string forms are interchangeable (StrCap)
  private[sqlfront] val createAliasSrcRe =
    P(Kw("CREATE"), OptCap("FORCE"), Kw("ALIAS"), OptCap("IF", "NOT", "EXISTS"),
      Ident, Opt("DETERMINISTIC"), Kw("AS"), StrCap, Eos)
  private[sqlfront] val dropAliasRe =
    P(Kw("DROP", "ALIAS"), Opt("IF", "EXISTS"), Ident, Eos)
  // CREATE [FORCE] AGGREGATE name FOR "class" (Parser.java:4450,
  // ddl/CreateAggregate.java + db/UserAggregate.java): FORCE skips the
  // eager class validation, exactly the reference's force flag. DROP
  // AGGREGATE accepts IF EXISTS before or after the name
  // (Parser.java:1301-1308 reads it in both positions).
  private[sqlfront] val createAggregateRe =
    P(Kw("CREATE"), OptCap("FORCE"), Kw("AGGREGATE"),
      OptCap("IF", "NOT", "EXISTS"), Ident, Kw("FOR"), Quoted, Eos)
  private[sqlfront] val dropAggregateRe =
    P(Kw("DROP", "AGGREGATE"), Opt("IF", "EXISTS"), Ident,
      Opt("IF", "EXISTS"), Eos)
  private[sqlfront] val createConstantRe =
    P(Kw("CREATE", "CONSTANT"), OptCap("IF", "NOT", "EXISTS"), Ident,
      Kw("VALUE"), Rest)
  private[sqlfront] val dropConstantRe =
    P(Kw("DROP", "CONSTANT"), Opt("IF", "EXISTS"), Ident, Eos)
  // DOMAIN/TYPE/DATATYPE are one statement family (UserDataTypeTest:
  // "CREATE DOMAIN/TYPE/DATATYPE都是一样的"); the optional CHECK constrains
  // every column of the domain, with VALUE as the placeholder column.
  private[sqlfront] val createDomainRe =
    P(Kw("CREATE"), AltKw(Seq("DOMAIN"), Seq("TYPE"), Seq("DATATYPE")),
      OptCap("IF", "NOT", "EXISTS"), Ident, Opt("AS"), DomainTail)
  private[sqlfront] val dropDomainRe =
    P(Kw("DROP"), AltKw(Seq("DOMAIN"), Seq("TYPE"), Seq("DATATYPE")),
      Opt("IF", "EXISTS"), Ident, Eos)
  // CREATE [FORCE] TRIGGER … [FOR EACH ROW] [QUEUE n] [NOWAIT]
  // [CALL "class"] (Parser.parseCreateTrigger; TriggerObjectTest shapes) —
  // the tail is captured for the reference's validation errors
  private[sqlfront] val createTriggerRe =
    P(Kw("CREATE"), Opt("FORCE"), Kw("TRIGGER"), OptCap("IF", "NOT", "EXISTS"),
      Ident, Peek("BEFORE", "AFTER", "INSTEAD"), CapUntil("ON"), Kw("ON"),
      Ident, Rest)
  private[sqlfront] val dropTriggerRe =
    P(Kw("DROP", "TRIGGER"), Opt("IF", "EXISTS"), Ident, Eos)
  // DROP ALL OBJECTS (ddl/DropDatabase.java), CREATE SCHEMA
  // (ddl/CreateSchema.java), GRANT/REVOKE (ddl/GrantRevoke.java — recorded
  // only; single-user batch engine enforces nothing)
  private[sqlfront] val dropAllRe =
    P(Kw("DROP", "ALL", "OBJECTS"), Eos)
  private[sqlfront] val createSchemaRe =
    P(Kw("CREATE", "SCHEMA"), OptCap("IF", "NOT", "EXISTS"), Ident,
      OptG(Kw("AUTHORIZATION"), Ident), Eos)
  private[sqlfront] val dropSchemaRe =
    P(Kw("DROP", "SCHEMA"), OptCap("IF", "EXISTS"), Ident, Eos)
  // ALTER SCHEMA … RENAME TO (SchemaTest): system schemas are immutable
  private[sqlfront] val alterSchemaRenameRe =
    P(Kw("ALTER", "SCHEMA"), Ident, Kw("RENAME", "TO"), Ident, Eos)
  // CREATE/ALTER/DROP USER (ddl/CreateUser.java, AlterUser.java,
  // DropUser.java — UserTest shapes): recorded; a single-user batch
  // engine authenticates nothing, so passwords are noted as set, not kept.
  // Parser.java:4548-4570: [COMMENT [IS] '…'] then exactly one of
  // PASSWORD '…' | SALT X'…' HASH X'…' | IDENTIFIED BY word, then [ADMIN]
  private[sqlfront] val createUserRe =
    P(Kw("CREATE", "USER"), OptCap("IF", "NOT", "EXISTS"), Ident,
      OptG(Kw("COMMENT"), Opt("IS"), LitCap),
      Kw("PASSWORD"), SkipLit, OptCap("ADMIN"), Eos)
  private[sqlfront] val createUserSaltRe =
    P(Kw("CREATE", "USER"), OptCap("IF", "NOT", "EXISTS"), Ident,
      OptG(Kw("COMMENT"), Opt("IS"), LitCap),
      Kw("SALT"), Opt("X"), SkipLit, Kw("HASH"), Opt("X"), SkipLit,
      OptCap("ADMIN"), Eos)
  private[sqlfront] val createUserIdentRe =
    P(Kw("CREATE", "USER"), OptCap("IF", "NOT", "EXISTS"), Ident,
      OptG(Kw("COMMENT"), Opt("IS"), LitCap),
      Kw("IDENTIFIED", "BY"), SkipWord, OptCap("ADMIN"), Eos)
  private[sqlfront] val alterUserRenameRe =
    P(Kw("ALTER", "USER"), Ident, Kw("RENAME", "TO"), Ident, Eos)
  private[sqlfront] val alterUserPasswordRe =
    P(Kw("ALTER", "USER"), Ident, Kw("SET", "PASSWORD"), SkipLit, Eos)
  // ALTER USER … SET SALT X'…' HASH X'…' (Parser.java:4835-4838) — the
  // hex literals lex as the word X + a string literal
  private[sqlfront] val alterUserSaltRe =
    P(Kw("ALTER", "USER"), Ident, Kw("SET", "SALT"), Opt("X"), SkipLit,
      Kw("HASH"), Opt("X"), SkipLit, Eos)
  private[sqlfront] val alterUserAdminRe =
    P(Kw("ALTER", "USER"), Ident, Kw("ADMIN"), AltCap("TRUE", "FALSE"), Eos)
  // DROP USER [IF EXISTS] name [CASCADE] (TransactionalDDLTest's CASCADE
  // drops the owned schemas with the user)
  private[sqlfront] val dropUserRe =
    P(Kw("DROP", "USER"), OptCap("IF", "EXISTS"), Ident, OptCap("CASCADE"), Eos)
  // ALTER INDEX name RENAME TO name2 (Parser.java:4737 AlterIndexRename)
  private[sqlfront] val alterIndexRenameRe =
    P(Kw("ALTER", "INDEX"), Ident, Kw("RENAME", "TO"), Ident, Eos)
  private[sqlfront] val grantRe =
    P(Kw("GRANT"), CapUntil("ON"), Kw("ON"), Ident, Kw("TO"), Ident, Eos)
  private[sqlfront] val revokeRe =
    P(Kw("REVOKE"), CapUntil("ON"), Kw("ON"), Ident, Kw("FROM"), Ident, Eos)
  // Roles + role grants (db/auth/Role.java, ddl/GrantRevoke.java; RoleTest/
  // RightTest)
  private[sqlfront] val createRoleRe =
    P(Kw("CREATE", "ROLE"), OptCap("IF", "NOT", "EXISTS"), Ident, Eos)
  private[sqlfront] val dropRoleRe =
    P(Kw("DROP", "ROLE"), OptCap("IF", "EXISTS"), Ident, Eos)
  // GRANT/REVOKE without ON: role grants, or object-less system rights
  // (GRANT ALTER ANY SCHEMA TO u — Right.java ALTER_ANY_SCHEMA)
  private[sqlfront] val grantRoleRe =
    P(Kw("GRANT"), CapUntil("TO"), Kw("TO"), Ident, Eos)
  private[sqlfront] val revokeRoleRe =
    P(Kw("REVOKE"), CapUntil("FROM"), Kw("FROM"), Ident, Eos)
  // COMMENT ON <type> <name> IS 'text'|NULL (ddl/SetComment.java,
  // CommentTest). Keyed by (TYPE, unqualified tail) — COLUMN keeps
  // table.column, everything else the bare object name.
  private[sqlfront] val commentRe =
    P(Kw("COMMENT", "ON"),
      AltCap("TABLE", "COLUMN", "ROLE", "USER", "VIEW", "INDEX", "SEQUENCE",
        "CONSTANT", "DOMAIN", "TRIGGER", "ALIAS", "SCHEMA"),
      DottedIdent, Kw("IS"), NullOrLit, Eos)
  /** Transitive closure of roles `grantee` possesses (Role.isRoleGranted
    * recursion) — tiny in-memory BFS over the grant edges. */
  private[sqlfront] def hasRole(grantee: String): Set[String] = {
    var acc = Set.empty[String]
    var frontier = Set(grantee)
    while (frontier.nonEmpty) {
      val next = catalog.roleGrants.collect {
        case (r, g) if frontier.contains(g) && !acc.contains(r) => r
      }.toSet
      acc ++= next; frontier = next
    }
    acc
  }

  /** Recorded COMMENT ON text for (type, name) — CommentTest's
    * findComment surface. Type is e.g. "ROLE"/"TABLE"; COLUMN names are
    * "table.column". */
  def commentText(typ: String, name: String): Option[String] =
    catalog.comments.get((typ.toUpperCase, name.toLowerCase))

  private[sqlfront] val explainRe = P(Kw("EXPLAIN"), Opt("PLAN", "FOR"), Rest)
  private[sqlfront] val setVarRe =
    P(Kw("SET"), Pat.Sym('@'), Ident, Pat.Sym('='), Rest)
  private[sqlfront] val scriptRe = P(Kw("SCRIPT"), Eos)
  // BACKUP TO 'file' (dml/Backup.java, BackupCommandTest): the engine
  // snapshots to a parquet directory instead of a zip — same contract
  // (full restorable copy), cluster-writable format
  private[sqlfront] val backupRe = P(Kw("BACKUP", "TO"), LitCapNonEmpty, Eos)
  // SHUTDOWN [IMMEDIATELY|COMPACT|DEFRAG] (admin ShutdownServerTest):
  // a library engine has no server process — accepted no-op
  private[sqlfront] val shutdownRe =
    P(Kw("SHUTDOWN"), OptG(AltKw(Seq("IMMEDIATELY"), Seq("COMPACT"),
      Seq("DEFRAG"), Seq("SCRIPT"))), Eos)
  private[sqlfront] val runScriptRe = P(Kw("RUNSCRIPT", "FROM"), LitCapNonEmpty, Eos)
  private[sqlfront] val prepareRe = P(Kw("PREPARE"), Ident, Kw("AS"), Rest)
  private[sqlfront] val executeRe = P(Kw("EXECUTE"), Ident, OptG(Paren), Eos)
  private[sqlfront] val deallocateRe =
    P(Kw("DEALLOCATE"), Opt("PREPARE"), Ident, Eos)
  private[sqlfront] val setModeRe = P(Kw("SET", "MODE"), Ident, Eos)
  // transaction statements (Parser.java:560-650)
  private[sqlfront] val beginRe =
    P(AltKw(Seq("BEGIN", "WORK"), Seq("BEGIN", "TRANSACTION"),
      Seq("START", "TRANSACTION"), Seq("BEGIN")), Eos)
  private[sqlfront] val commitRe =
    P(AltKw(Seq("COMMIT", "WORK"), Seq("COMMIT")), Eos)
  private[sqlfront] val rollbackToRe =
    P(Kw("ROLLBACK", "TO", "SAVEPOINT"), Ident, Eos)
  private[sqlfront] val rollbackRe =
    P(AltKw(Seq("ROLLBACK", "WORK"), Seq("ROLLBACK")), Eos)
  private[sqlfront] val savepointStmtRe = P(Kw("SAVEPOINT"), Ident, Eos)
  private[sqlfront] val releaseSavepointRe =
    P(Kw("RELEASE"), Opt("SAVEPOINT"), Ident, Eos)
  private[sqlfront] val setAutocommitRe =
    P(Kw("SET", "AUTOCOMMIT"),
      AltCap("ON", "OFF", "TRUE", "FALSE", "0", "1"), Eos)
  // database-level SET REFERENTIAL_INTEGRITY (dml/Set.java) — the standard
  // bulk-load toggle; the ALTER TABLE form additionally revalidates
  private[sqlfront] val setRefIntRe =
    P(Kw("SET", "REFERENTIAL_INTEGRITY"), AltCap("TRUE", "FALSE"), Eos)
  // generic SET option (dml/Set.java SetTypes): recorded + surfaced in the
  // SETTINGS meta view; execution semantics live in Spark session confs
  private[sqlfront] val setGenericRe = P(Kw("SET"), Ident, RestNonEmpty)
  // SHOW … (Parser.java:884 parseShow — MySQL/PostgreSQL compatibility
  // statements rewritten into INFORMATION_SCHEMA selects)
  private[sqlfront] val showRe = P(Kw("SHOW"), Rest)
  // HELP [word...] → SELECT over INFORMATION_SCHEMA.HELP with one
  // UPPER(TOPIC) LIKE filter per word (Parser.parseHelp:865-882)
  private[sqlfront] val helpRe = P(Kw("HELP"), Rest)
  // USE [=] schema → SET SCHEMA (Parser.parseUse:5063)
  private[sqlfront] val useRe = P(Kw("USE"), OptG(Pat.Sym('=')), Ident, Eos)
  // CHECKPOINT [SYNC] (TransactionStatement CHECKPOINT/CHECKPOINT_SYNC):
  // flushing a WAL has no Spark analogue — accepted no-op, same contract
  // as SHUTDOWN; durability here is Checkpoint.cut + the parquet sinks
  private[sqlfront] val checkpointStmtRe = P(Kw("CHECKPOINT"), Opt("SYNC"), Eos)
  // CALL expr (dml/Call.java): evaluate an expression/function as a
  // one-row result; the JDBC `?= CALL f(…)` out-parameter form strips to
  // the same statement
  private[sqlfront] val callRe =
    P(OptG(Pat.Sym('?'), Pat.Sym('=')), Kw("CALL"), Rest)
  private[sqlfront] val variables = mutable.HashMap.empty[String, String]
  private[sqlfront] val procedures = mutable.HashMap.empty[String, String]
}
