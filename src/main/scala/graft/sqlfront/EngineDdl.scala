package graft.sqlfront

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dml
import graft.plans.KeyLookup

/** The DDL/DML-helper face of [[Engine]] (mechanical split, see
  * [[EngineTranslate]]): column-def fragment clause scanners, constraint
  * bodies, column add/alter, H2 type parsing, VALUES-row parsing, and
  * insert alignment/validation. A driver-local batch (VALUES) is read
  * once, on the driver, through [[graft.plans.KeyLookup.localRows]]: its
  * unique-key checks and MERGE's last row per key read those rows. */
private[sqlfront] trait EngineDdl { this: Engine =>

  /** Token twin of the old masked `defOptRe` column-def fragment regex
    * (`^(\w+)\s+.*?\s+(?:DEFAULT|AS)\s+(.+?)(?:\s+NOT\s+NULL|\s+NULL|
    * \s+AUTO_INCREMENT|\s+UNIQUE)?\s*$`): Some((head, expr)) at the
    * EARLIEST DEFAULT|AS keyword with whitespace before it and at least
    * one token after it; `expr` runs to the end of the fragment with ONE
    * trailing column option stripped — NOT NULL first, then NULL /
    * AUTO_INCREMENT / UNIQUE — and only while at least one expr token
    * remains (the reluctant `(.+?)` floor). Literal safety is structural:
    * `DEFAULT 'x NOT NULL'` is one token, so nothing strips inside it.
    * `leadIdent` selects the column-def form (head = the leading bare
    * word; the keyword needs another token — or a ≥2-char gap — before
    * it, mirroring `(\w+)\s+.*?\s+`); otherwise the `^(.*?)\s+` type-
    * spec form (head = everything before the keyword). */
  private[sqlfront] def defaultClause(frag: String, leadIdent: Boolean)
      : Option[(String, String)] = {
    val ts = Lex.tokens(frag)
    if (ts.isEmpty) return None
    if (leadIdent &&
        !(ts(0).kind == Lex.Word && frag.charAt(ts(0).start) != '"'))
      return None
    var k = 1
    var hit = -1
    while (k < ts.length - 1 && hit < 0) {
      if ((ts(k).is(frag, "DEFAULT") || ts(k).is(frag, "AS")) &&
          ts(k).start > ts(k - 1).end &&
          (!leadIdent || k >= 2 || ts(k).start - ts(0).end >= 2))
        hit = k
      k += 1
    }
    if (hit < 0) return None
    var endTok = ts.length - 1
    def w(i: Int, s0: String) = ts(i).is(frag, s0)
    if (endTok >= hit + 3 && w(endTok - 1, "NOT") && w(endTok, "NULL"))
      endTok -= 2
    else if (endTok >= hit + 2 && (w(endTok, "NULL") ||
        w(endTok, "AUTO_INCREMENT") || w(endTok, "UNIQUE")))
      endTok -= 1
    val head =
      if (leadIdent) ts(0).text(frag)
      else frag.substring(0, ts(hit).start).trim
    Some((head, frag.substring(ts(hit + 1).start, ts(endTok).end)))
  }

  /** Token twin of the old masked `seqOptRe`
    * (`^(.*?)\s+SEQUENCE\s+(\w+)\s*$`): the fragment must END with
    * `SEQUENCE <bareword>`; Some((prefix, seqName)). */
  private[sqlfront] def seqClause(frag: String): Option[(String, String)] = {
    val ts = Lex.tokens(frag)
    if (ts.length < 3) return None
    val last = ts.length - 1
    if (ts(last - 1).is(frag, "SEQUENCE") && ts(last).kind == Lex.Word &&
        frag.charAt(ts(last).start) != '"' &&
        ts(last - 1).start > ts(last - 2).end)
      Some((frag.substring(0, ts(last - 1).start).trim, ts(last).text(frag)))
    else None
  }

  /** Literal-masked upper-cased view of a fragment, for keyword
    * `contains`/`startsWith` scans. */
  private[sqlfront] def maskedUpper(frag: String): String = Stmt(frag).masked.toUpperCase

  /** DROP TABLE tail: comma-separated table names with an optional final
    * CASCADE/RESTRICT keyword (Parser.java parseDropTable). Returns the
    * names (quotes stripped) and whether RESTRICT was requested — the
    * default is CASCADE (DropTable.java:40, dropRestrict=false). */
  private[sqlfront] def dropTableTail(tail: String): (Seq[String], Boolean) = {
    val ts = Lex.tokens(tail)
    val names = mutable.ArrayBuffer.empty[String]
    var restrict = false
    var i = 0
    def fail(): Nothing = throw new IllegalArgumentException(
      s"cannot parse DROP TABLE list: $tail")
    var done = false
    while (!done) {
      if (i >= ts.length || ts(i).kind != Lex.Word) fail()
      val w = ts(i).text(tail)
      names += (if (w.length >= 2 && w.head == '"' && w.last == '"')
        w.substring(1, w.length - 1) else w)
      i += 1
      if (i >= ts.length) done = true
      else if (ts(i).kind == Lex.Sym && tail.charAt(ts(i).start) == ',') i += 1
      else if (i == ts.length - 1 && ts(i).kind == Lex.Word) {
        val u = ts(i).text(tail).toUpperCase
        if (u == "CASCADE") done = true
        else if (u == "RESTRICT") { restrict = true; done = true }
        else fail()
        i += 1
      } else fail()
    }
    (names.toSeq, restrict)
  }

  /** Drop table or view `n` with everything it owns. Its bucketed
    * snapshot, if any, goes at the end of the statement (releaseUnheld). */
  private[sqlfront] def dropOneTable(n: String): Unit =
    catalog = catalog.withoutTable(n)

  /** Parsed CREATE/ALTER SEQUENCE option tail. `min`/`max`: outer None =
    * not mentioned, Some(None) = NOMINVALUE/NO MINVALUE (reset to the
    * derived default), Some(Some(v)) = explicit bound. */
  private[sqlfront] final case class SeqOpts(
      start: Option[Long] = None, inc: Option[Long] = None,
      min: Option[Option[Long]] = None, max: Option[Option[Long]] = None,
      cycle: Option[Boolean] = None, belongsToTable: Boolean = false)

  /** Order-free sequence option loop, the token twin of
    * Parser.java:4375-4422 (create) / 4780-4826 (alter): START [WITH] n /
    * RESTART WITH n / INCREMENT [BY] n / MINVALUE n / NOMINVALUE /
    * MAXVALUE n / NOMAXVALUE / CYCLE / NOCYCLE / NO {MINVALUE|MAXVALUE|
    * CYCLE|CACHE} / CACHE n / NOCACHE / BELONGS_TO_TABLE. An unknown word
    * fails loudly (the reference's loop break leads to a syntax error for
    * trailing junk too). */
  private[sqlfront] def parseSeqOptions(frag0: String): SeqOpts = {
    val c = new Lex.Cursor(frag0.trim)
    import c._
    var o = SeqOpts()
    def readLong(): Long = {
      val neg = has && ts(i).kind == Lex.Sym && src.charAt(ts(i).start) == '-'
      if (neg) i += 1
      require(has && ts(i).kind == Lex.Num, s"expected a number in sequence options at: $rest")
      // parse sign+digits together: Long.MinValue's magnitude overflows
      // a bare toLong, so -9223372036854775808 must round-trip via SCRIPT
      val v = java.lang.Long.parseLong(
        (if (neg) "-" else "") + ts(i).text(src))
      i += 1
      v
    }
    while (has) {
      if (readIf("START")) { readIf("WITH"); o = o.copy(start = Some(readLong())) }
      else if (readIf("RESTART")) {
        require(readIf("WITH"), "RESTART requires WITH (Parser.java:4787)")
        o = o.copy(start = Some(readLong()))
      }
      else if (readIf("INCREMENT")) { readIf("BY"); o = o.copy(inc = Some(readLong())) }
      else if (readIf("MINVALUE")) o = o.copy(min = Some(Some(readLong())))
      else if (readIf("NOMINVALUE")) o = o.copy(min = Some(None))
      else if (readIf("MAXVALUE")) o = o.copy(max = Some(Some(readLong())))
      else if (readIf("NOMAXVALUE")) o = o.copy(max = Some(None))
      else if (readIf("CYCLE")) o = o.copy(cycle = Some(true))
      else if (readIf("NOCYCLE")) o = o.copy(cycle = Some(false))
      else if (readIf("NO")) {
        if (readIf("MINVALUE")) o = o.copy(min = Some(None))
        else if (readIf("MAXVALUE")) o = o.copy(max = Some(None))
        else if (readIf("CYCLE")) o = o.copy(cycle = Some(false))
        else if (readIf("CACHE")) ()
        else throw new IllegalArgumentException(
          s"unknown sequence option NO $word (Parser.java:4400)")
      }
      else if (readIf("CACHE")) readLong() // accepted, ignored (flush margin)
      else if (readIf("NOCACHE")) ()
      else if (readIf("BELONGS_TO_TABLE")) o = o.copy(belongsToTable = true)
      else throw new IllegalArgumentException(s"unknown sequence option: $rest")
    }
    o
  }

  /** ALTER TABLE … ADD CONSTRAINT (ddl/AlterTableAddConstraint.java):
    * existing rows are validated before the constraint is recorded, the
    * same all-rows check the reference runs — here one distributed
    * anti-join/filter/groupBy rather than a per-row index probe. */
  /** ADD CONSTRAINT bodies (AlterTableAddConstraint.java +
    * AlterTableAlterColumnTest shapes): `COMMENT IS '…'` prefixes are
    * attributes and strip; `HASH` on PRIMARY KEY, `KEY INDEX name` on
    * UNIQUE, a trailing `INDEX name` on PRIMARY KEY, trailing
    * `CHECK`/`NOCHECK` (NOCHECK skips the existing-row validation), CHECK
    * without parentheses, INDEX[ name](cols) constraints, and FOREIGN KEY
    * REFERENCES without a table (self-reference) are all accepted. */
  private[sqlfront] def addConstraint(tn: String, cn: String, body0: String): Unit = {
    var body = body0.trim
    // strip COMMENT IS '…' (constraint attribute, recorded nowhere)
    body = """(?is)^COMMENT\s+IS\s+'[^']*'\s+""".r.replaceFirstIn(body, "")
    // trailing CHECK/NOCHECK validation toggle
    var validate = true
    val nocheck = """(?is)^(.*?)\s+(CHECK|NOCHECK)\s*$""".r
    body match {
      case nocheck(b, tog)
          // only when it's genuinely a trailing keyword, not CHECK(...)
          if !b.trim.toUpperCase.endsWith("CHECK") || tog.toUpperCase == "NOCHECK" =>
        if (tog.equalsIgnoreCase("NOCHECK")) validate = false
        body = b.trim
      case _ =>
    }
    val fkRe = """(?is)^FOREIGN\s+KEY\s*\(([^)]*)\)\s+REFERENCES\s*(\w+)?\s*(?:\(([^)]*)\))?\s*$""".r
    val ckParenRe = """(?is)^CHECK\s*(\(.*\))\s*$""".r
    val ckBareRe = """(?is)^CHECK\s+(.*)$""".r
    val uqRe = """(?is)^UNIQUE(?:\s+KEY)?(?:\s+INDEX\s+(\w+))?\s*\(([^)]*)\)\s*$""".r
    val pkRe = """(?is)^PRIMARY\s+KEY(?:\s+HASH)?\s*\(([^)]*)\)(?:\s+INDEX\s+(\w+))?\s*$""".r
    val ixRe = """(?is)^INDEX(?:\s+(\w+))?\s*\(([^)]*)\)\s*$""".r
    def keys(s: String) = s.split(",").map(_.trim.toLowerCase).toSeq
    body match {
      case fkRe(cols, ref0, refCols) =>
        val cCols = keys(cols)
        val ref = Option(ref0).getOrElse(tn) // REFERENCES(f2) = self-table
        val rCols = Option(refCols).map(keys)
          .orElse(catalog.tables.get(ref.toLowerCase).flatMap(_.primaryKey))
          .getOrElse(throw new IllegalArgumentException(
            s"no primary key on $ref to reference"))
        if (validate)
          require(noRows(Dml.fkViolations(table(tn), cCols, table(ref), rCols)),
            s"FK $cn violated by existing rows")
        catalog = catalog.copy(foreignKeys =
          catalog.foreignKeys :+ FkDef(cn, tn, cCols, ref.toLowerCase, rCols))
      case ckParenRe(e) =>
        if (validate)
          require(noRows(Dml.checkViolations(table(tn), sqlColumn(e))),
            s"CHECK $cn violated by existing rows")
        catalog = catalog.copy(checks = catalog.checks :+ CheckDef(cn, tn, e.trim))
      case ckBareRe(e) =>
        if (validate)
          require(noRows(Dml.checkViolations(table(tn), sqlColumn(e))),
            s"CHECK $cn violated by existing rows")
        catalog = catalog.copy(checks = catalog.checks :+ CheckDef(cn, tn, e.trim))
      case uqRe(ixName, cols) =>
        val ks = keys(cols)
        if (validate)
          require(noRows(Dml.duplicateKeys(nonNullKeyed(table(tn), ks), ks)),
            s"UNIQUE $cn violated by existing rows")
        putIndex(IndexDef(Option(ixName).map(_.toLowerCase).getOrElse(cn), tn, ks,
          unique = true))
      case pkRe(cols, ixName) =>
        val ks = keys(cols)
        if (validate)
          require(noRows(Dml.duplicateKeys(table(tn), ks)),
            s"PRIMARY KEY $cn violated by existing rows")
        edit(tn)(_.copy(primaryKey = Some(ks)))
        Option(ixName).foreach(ix => putIndex(IndexDef(ix.toLowerCase, tn, ks, unique = true)))
      case ixRe(ixName, cols) =>
        // an INDEX "constraint" is just a secondary index (no-op execution)
        val n = Option(ixName).map(_.toLowerCase).getOrElse(cn)
        putIndex(IndexDef(n, tn, keys(cols), unique = false))
      case other => throw new IllegalArgumentException(
        s"unsupported constraint: $other")
    }
  }

  /** ADD COLUMN with the reference's option surface
    * (AlterTableAddColumn.java): DEFAULT expr fills existing rows (H2
    * semantics) and is recorded for inserts; `SEQUENCE s` makes the column
    * sequence-backed (existing rows stay NULL, inserts fill per-row);
    * IDENTITY/AUTO_INCREMENT backfills existing rows with sequence values
    * (the reference rebuilds the table row-by-row) and registers the
    * identity fill for inserts; BEFORE/AFTER position the column.
    * IF NOT EXISTS = no-op when present. */
  private[sqlfront] def addColumn(tn0: String, cName0: String, typeSpec0: String,
      before: Option[String], after: Option[String]): Unit = {
    val tn = tn0.toLowerCase
    val cName = cName0.toLowerCase
    val e0 = entry(tn)
    val t = e0.frame
    if (t.columns.contains(cName)) return // IF NOT EXISTS semantics
    var typeSpec = typeSpec0.trim
    var default: Option[String] = None
    // token scans: keywords inside a DEFAULT string literal are data
    seqClause(typeSpec) match {
      case Some((pre, seqName)) =>
        typeSpec = pre; default = Some(s"NEXTVAL('${seqName.toLowerCase}')")
      case None => defaultClause(typeSpec, leadIdent = false) match {
        case Some((pre, dflt)) => typeSpec = pre; default = Some(dflt.trim)
        case None =>
      }
    }
    val up = maskedUpper(typeSpec)
    val isIdentity = up.contains("IDENTITY") || up.contains("AUTO_INCREMENT")
    val newCol = default.filter(!_.toUpperCase.startsWith("NEXTVAL"))
      .map(d => sqlColumn(substConstants(d, Seq(tn))))
      .getOrElse(lit(null))
      .cast(parseType(typeSpec)).as(cName)
    val cols = t.columns.map(col).toSeq
    val out = (before, after) match {
      case (Some(b), _) =>
        val i = t.columns.indexWhere(_.equalsIgnoreCase(b))
        require(i >= 0, s"BEFORE column $b not found")
        t.select((cols.take(i) :+ newCol) ++ cols.drop(i): _*)
      case (_, Some(a)) =>
        val i = t.columns.indexWhere(_.equalsIgnoreCase(a))
        require(i >= 0, s"AFTER column $a not found")
        t.select((cols.take(i + 1) :+ newCol) ++ cols.drop(i + 1): _*)
      case _ => t.select(cols :+ newCol: _*)
    }
    val e = e0.copy(defaults = default.fold(e0.defaults)(e0.defaults.updated(cName, _)))
    if (isIdentity) {
      // the reference's ADD COLUMN rebuilds the table row-by-row, so an
      // identity column backfills existing rows with sequence values
      // (AlterTableAlterColumn.java copyData; OnlineDDLTest reads f4=1,2)
      val (filled, n) = Dml.assignContiguous(out, cName, e.identityNext)
      install(tn, e.copy(frame = filled, identity = Some(cName),
        identityNext = e.identityNext + n))
    } else install(tn, e.copy(frame = out))
  }

  /** BACKUP-style snapshot (dml/Backup.java): every table to parquet. */
  def backup(dir: String): Unit =
    catalog.tables.foreach { case (name, e) =>
      e.frame.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }

  // ---- helpers ----

  /** UNIQUE-index NULL semantics (Mode.java:88-99): with both unique-null
    * flags off — as in every reference mode — rows with NULL in any indexed
    * column never conflict, so uniqueness validation only considers fully
    * non-NULL key tuples. PRIMARY KEY validation keeps the strict form. */
  private[sqlfront] def nonNullKeyed(df: DataFrame, ks: Seq[String]): DataFrame =
    df.filter(ks.map(k => col(k).isNotNull).reduce(_ && _))

  /** Column-definition list of CREATE TABLE. Also accepts inline
    * `[UNIQUE] KEY|INDEX name(cols)` entries when the compatibility mode
    * enables them (Mode.java indexDefinitionInCreateTable — REGULAR and
    * MySQL do, PostgreSQL doesn't), returned as (name, cols, unique). */
  private[sqlfront] def parseColumnDefs(defs: String)
      : (StructType, Seq[String], Seq[(String, Seq[String], Boolean)],
         Seq[(Option[String], String)]) = {
    val pks = mutable.ArrayBuffer.empty[String]
    val inlineIdx = mutable.ArrayBuffer.empty[(String, Seq[String], Boolean)]
    // inline TABLE constraints (Parser.java parseCreateTable →
    // parseTableConstraintIf: SqlScript.java:73-76/94-99 are live fixtures
    // — `FOREIGN KEY(c) REFERENCES t(c)` between column defs): collected
    // as (optional name, addConstraint-shaped body) and applied by the
    // CREATE TABLE dispatch through the SAME machinery as ALTER TABLE ADD
    // CONSTRAINT. Before this they silently parsed as a COLUMN named
    // "foreign"/"constraint" (found by the r9 SqlScript mini-census).
    val inlineCons = mutable.ArrayBuffer.empty[(Option[String], String)]
    val inlineIdxRe =
      """(?is)^(UNIQUE\s+)?(?:KEY|INDEX)\s+(\w+)\s*\(([^)]*)\)$""".r
    val consNameRe = """(?is)^CONSTRAINT\s+(\w+)\s+(.*)$""".r
    val fields = splitTop(defs).flatMap { d0 =>
      val d = d0.trim
      val up = maskedUpper(d) // literal-blind keyword scan
      if (up.startsWith("PRIMARY KEY")) {
        pks ++= d.substring(d.indexOf('(') + 1, d.lastIndexOf(')'))
          .split(",").map(_.trim.toLowerCase)
        None
      } else if (up.startsWith("FOREIGN KEY") ||
          up.startsWith("UNIQUE(") || up.startsWith("UNIQUE (") ||
          // trailing space/paren required: a COLUMN named checksum/checked
          // must not read as a CHECK constraint
          up.startsWith("CHECK(") || up.startsWith("CHECK ")) {
        inlineCons += ((None, d)); None
      } else if (up.startsWith("CONSTRAINT ")) {
        d match {
          case consNameRe(nm, body) => inlineCons += ((Some(nm.toLowerCase), body))
          case _ => throw new IllegalArgumentException(
            s"malformed inline constraint: $d")
        }
        None
      } else d match {
        case inlineIdxRe(unique, ixName, cols)
            if modeFlags.indexDefinitionInCreateTable =>
          inlineIdx += ((ixName.toLowerCase,
            cols.split(",").map(_.trim.toLowerCase).toSeq, unique != null))
          None
        case _ =>
          val parts = d.split("\\s+", 2)
          val name = parts(0).toLowerCase
          val rest = if (parts.length > 1) parts(1) else "STRING"
          if (maskedUpper(rest).contains("PRIMARY KEY")) pks += name
          Some(StructField(name, parseType(rest), nullable = true))
      }
    }
    (StructType(fields), pks.toSeq, inlineIdx.toSeq, inlineCons.toSeq)
  }

  /** The type identifier a column type starts with, lowercase: a domain
    * name such as `pos2`, or a built-in type's name. */
  private[sqlfront] def typeName(t: String): String =
    t.trim.takeWhile(c => c.isLetterOrDigit || c == '_').toLowerCase

  /** The Spark type of a column type: a domain's base type, else the
    * built-in type its whole identifier names (`INT8`, `FLOAT8`), else the
    * one its letters before the first digit name (`INT4`, `VARCHAR2`),
    * else VARCHAR. */
  private[sqlfront] def parseType(t0: String): DataType = {
    // user-defined domain resolves to its base type (CreateUserDataType)
    catalog.domains.get(typeName(t0)).foreach(d => return parseType(d.baseType))
    val t = t0.trim.toUpperCase
    def builtin(name: String): Option[DataType] = Option(name match {
      case "INT" | "INTEGER" | "MEDIUMINT" | "SERIAL" => IntegerType
      case "BIGINT" | "INT8" | "LONG" | "IDENTITY" | "BIGSERIAL" => LongType
      case "SMALLINT" => ShortType
      case "TINYINT" => ByteType
      case "DOUBLE" | "FLOAT8" => DoubleType
      case "REAL" | "FLOAT" => FloatType
      case "DECIMAL" | "NUMERIC" | "NUMBER" =>
        val args = """\((\d+)\s*(?:,\s*(\d+))?\)""".r.findFirstMatchIn(t)
        args.map(m => DecimalType(m.group(1).toInt,
          Option(m.group(2)).map(_.toInt).getOrElse(0)))
          .getOrElse(DecimalType(38, 18))
      case "BOOLEAN" | "BOOL" | "BIT" => BooleanType
      case "DATE" => DateType
      // ANSI TIME (Value.java:93): Spark 4.1 TimeType, micros precision —
      // ValueTime keeps sub-second nanos, so the widest Spark precision.
      // catalogString emits TIME(6), which re-parses here (RUNSCRIPT).
      case "TIME" => TimeType(6)
      case "TIMESTAMP" | "DATETIME" => TimestampType
      case "BINARY" | "VARBINARY" | "BLOB" | "BYTEA" => BinaryType
      case _ => null
    })
    builtin(typeName(t0).toUpperCase)
      .orElse(builtin(t.takeWhile(c => c.isLetter || c == '_')))
      .getOrElse(StringType) // VARCHAR/CHAR/CLOB/TEXT/UUID/…
  }

  /** Like [[splitTop]] but also treats `[…]` as nesting (ARRAY literals). */
  private[sqlfront] def splitTopBrackets(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    var inStr = false
    s.foreach {
      case '\'' => inStr = !inStr; sb += '\''
      case c @ ('(' | '[') if !inStr => depth += 1; sb += c
      case c @ (')' | ']') if !inStr => depth -= 1; sb += c
      case ',' if !inStr && depth == 0 =>
        out += sb.toString; sb.clear()
      case c => sb += c
    }
    if (sb.nonEmpty) out += sb.toString
    out.toSeq
  }

  /** Split on top-level commas (ignoring parens and quoted strings) —
    * tokenizer-backed ([[Lex.splitTop]]), byte-compatible with the old
    * char loop. */
  private[sqlfront] def splitTop(s: String): Seq[String] = Lex.splitTop(s)

  private[sqlfront] def topLevelIndexOf(s: String, kw: String): Int =
    earliestTopLevel(s, Seq(kw))

  /** Tokenizer-backed ([[Lex.earliestTopLevel]]): depth-0 keyword search
    * that can neither bind inside string literals nor inside double-quoted
    * identifiers, and matches multi-word clauses across any whitespace. */
  private[sqlfront] def earliestTopLevel(s: String, kws: Seq[String]): Int =
    Lex.earliestTopLevel(s, kws)

  /** MySQL-mode zero-date typed literals → typed NULL (see translate). */
  private[sqlfront] def rewriteZeroDates(q0: String): String = {
    // '0000-00-00[ T]00:00:00[.0+]' — the zero-timestamp literal shapes
    def zeroTs(inner: String): Boolean = {
      if (!inner.startsWith("0000-00-00") || inner.length < 19) return false
      val sep = inner.charAt(10)
      if (sep != ' ' && sep != 'T') return false
      if (inner.substring(11, 19) != "00:00:00") return false
      val frac = inner.substring(19)
      frac.isEmpty ||
        (frac.length >= 2 && frac.charAt(0) == '.' && frac.drop(1).forall(_ == '0'))
    }
    var q = Rw.rewrite(q0, Rw.Kw("DATE"), Rw.Lit(_ == "0000-00-00"))(_ =>
      "CAST(NULL AS DATE)")
    q = Rw.rewrite(q, Rw.Kw("TIMESTAMP"), Rw.Lit(zeroTs))(_ =>
      "CAST(NULL AS TIMESTAMP)")
    q
  }

  /** VALUES tuples → a driver-local DataFrame (a LocalRelation), evaluated
    * once. Spark's inline table folds literal tuples into a LocalRelation
    * at analysis, with no job. What it cannot fold there — a subquery, a
    * UDF such as RANDOM_UUID(), tuples only UNION's string promotion
    * unifies, or CURRENT_TIMESTAMP, which it folds only at optimization —
    * is evaluated here with one collect, so the statement writes the
    * values of its own run and later reads never re-evaluate them. Column
    * types are those of the `SELECT … UNION ALL SELECT …` form wherever
    * the inline table resolves; the target's cast follows either way. */
  private[sqlfront] def parseValueRows(tableName: String, tuples0: String,
      insertCols: Option[Seq[String]] = None): DataFrame = {
    val t = table(tableName)
    val posCols: Seq[String] = insertCols.getOrElse(t.columns.toSeq)
    val defaults = entry(tableName).defaults
    val rows = splitTop(tuples0.trim).map(_.trim).filter(_.nonEmpty).map { tup =>
      require(tup.startsWith("(") && tup.endsWith(")"), s"bad VALUES tuple: $tup")
      splitTop(tup.substring(1, tup.length - 1)).zipWithIndex.map { case (v0, i) =>
        val v = v0.trim
        // DEFAULT keyword → the column default (Column.java default
        // expression) or NULL; NEXTVAL defaults evaluate right here, once
        // per row (substSequences runs per value occurrence)
        val resolved =
          if (v.equalsIgnoreCase("DEFAULT"))
            defaults.getOrElse(posCols.lift(i).getOrElse(""), "NULL")
          else v
        val z = if (modeFlags.zeroDateToNull) rewriteZeroDates(resolved)
          else resolved
        substSequences(substConstants(z, Seq(tableName.toLowerCase)))
      }
    }
    val inline =
      try Some(sqlFrame(rows.map(_.mkString("(", ", ", ")"))
        .mkString("SELECT * FROM VALUES ", ", ", "")))
      catch { case scala.util.control.NonFatal(_) => None }
    inline.filter(_.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation]))
      .getOrElse {
        val df = inline.getOrElse(sqlFrame(
          rows.map(vs => s"SELECT ${vs.mkString(", ")}").mkString(" UNION ALL ")))
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      }
  }

  /** The key tuple of columns `ks` of a row of `schema`, with the
    * equality Spark groups by: binary keys by content, -0.0 equal to 0.0
    * and every NaN equal to every other; null for a NULL column. */
  private def keyOf(schema: StructType, ks: Seq[String]): InternalRow => Seq[Any] = {
    val cols = ks.map { k => val i = schema.fieldIndex(k); (i, schema(i).dataType) }
    r => cols.map { case (i, dt) => r.get(i, dt) match {
      case b: Array[Byte] => b.toSeq
      case d: Double => if (d.isNaN) NaNKey else if (d == 0.0) 0.0 else d
      case f: Float => if (f.isNaN) NaNKey else if (f == 0.0f) 0.0f else f
      case v => v
    }}
  }
  private case object NaNKey

  /** [[Dml.lastPerKey]] on the driver, for a driver-local frame
    * ([[KeyLookup.localRows]]): the last row per key in row order, with
    * every NULL-keyed row kept, as a frame over a driver-local relation.
    * None when `df` is not driver-local. */
  private[sqlfront] def lastPerKeyLocal(df: DataFrame,
      keys: Seq[String]): Option[DataFrame] =
    KeyLookup.localRows(df).map { rows =>
      val key = keyOf(df.schema, keys)
      val last = rows.indices.map(i => key(rows(i)) -> i).toMap
      KeyLookup.localFrame(df, rows.indices.collect {
        case i if key(rows(i)).contains(null) || last(key(rows(i))) == i => rows(i)
      })
    }

  /** Whether a violations frame holds no row: one the optimizer folds to
    * a LocalRelation without a job, any other in one job that stops
    * reading each partition at its first row. (`Dataset.isEmpty` reads one
    * partition first, then the rest in further jobs.) */
  private[sqlfront] def noRows(violations: DataFrame): Boolean = {
    val qe = violations.queryExecution
    qe.optimizedPlan match {
      case r: LocalRelation => r.data.isEmpty
      case _ => !SQLExecution.withNewExecutionId(qe, Some("noRows")) {
        qe.toRdd.mapPartitions(it => Iterator.single(it.hasNext)).collect()
      }.contains(true)
    }
  }

  /** Positional align + cast to the target schema (SelectUnion.java:113
    * positional discipline); named-column inserts fill missing cols with
    * their recorded DEFAULT expression (Column.java) or NULL. Sequence
    * defaults stay NULL here and fill per-row afterwards. */
  private[sqlfront] def alignTo(tn: String, target: DataFrame, cols: Option[Seq[String]],
      src: DataFrame): DataFrame = {
    val defaults = entry(tn).defaults
    cols match {
      case None =>
        require(src.columns.length == target.columns.length,
          s"column count mismatch: ${src.columns.length} vs ${target.columns.length}")
        src.toDF(target.columns.toSeq: _*)
          .select(target.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
      case Some(names) =>
        val lower = names.map(_.toLowerCase)
        require(src.columns.length == lower.length, "column count mismatch")
        val renamed = src.toDF(lower: _*)
        renamed.select(target.schema.fields.map { f =>
          if (lower.contains(f.name.toLowerCase))
            col(f.name.toLowerCase).cast(f.dataType).as(f.name)
          else defaults.get(f.name)
            .filter(!_.toUpperCase.startsWith("NEXTVAL"))
            .map(d => sqlColumn(substConstants(d, Seq(tn.toLowerCase)))
              .cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }.toSeq: _*)
    }
  }

  /** Fill the IDENTITY column where the insert left it NULL: contiguous
    * engine-assigned ids via per-partition offsets (Dml.assignContiguous)
    * — parallel, no single-partition window, and the same one-pass size
    * job doubles as the counter advance (no extra count() action). */
  /** Align a write batch to the table, transparently handling the hidden
    * _rowid_ column: positional sources align against the DECLARED columns
    * (then take a NULL _rowid_ to fill); named lists align against the full
    * frame and may set _rowid_ explicitly (PseudoColumnTest2). */
  private[sqlfront] def alignForWrite(tn: String, colsSeq: Option[Seq[String]],
      src: DataFrame): DataFrame = {
    val t = table(tn)
    val hidden = entry(tn).hiddenRowid
    val tAlign = if (hidden && colsSeq.isEmpty) t.drop("_rowid_") else t
    val a = alignTo(tn, tAlign, colsSeq, src)
    if (hidden && colsSeq.isEmpty) a.withColumn("_rowid_", lit(null).cast("long"))
    else a
  }

  /** Assign hidden _rowid_ values: explicit (named-list) values keep, NULL
    * rows take engine-contiguous ids from the per-table counter, and the
    * counter advances past any explicit maximum — PseudoColumnTest2's
    * "manual 2, next auto row gets 3" contract. */
  private[sqlfront] def fillRowid(tn: String, df: DataFrame,
      mayHaveExplicit: Boolean): DataFrame = {
    val start = entry(tn).rowidNext
    if (!mayHaveExplicit) {
      val (filled, n) = Dml.assignContiguous(df, "_rowid_", start)
      edit(tn)(_.copy(rowidNext = start + n))
      filled
    } else {
      val explicit = df.filter(col("_rowid_").isNotNull)
      val (filled, n) =
        Dml.assignContiguous(df.filter(col("_rowid_").isNull), "_rowid_", start)
      var next = start + n
      val mx = explicit.agg(max(col("_rowid_"))).head()
      if (!mx.isNullAt(0)) next = math.max(next, mx.getLong(0) + 1L)
      edit(tn)(_.copy(rowidNext = next))
      explicit.union(filled)
    }
  }

  private[sqlfront] def fillIdentity(tn: String, df: DataFrame): DataFrame =
    entry(tn).identity match {
      case Some(idCol) =>
        val start = entry(tn).identityNext
        val (filled, n) = Dml.assignContiguous(df, idCol, start)
        edit(tn)(_.copy(identityNext = start + n))
        if (n > 0) lastIdentity = Some(start + n - 1)
        filled
      case None => df
    }

  /** Per-row fill for sequence-backed columns (`c int SEQUENCE s` —
    * Column.java sequence default): rows whose column is NULL take
    * consecutive values from the engine sequence via the same
    * per-partition-offset pattern as IDENTITY. Only runs for columns the
    * insert OMITTED (H2 evaluates defaults only for omitted columns — an
    * explicit NULL stays NULL and the sequence does not advance). Supports
    * the INCREMENT BY 1 contract the reference tests use. */
  private[sqlfront] def fillSequenceDefaults(tn: String, df0: DataFrame,
      specified: Option[Set[String]]): DataFrame = {
    var df = df0
    val seqRef = """(?i)^NEXTVAL\s*\(\s*'(\w+)'\s*\)$""".r
    entry(tn).defaults.foreach { case (c, d) =>
      val omitted = specified.exists(s => !s.contains(c))
      if (omitted) seqRef.findFirstMatchIn(d.trim).foreach { m =>
        catalog.sequences.get(m.group(1).toLowerCase).foreach { sq =>
          val start = sq.next // peek; advance only by what the batch used
          val (filled, n) = Dml.assignContiguous(df, c, start)
          if (n > 0) {
            putSequence(m.group(1), sq.advanced(n))
            lastSeqVal = Some(start + (n - 1) * sq.inc)
          }
          df = filled
        }
      }
    }
    df
  }

  /** MySQL-mode convertInsertNullToZero (Mode.java:42): NULL inserted into
    * a NOT NULL column becomes 0 / '' / the current timestamp instead of
    * erroring. The engine-filled IDENTITY column is exempt. */
  private[sqlfront] def convertNullToZero(tn: String, t: DataFrame, df: DataFrame): DataFrame = {
    val e = entry(tn)
    if (e.notNull.isEmpty) df
    else df.select(t.schema.fields.toSeq.map { f =>
      if (!e.notNull(f.name) || e.identity.contains(f.name)) col(f.name)
      else {
        val zero: Column = f.dataType match {
          case StringType => lit("")
          case TimestampType => current_timestamp()
          case DateType => current_date()
          case _: TimeType => sqlColumn("CAST('00:00:00' AS TIME)")
          case BooleanType => lit(false)
          case _ => lit(0).cast(f.dataType)
        }
        coalesce(col(f.name), zero).as(f.name)
      }
    }: _*)
  }

  private[sqlfront] def doInsert(name: String, cols: Option[String], src: DataFrame): Unit = {
    val t = table(name)
    val tn = name.toLowerCase
    val colsSeq = cols.map(c => splitTop(c).map(_.trim))
    val aligned0 = alignForWrite(tn, colsSeq, src)
    val specified = cols.map(c => splitTop(c).map(_.trim.toLowerCase).toSet)
    var aligned = fillSequenceDefaults(tn, fillIdentity(tn, aligned0), specified)
    if (entry(tn).hiddenRowid) aligned = fillRowid(tn, aligned,
      colsSeq.exists(_.exists(_.equalsIgnoreCase("_rowid_"))))
    if (modeFlags.convertInsertNullToZero)
      aligned = convertNullToZero(tn, t, aligned)
    // row hooks fire around the statement (Insert.java:130,157-161,178);
    // an INSTEAD OF trigger replaces the insert (fireBeforeRow done=true)
    if (fireTriggers(tn, "INSERT", "BEFORE", t.limit(0), aligned)) return
    // a driver-local batch (VALUES) is evaluated here, once; every reader
    // below reads its rows
    val batch = KeyLookup.localRows(aligned).fold(aligned)(KeyLookup.localFrame(aligned, _))
    validateConstraints(tn, batch)
    commitDml(name, keyedVersion(name, identity, Some(batch)).getOrElse(t.union(batch)))
    fireTriggers(tn, "INSERT", "AFTER", t.limit(0), batch)
  }

  /** MySQL `INSERT … ON DUPLICATE KEY UPDATE` (Mode.java
    * onDuplicateKeyUpdate): rows whose key already exists apply the SET
    * list to the existing row; the rest insert. `VALUES(c)` in a SET
    * expression refers to the value the row would have inserted, exactly
    * MySQL's semantics. The key is the PRIMARY KEY, else the first unique
    * index. Executes as one left join (update side) plus one anti join
    * (insert side) on the key — both shuffle-bounded, no driver loop. */
  private[sqlfront] def doUpsert(name: String, cols: Option[String], src0: DataFrame,
      sets: String): Unit = {
    val t = table(name)
    val tn = name.toLowerCase
    val key = entry(tn).primaryKey
      .orElse(catalog.indexes.values.find(ix => ix.unique && ix.table == tn).map(_.cols))
      .getOrElse(throw new IllegalArgumentException(
        s"ON DUPLICATE KEY UPDATE needs a PRIMARY KEY or unique index on $name"))
    val src1a = fillIdentity(tn,
      alignForWrite(tn, cols.map(c => splitTop(c).map(_.trim)), src0))
    val src1 = if (entry(tn).hiddenRowid)
      fillRowid(tn, src1a, cols.exists(
        splitTop(_).exists(_.trim.equalsIgnoreCase("_rowid_"))))
    else src1a
    // MySQL applies duplicate source keys sequentially; a join applies them
    // simultaneously and would emit one target row per duplicate — keep the
    // LAST source row per key (the net effect for assignment-style SETs);
    // NULL keys never conflict. Shared idiom: Dml.lastPerKey.
    val src = lastPerKeyLocal(src1, key)
      .getOrElse(Dml.lastPerKey(src1, key, exemptNullKeys = true))
    val setPairs = splitTop(sets).map { s =>
      val Array(c, v) = s.split("=", 2)
      // VALUES(col) → the source row's value (MySQL VALUES() function)
      val rewritten = Rw.rewrite(v.trim, Rw.Kw("VALUES"), Rw.Sy('('),
        Rw.AnyW, Rw.Sy(')'))(c => s"__src_${c(0).toLowerCase}")
      c.trim.toLowerCase -> rewritten
    }.toMap
    val srcR = src.select(src.columns.toSeq.map(c => col(c).as(s"__src_$c")) :+
      lit(true).as("__src_match"): _*)
    val keyCond = key.map(k => col(k) === col(s"__src_$k")).reduce(_ && _)
    val updatedFlagged = t.join(srcR, keyCond, "left")
      .select(t.schema.fields.toSeq.map { f =>
        setPairs.get(f.name) match {
          case Some(e) => when(col("__src_match"),
              sqlColumn(substSequences(substConstants(e, Seq(tn)))).cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      } :+ coalesce(col("__src_match"), lit(false)).as("__src_match"): _*)
    val updated = updatedFlagged.drop("__src_match")
    val insCond = key.map(k => col(s"__s.$k") === col(s"__t.$k")).reduce(_ && _)
    val inserted = src.alias("__s").join(t.alias("__t"), insCond, "left_anti")
      .select(t.columns.toSeq.map(col): _*)
    val batch = if (modeFlags.convertInsertNullToZero)
      convertNullToZero(tn, t, inserted) else inserted
    // FK/CHECK on both arms; uniqueness ONLY over the post-upsert table
    // (validateUniqueWithin). Probing the insert arm against the
    // PRE-update table would falsely reject the MySQL-legal case where the
    // UPDATE arm frees a unique value the insert arm reuses.
    validateRowConstraints(tn, batch)
    val modified = updatedFlagged.filter(col("__src_match")).drop("__src_match")
    validateRowConstraints(tn, modified)
    val finalTable = updated.union(batch)
    validateUniqueWithin(tn, finalTable)
    // row hooks (Insert.java/Update.java fire sites — the reference fires
    // them from MERGE/upsert too); a delta is built only when a bound
    // trigger reads it
    lazy val oldMatched = t.alias("__t2").join(srcR, keyCond, "left_semi")
    if (fireTriggers(tn, "UPDATE", "BEFORE", oldMatched, modified) |
        fireTriggers(tn, "INSERT", "BEFORE", t.limit(0), batch)) return
    commitDml(name, finalTable)
    fireTriggers(tn, "UPDATE", "AFTER", oldMatched, modified)
    fireTriggers(tn, "INSERT", "AFTER", t.limit(0), batch)
  }

  /** Batch twin of the reference's per-row constraint checks on INSERT
    * (ConstraintReferential.checkRow, ConstraintCheck.checkRow): validate
    * only the incoming batch — an anti join / filter per declared
    * constraint, not a full-table rescan. */
  private[sqlfront] def validateConstraints(tn: String, batch: DataFrame): Unit = {
    validateRowConstraints(tn, batch)
    // Unique enforcement on insert (PK + unique indexes — the per-batch
    // twin of the reference's per-row unique-index probe,
    // GlobalUniqueIndex.java:33). NULL-keyed rows never conflict
    // (Mode.java:88-99 default). A driver-local batch (VALUES) finds its
    // internal duplicates on the driver and probes the table for its keys
    // in one single-pass job; any other batch groups its keys and semi
    // joins them against the table's.
    lazy val local = KeyLookup.localRows(batch)
    uniqueKeySets(tn).foreach { ks =>
      if (ks.forall(batch.columns.contains)) {
        val within =
          s"unique key (${ks.mkString(",")}) violated within insert batch on $tn"
        val exists =
          s"unique key (${ks.mkString(",")}) violated: key already exists in $tn"
        local match {
          case Some(rows) =>
            val key = keyOf(batch.schema, ks)
            val keyed = rows.filterNot(key(_).contains(null))
            require(keyed.map(key).distinct.length == keyed.length, within)
            require(keyed.isEmpty ||
              noRows(table(tn).filter(keyIn(batch.schema, ks, keyed))), exists)
          case None =>
            val b = nonNullKeyed(batch, ks)
            require(noRows(Dml.duplicateKeys(b, ks)), within)
            require(noRows(
              b.join(table(tn).select(ks.map(col).toSeq: _*), ks, "left_semi")), exists)
        }
      }
    }
  }

  /** `ks IN (the keys of rows)`, typed by `schema`: one IN list (an InSet
    * beyond a few keys) over the key column, or over a struct of them. */
  private def keyIn(schema: StructType, ks: Seq[String], rows: Seq[InternalRow]): Column = {
    val fields = ks.map { k => val i = schema.fieldIndex(k); (i, schema(i).dataType) }
    def values(r: InternalRow) = fields.map { case (i, dt) => r.get(i, dt) }
    def lit(v: Any, dt: DataType) = GraftColumnBridge.column(Literal(v, dt))
    if (ks.size == 1) col(ks.head).isin(rows.map(r => lit(values(r).head, fields.head._2)): _*)
    else {
      val st = StructType(ks.zip(fields).map { case (k, (_, dt)) => StructField(k, dt) })
      struct(ks.map(col): _*).isin(rows.map(r => lit(InternalRow.fromSeq(values(r)), st)): _*)
    }
  }


  /** FK + CHECK validation over a row set (no uniqueness — see
    * validateConstraints / validateUniqueWithin for the two unique shapes). */
  private[sqlfront] def validateRowConstraints(tn: String, rows: DataFrame): Unit = {
    if (refIntegrity) catalog.foreignKeys.filter(_.table == tn).foreach { fk =>
      require(noRows(Dml.fkViolations(rows, fk.cols, table(fk.refTable), fk.refCols)),
        s"FK ${fk.name} violated: ${fk.table}(${fk.cols.mkString(",")}) → " +
          s"${fk.refTable}(${fk.refCols.mkString(",")})")
    }
    catalog.checks.filter(_.table == tn).foreach { ck =>
      require(noRows(Dml.checkViolations(rows, sqlColumn(ck.expr))),
        s"CHECK ${ck.name} violated: ${ck.expr}")
    }
  }

  /** Whole-table uniqueness (used by upsert, whose UPDATE arm can rewrite
    * unique columns of existing rows): one groupBy-count per unique key
    * set over the proposed final table. */
  private[sqlfront] def validateUniqueWithin(tn: String, finalTable: DataFrame): Unit =
    uniqueKeySets(tn).foreach { ks =>
      if (ks.forall(finalTable.columns.contains))
        require(noRows(Dml.duplicateKeys(nonNullKeyed(finalTable, ks), ks)),
          s"unique key (${ks.mkString(",")}) violated after upsert on $tn")
    }

  private[sqlfront] def uniqueKeySets(tn: String): Seq[Seq[String]] =
    (entry(tn).primaryKey.toSeq ++
      catalog.indexes.values.filter(ix => ix.table == tn && ix.unique).map(_.cols)).distinct
}
