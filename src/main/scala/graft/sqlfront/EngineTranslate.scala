package graft.sqlfront

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dml

/** The SELECT-translation face of [[Engine]] (split out mechanically —
  * one class across files via self-typed traits; state stays in Engine):
  * the H2→Spark textual rewrite passes (`translate`) and their token-scan
  * helpers. See Engine's scaladoc for the full surface inventory. */
private[sqlfront] trait EngineTranslate { this: Engine =>

  // ---- SELECT translation ----

  /** `q0` as Spark SQL, and the relations made for this statement alone
    * (SYSTEM_RANGE, CSVREAD, TABLE(…), INFORMATION_SCHEMA.x) under the
    * names the text gives them (`__system_range_0`, …). Within the
    * statement such a name shadows a table of the same name. */
  private[sqlfront] def translate(q0: String): (String, Map[String, DataFrame]) = {
    var q = q0.trim
    val rels = mutable.LinkedHashMap.empty[String, DataFrame]
    def relation(kind: String, df: DataFrame): String = {
      val n = s"__${kind}_${rels.size}"
      rels(n) = df
      n
    }
    // FROM-first: FROM <from...> SELECT <rest>  (Parser.java:1397) —
    // tokenizer-dispatched: the leading keyword is a TOKEN test (a table
    // named `fromage` can never steer here the way startsWith("FROM") could)
    val qToks = Lex.tokens(q)
    if (qToks.nonEmpty && qToks.head.is(q, "FROM")) {
      val selIdx = topLevelIndexOf(q, "SELECT")
      if (selIdx > 0) {
        var fromPart = q.substring(qToks.head.end, selIdx).trim
        // scalar-function source (`FROM USER() SELECT *`, misc tests):
        // a one-row derived table named after the function. TABLE functions
        // (SYSTEM_RANGE/CSVREAD/TABLE…) must NOT be wrapped — their view
        // rewrites run later and expect FROM position; nor multi-source
        // lists (top-level comma).
        val tableFns = Set("system_range", "csvread", "table", "table_distinct")
        // token shape of a bare call: WORD '(' … ')' with the final paren
        // closing the first (depth back to 0 only at the end)
        val fToks = Lex.tokens(fromPart)
        val isCall = fToks.length >= 3 &&
          fToks.head.kind == Lex.Word && !fromPart.startsWith("\"") &&
          fToks(1).kind == Lex.Sym && fromPart.charAt(fToks(1).start) == '(' &&
          fToks.last.kind == Lex.Sym &&
          fromPart.charAt(fToks.last.start) == ')' && fToks.last.depth == 0
        if (isCall) {
          val fn = fToks.head.text(fromPart)
          if (!catalog.tables.contains(fn.toLowerCase) &&
              !tableFns.contains(fn.toLowerCase) &&
              splitTop(fromPart).size == 1)
            fromPart = s"(SELECT $fromPart AS ${fn.toLowerCase})"
        }
        val rest = q.substring(selIdx + 6).trim
        // WHERE/GROUP/ORDER/... belong after the re-inserted FROM
        val tailIdx = earliestTopLevel(rest,
          Seq("WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT", "OFFSET"))
        q = if (tailIdx < 0) s"SELECT $rest FROM $fromPart"
        else s"SELECT ${rest.substring(0, tailIdx)} FROM $fromPart ${rest.substring(tailIdx)}"
      }
    }
    // All rewrites below are token-pattern passes (Rw.rewrite): literal
    // safety is structural — a quoted 'user@example.com' or 'LIMIT 3,4'
    // inside a string is ONE token no bare-keyword pattern can match
    // (translate used to be string-blind — round-1 advice; the regex
    // successor's span-exclusion is retired with the regexes themselves).
    import Rw.{W => RwW, Kw => RwKw, Sy, AdjSy, AnyW, AdjAnyW, Digits,
      SignedDigits, OptE, Not, Peek, End => REnd}
    import Rw.{Lit => RLit}
    // Mode-gated syntax (db/Mode.java): MSSQL bracket identifiers.
    if (compatibilityMode == "MSSQLSERVER" || compatibilityMode == "MSSQL")
      q = Rw.rewrite(q, Sy('['), AnyW, Sy(']'))(c => s"`${c(0)}`")
    // SYSTEM_RANGE(a,b[,s]) → a range relation
    q = Rw.rewrite(q, RwKw("SYSTEM_RANGE"), Sy('('), SignedDigits, Sy(','),
        SignedDigits, OptE(Sy(','), SignedDigits), Sy(')')) { c =>
      val (a, b) = (c(0).toLong, c(1).toLong)
      val step = Option(c(2)).map(_.toLong).getOrElse(1L)
      relation("system_range",
        spark.range(a, b + (if (step > 0) 1 else -1), step).toDF("x"))
    }
    // CSVREAD('path') → a csv relation
    q = Rw.rewrite(q, RwKw("CSVREAD"), Sy('('),
        RLit(inner => inner.nonEmpty && !inner.contains("'")), Sy(')')) { c =>
      relation("csvread", spark.read.option("header", "true")
        .option("inferSchema", "true").csv(c(0)))
    }
    // TABLE(c T=ARRAY[…] …) / TABLE_DISTINCT in FROM position
    // (expression/function/TableFunction.java:32-160) → a literal relation
    q = rewriteTableFunctions(q, relation)
    // ORDER BY =n → ORDER BY n (Parser.java:1493)
    q = Rw.rewrite(q, RwKw("ORDER"), RwKw("BY"), Sy('='), Digits)(c =>
      s"ORDER BY ${c(0)}")
    // H2/MSSQL `SELECT TOP n …` → LIMIT n appended (token-dispatched:
    // SELECT TOP <num> as the first three tokens)
    locally {
      val ts = Lex.tokens(q)
      if (ts.length >= 4 && ts(0).is(q, "SELECT") && ts(1).is(q, "TOP") &&
          ts(2).kind == Lex.Num)
        q = s"SELECT ${q.substring(ts(3).start)} LIMIT ${ts(2).text(q)}"
    }
    // MySQL `LIMIT offset, count` → LIMIT count OFFSET offset
    q = Rw.rewrite(q, RwKw("LIMIT"), Digits, Sy(','), Digits)(c =>
      s"LIMIT ${c(1)} OFFSET ${c(0)}")
    // standard OFFSET … ROWS / FETCH FIRST … ROWS ONLY (Mode.java
    // supportOffsetFetch — on by default in every reference mode); Spark
    // wants LIMIT before OFFSET, so the combined form swaps
    q = Rw.rewrite(q, RwKw("OFFSET"), Digits, RwKw("ROWS", "ROW"),
        RwKw("FETCH"), RwKw("FIRST", "NEXT"), Digits, RwKw("ROWS", "ROW"),
        RwKw("ONLY"))(c => s"LIMIT ${c(1)} OFFSET ${c(0)}")
    q = Rw.rewrite(q, RwKw("FETCH"), RwKw("FIRST", "NEXT"), Digits,
        RwKw("ROWS", "ROW"), RwKw("ONLY"))(c => s"LIMIT ${c(0)}")
    q = Rw.rewrite(q, RwKw("FETCH"), RwKw("FIRST", "NEXT"),
        RwKw("ROWS", "ROW"), RwKw("ONLY"))(_ => "LIMIT 1")
    q = Rw.rewrite(q, RwKw("OFFSET"), Digits, RwKw("ROWS", "ROW"))(c =>
      s"OFFSET ${c(0)}")
    // Quantified comparison subqueries x op ALL|ANY|SOME (SELECT …)
    // (ConditionInSelect.java:26-95) — Spark SQL has no quantified
    // comparison syntax; lowered to scalar MIN/MAX subqueries / IN forms
    q = rewriteQuantified(q)
    // PostgreSQL-mode LOG(x) is base 10 (Mode.java logIsLogBase10);
    // two-argument LOG keeps Spark's log(base, expr) meaning
    if (modeFlags.logIsLogBase10) q = rewriteSingleArgLog(q)
    // MySQL-mode || treats NULL as the other operand (nullConcatIsNull=false)
    if (!modeFlags.nullConcatIsNull) q = rewriteMySqlConcat(q)
    // MySQL-mode zero dates: MySQL stores '0000-00-00' where the JVM date
    // types have no representable value; the standard connector coercion
    // (zeroDateTimeBehavior=convertToNull) maps them to NULL. Typed
    // literals rewrite here; BARE '0000-00-00' strings already cast to
    // NULL on the non-ANSI insert-alignment cast, and a NOT NULL target
    // column then takes the current-date/timestamp coercion via
    // convertInsertNullToZero — Mode.java:42's documented rule.
    if (modeFlags.zeroDateToNull) q = rewriteZeroDates(q)
    // PostgreSQL-mode system columns CTID/OID (Mode.java:158 systemColumns):
    // the reference maps them to the row's storage key (_ROWID_). The Spark
    // twin is a DETERMINISTIC hash of the row's columns — identical in every
    // occurrence within the statement (filter and projection agree, unlike a
    // nondeterministic counter), with qualified t.ctid mapping to the
    // qualified star. Documented divergence: exact duplicate rows share an
    // id (content hash, not storage position).
    if (modeFlags.systemColumns) {
      q = Rw.rewrite(q, OptE(AnyW, Sy('.')), RwKw("CTID", "OID"),
          Not(Sy('(')))(c =>
        Option(c(0)) match {
          case Some(alias) => s"xxhash64($alias.*)"
          case None => "xxhash64(*)"
        })
    }
    // INFORMATION_SCHEMA.X → synthesized meta table (MetaTable.java:68)
    q = Rw.rewrite(q, RwKw("INFORMATION_SCHEMA"), Sy('.'), AnyW) { c =>
      val n = c(0).toLowerCase
      relation(n, metaTable(n))
    }
    // LINK_SCHEMA: the reference REGISTERS the function (Function.java:360)
    // but its evaluation throws unsupported (Function.java:1262-1270) — the
    // exact-parity behavior is the same loud error, not a JDBC emulation
    if (Rw.contains(q, RwKw("LINK_SCHEMA"), Sy('(')))
      throw new UnsupportedOperationException(
        "LINK_SCHEMA is unsupported (reference parity: Function.java:1270 " +
          "throws the same; use spark.read.jdbc for external links at deploy)")
    // SET(@v, expr) inline assignment (Function.java:364 SET): evaluate the
    // value driver-side, assign the variable, and substitute the value in
    // place — must run before the @var substitution below so later @v
    // references in the same statement read the new value
    q = rewriteSetFunction(q, rels.toMap)
    // @var substitution (Variable.java:20; unset vars read as NULL, same
    // as the reference's ValueNull for an unset session variable)
    q = Rw.rewrite(q, Sy('@'), AdjAnyW)(c =>
      variables.getOrElse(c(0).toLowerCase, "NULL"))
    // SAMPLE_SIZE n → LIMIT n (head-sample semantics, Select.java:877)
    q = Rw.rewrite(q, RwKw("SAMPLE_SIZE"), Digits)(c => s"LIMIT ${c(0)}")
    // H2 function-name surface → the registered UDF names / Spark natives
    // (Function.java registry): H2's DATEADD/DATEDIFF take a unit STRING
    // (vs Spark's keyword/2-arg forms), so the quoted-unit call shape maps
    // to the _h2 UDFs; INSERT/HASH collide with keywords/natives and carry
    // suffixed registrations; session-identity functions resolve to the
    // engine's counters.
    q = Rw.rewrite(q, RwKw("DATEADD", "TIMESTAMPADD"), Sy('('),
      Peek(RLit()))(_ => "dateadd_h2(")
    q = Rw.rewrite(q, RwKw("DATEDIFF", "TIMESTAMPDIFF"), Sy('('),
      Peek(RLit()))(_ => "datediff_h2(")
    q = Rw.rewrite(q, RwKw("HASH"), Sy('('))(_ => "h2_hash(")
    q = Rw.rewrite(q, RwKw("INSERT"), Sy('('))(_ => "insert_str(")
    q = Rw.rewrite(q, RwKw("CHARINDEX"), Sy('('))(_ => "locate(")
    q = Rw.rewrite(q, RwKw("GETDATE"), Sy('('), Sy(')'))(_ => "now()")
    q = Rw.rewrite(q, RwKw("RANDOM"), Sy('('))(_ => "rand(")
    q = Rw.rewrite(q, RwKw("SYS_GUID"), Sy('('), Sy(')'))(_ => "random_uuid()")
    q = Rw.rewrite(q, RwKw("LEALONE_VERSION"), Sy('('), Sy(')'))(_ =>
      "graft_version()")
    // USER()/CURRENT_USER() = the session user (RightOwner — the implicit
    // SA admin), not the JVM/OS user Spark's current_user() reports
    q = Rw.rewrite(q, RwKw("USER", "CURRENT_USER"), Sy('('), Sy(')'))(_ =>
      "'SA'")
    q = Rw.rewrite(q, RwKw("IDENTITY", "SCOPE_IDENTITY", "LAST_INSERT_ID",
        "IDENTITY_VAL_LOCAL"), Sy('('), Sy(')'))(
      _ => lastIdentity.map(_.toString).getOrElse("NULL"))
    q = Rw.rewrite(q, RwKw("LASTVAL"), Sy('('), Sy(')'))(
      _ => lastSeqVal.map(_.toString).getOrElse("NULL"))
    // bare string types in CAST position (`CAST(x AS VARCHAR)`) — H2
    // defaults the length to unbounded (Parser.parseColumnWithType);
    // Spark's VARCHAR demands one, but STRING is the same unbounded type.
    // The Peek(')') pins the CAST-closing context so a column alias that
    // happens to collide (`SELECT x AS char FROM …`) is never rewritten.
    q = Rw.rewrite(q, RwKw("AS"), RwKw("VARCHAR", "CHAR", "CLOB", "TEXT",
      "LONGVARCHAR", "NVARCHAR"), Peek(Sy(')')))(_ => "AS STRING")
    // date-part aliases (Function.java DAY_OF_MONTH…WEEK groups)
    q = Rw.rewrite(q, RwKw("DAY_OF_MONTH"), Sy('('))(_ => "dayofmonth(")
    q = Rw.rewrite(q, RwKw("DAY_OF_WEEK"), Sy('('))(_ => "dayofweek(")
    q = Rw.rewrite(q, RwKw("DAY_OF_YEAR"), Sy('('))(_ => "dayofyear(")
    q = Rw.rewrite(q, RwKw("WEEK"), Sy('('))(_ => "weekofyear(")
    // NOW(precision) → now() (fractional-second precision not kept);
    // CURTIME/CURRENT_TIME → a real TIME value (Function.java:743-748
    // ValueTime from transaction start; Spark 4.1 TimeType, second
    // precision matching java.sql.Time display); bare paren-less forms
    // are valid H2
    q = Rw.rewrite(q, RwKw("NOW"), Sy('('), Digits, Sy(')'))(_ => "now()")
    // the replacement contains the token `current_time`, so the bare-form
    // passes need the Not-paren guard or they re-bind their own output
    val timeStr = "current_time(0)"
    q = Rw.rewrite(q, RwKw("CURTIME"), Sy('('), Sy(')'))(_ => timeStr)
    q = Rw.rewrite(q, RwKw("CURTIME"), Not(Sy('(')))(_ => timeStr)
    q = Rw.rewrite(q, RwKw("CURRENT_TIME"), Sy('('), Sy(')'))(_ => timeStr)
    q = Rw.rewrite(q, RwKw("CURRENT_TIME"), Not(Sy('(')))(_ => timeStr)
    q = Rw.rewrite(q, RwKw("CURDATE"), Not(Sy('(')))(_ => "current_date()")
    q = Rw.rewrite(q, RwKw("NOW"), Not(Sy('(')))(_ => "now()")
    // H2 `WHERE ROWNUM <= n` tail form: Spark forbids window functions in
    // WHERE — the scan-order row cap is a LIMIT (same semantics when no
    // ORDER BY follows, which is the canonical H2 usage)
    // two passes: '<=' (the '=' adjacent, as the regex alternation
    // required) keeps n; strict '<' caps at n-1
    q = Rw.rewrite(q, RwKw("WHERE"), RwKw("ROWNUM"), Sy('<'), AdjSy('='),
      Digits, REnd)(c => s"LIMIT ${c(0)}")
    q = Rw.rewrite(q, RwKw("WHERE"), RwKw("ROWNUM"), Sy('<'), Digits,
      REnd)(c => s"LIMIT ${c(0).toInt - 1}")
    // ROWNUM / ROW_NUMBER without a window (Parser.java ROWNUM,
    // Select.java:877): number rows in scan order
    val rowNum = "row_number() OVER (ORDER BY monotonically_increasing_id())"
    q = Rw.rewrite(q, RwKw("ROW_NUMBER"), Sy('('), Sy(')'), RwKw("OVER"),
      Sy('('), Sy(')'))(_ => rowNum)
    q = Rw.rewrite(q, RwKw("ROW_NUMBER"), Sy('('), Sy(')'),
      Not(RwKw("OVER")))(_ => rowNum)
    q = Rw.rewrite(q, RwKw("ROWNUM"), Sy('('), Sy(')'))(_ => rowNum)
    q = Rw.rewrite(q, RwKw("ROWNUM"), Not(Sy('(')))(_ => rowNum)
    // CASE(w1, r1, w2, r2, …[, else]) function form (Function.java:890)
    q = rewriteCaseFunction(q)
    // NEXTVAL/CURRVAL + CREATE CONSTANT names
    q = substSequences(substConstants(q))
    // EXECUTE_SERVICE_*_RETURN_VALUE('svc.method', 'json') service calls
    q = substServices(q)
    // LAST: H2 "quoted identifiers" → Spark backticks. Spark's parser has
    // no double-quoted identifier form (a "t" in FROM position is a syntax
    // error), so this is the fidelity boundary for every pass above —
    // they all see the H2 form, where a quoted identifier is one Word
    // token no keyword pattern can bind into.
    (quotedIdentsToBackticks(q), rels.toMap)
  }

  /** Every double-quoted identifier token → `backticked` (H2 ""-escapes
    * unfolded; embedded backticks doubled per Spark's escape). Runs on the
    * final Spark-bound string only. */
  private[sqlfront] def quotedIdentsToBackticks(q: String): String = {
    val ts = Lex.tokens(q).filter(t =>
      t.kind == Lex.Word && t.end - t.start >= 2 &&
        q.charAt(t.start) == '"' && q.charAt(t.end - 1) == '"')
    if (ts.isEmpty) return q
    val sb = new java.lang.StringBuilder
    var pos = 0
    ts.foreach { t =>
      sb.append(q, pos, t.start)
      val inner = q.substring(t.start + 1, t.end - 1)
        .replace("\"\"", "\"").replace("`", "``")
      sb.append('`').append(inner).append('`')
      pos = t.end
    }
    sb.append(q, pos, q.length)
    sb.toString
  }

  /** CREATE CONSTANT names → literal value (schema/Constant.java). Column
    * names shadow constants (the reference resolves columns first) — but
    * only columns of tables the statement actually references (word scan),
    * so an unrelated table sharing the name doesn't block substitution
    * elsewhere. Over-shadowing fails loudly (unresolved column), never
    * silently mis-binds. Applied to SELECTs and to UPDATE/DELETE/VALUES
    * scalar expressions alike. */
  private[sqlfront] def substConstants(q0: String, context: Seq[String] = Nil): String = {
    if (catalog.constants.isEmpty) return q0
    var q = q0
    val qToks = Lex.tokens(q)
    val colNames = catalog.tables.keys
      .filter(t => context.contains(t) || qToks.exists(_.isIdent(q, t)))
      .flatMap(t => table(t).columns.map(_.toLowerCase)).toSet
    catalog.constants.foreach { case (n, v) =>
      if (!colNames.contains(n))
        q = Rw.rewrite(q, Rw.Kw(n))(_ => v)
    }
    q
  }

  /** MySQL-mode `||` (Mode.java:148-153 nullConcatIsNull=false; evaluated at
    * Operation.java:125-142): a NULL operand yields the OTHER side, so a
    * chain is NULL only when every operand is NULL. Spark's `||` is
    * null-propagating, so chains are rewritten to
    * `CASE WHEN <all null> THEN NULL ELSE CONCAT(COALESCE(CAST(x AS STRING),'')…) END`.
    * Operands are extracted with balanced-paren, literal-aware scanning
    * (string literal / parenthesized group / identifier / function call);
    * a shape the scanner cannot bound (e.g. a bare CASE…END arm) leaves the
    * chain untouched — a loud parse/semantics divergence, never a silent
    * mis-split. */
  private[sqlfront] def rewriteMySqlConcat(q0: String): String = {
    // shapes the scanner must never treat as an operand — hitting one means
    // the chain cannot be bounded (e.g. an unparenthesized CASE…END arm)
    val stopWords = Set("end", "then", "else", "when", "case", "select",
      "where", "and", "or", "not", "in", "like", "between", "is", "from")
    def bail(op: String): Nothing = throw new IllegalArgumentException(
      s"MySQL-mode || rewrite cannot bound operand near '$op' — " +
        "parenthesize the operand (e.g. (CASE … END) || x)")
    var q = q0
    var guard = 0
    var changed = true
    while (changed && guard < 64) {
      changed = false; guard += 1
      val spans = Stmt.literalSpans(q)
      def inLit(i: Int) = spans.exists(sp => i >= sp._1 && i < sp._2)
      def identChar(c: Char) =
        c.isLetterOrDigit || c == '_' || c == '.' || c == '`' || c == '@'
      def fwdParen(open: Int): Int = {
        var depth = 0; var k = open; var end = -1
        while (k < q.length && end < 0) {
          if (!inLit(k)) {
            if (q.charAt(k) == '(') depth += 1
            else if (q.charAt(k) == ')') { depth -= 1; if (depth == 0) end = k + 1 }
          }
          k += 1
        }
        end
      }
      // start of the PRIMARY (literal / paren group / identifier / call)
      // ending at j (inclusive), or -1
      def primaryStart(j: Int): Int = q.charAt(j) match {
        case '\'' => spans.find(_._2 == j + 1).map(_._1).getOrElse(-1)
        case ')' =>
          var depth = 0; var k = j; var open = -1
          while (k >= 0 && open < 0) {
            if (!inLit(k)) {
              if (q.charAt(k) == ')') depth += 1
              else if (q.charAt(k) == '(') { depth -= 1; if (depth == 0) open = k }
            }
            if (open < 0) k -= 1
          }
          if (open < 0) -1
          else { // include a function name directly before the '('
            var s = open - 1
            while (s >= 0 &&
              (q.charAt(s).isLetterOrDigit || q.charAt(s) == '_')) s -= 1
            s + 1
          }
        case c if identChar(c) =>
          var s = j
          while (s >= 0 && identChar(q.charAt(s))) s -= 1
          s + 1
        case _ => -1
      }
      def lastNonWs(before: Int): Int = {
        var j = before - 1
        while (j >= 0 && q.charAt(j).isWhitespace) j -= 1
        j
      }
      def isStop(s: Int, e: Int): Boolean =
        stopWords.contains(q.substring(s, e).trim.toLowerCase)
      // start of the full LEFT operand before opIdx: a primary, extended
      // left across binary + - * / % (same-or-tighter precedence than ||
      // in H2's summand grammar) and unary signs, so `a + 1 || b` binds as
      // (a + 1) || b and `-1 || x` keeps its sign inside the operand
      def leftStart(opIdx: Int): Int = {
        val j0 = lastNonWs(opIdx)
        if (j0 < 0) return -1
        var s = primaryStart(j0)
        if (s < 0) return -1
        if (isStop(s, j0 + 1)) bail(q.substring(s, j0 + 1))
        var continue = true
        while (continue) {
          val j = lastNonWs(s)
          if (j >= 0 && "+-*/%".indexOf(q.charAt(j)) >= 0 && !inLit(j)) {
            val k = lastNonWs(j)
            val prevEndsExpr = k >= 0 &&
              (identChar(q.charAt(k)) || q.charAt(k) == ')' || q.charAt(k) == '\'')
            val isSign = q.charAt(j) == '-' || q.charAt(j) == '+'
            if (prevEndsExpr) {
              val ps = primaryStart(k)
              if (ps >= 0 && !isStop(ps, k + 1)) s = ps // binary: absorb it
              else if (isSign) s = j // keyword before the sign → unary
              else bail(q.substring((ps max 0), k + 1))
            } else if (isSign) {
              s = j // unary sign belongs to the operand
            } else continue = false
          } else continue = false
        }
        s
      }
      // end (exclusive) of a primary starting at j, or -1
      def primaryEnd(j: Int): Int = q.charAt(j) match {
        case '\'' => spans.find(_._1 == j).map(_._2).getOrElse(-1)
        case '(' => fwdParen(j)
        case c if identChar(c) =>
          var e = j
          while (e < q.length && identChar(q.charAt(e))) e += 1
          var k = e
          while (k < q.length && q.charAt(k).isWhitespace) k += 1
          if (k < q.length && q.charAt(k) == '(') fwdParen(k) else e
        case _ => -1
      }
      // end of the full RIGHT operand from `from`: optional unary signs,
      // a primary, extended across * / % (tighter than ||; + - stay outside
      // because || chains left-associatively at the same level)
      def rightEnd(from: Int): Int = {
        var j = from
        while (j < q.length && q.charAt(j).isWhitespace) j += 1
        while (j < q.length && (q.charAt(j) == '-' || q.charAt(j) == '+')) {
          j += 1
          while (j < q.length && q.charAt(j).isWhitespace) j += 1
        }
        if (j >= q.length) return -1
        var e = primaryEnd(j)
        if (e < 0) return -1
        if (isStop(j, e)) bail(q.substring(j, e))
        var continue = true
        while (continue) {
          var k = e
          while (k < q.length && q.charAt(k).isWhitespace) k += 1
          if (k < q.length && "*/%".indexOf(q.charAt(k)) >= 0 && !inLit(k)) {
            var m = k + 1
            while (m < q.length && q.charAt(m).isWhitespace) m += 1
            while (m < q.length && (q.charAt(m) == '-' || q.charAt(m) == '+')) {
              m += 1
              while (m < q.length && q.charAt(m).isWhitespace) m += 1
            }
            val e2 = if (m < q.length) primaryEnd(m) else -1
            if (e2 < 0) bail(q.substring(k, (k + 8) min q.length))
            e = e2
          } else continue = false
        }
        e
      }

      var search = 0
      while (!changed && { search = q.indexOf("||", search); search >= 0 }) {
        if (inLit(search)) { search += 2 }
        else {
          val ls = leftStart(search)
          val lj = lastNonWs(search)
          val firstRight = rightEnd(search + 2)
          if (ls < 0 || firstRight < 0)
            bail(q.substring((search - 8) max 0, (search + 10) min q.length))
          val operands = mutable.ArrayBuffer(q.substring(ls, lj + 1))
          var rs = search + 2
          while (rs < q.length && q.charAt(rs).isWhitespace) rs += 1
          operands += q.substring(rs, firstRight)
          var chainEnd = firstRight
          var more = true
          while (more) { // extend through `|| operand` repetitions
            var k = chainEnd
            while (k < q.length && q.charAt(k).isWhitespace) k += 1
            if (k + 1 < q.length && q.charAt(k) == '|' && q.charAt(k + 1) == '|') {
              val e = rightEnd(k + 2)
              var s2 = k + 2
              while (s2 < q.length && q.charAt(s2).isWhitespace) s2 += 1
              if (e > 0) { operands += q.substring(s2, e); chainEnd = e }
              else more = false
            } else more = false
          }
          val allNull = operands.map(o => s"($o) IS NULL").mkString(" AND ")
          val cc = operands.map(o => s"COALESCE(CAST(($o) AS STRING), '')")
            .mkString("CONCAT(", ", ", ")")
          q = q.substring(0, ls) +
            s"(CASE WHEN $allNull THEN NULL ELSE $cc END)" +
            q.substring(chainEnd)
          changed = true
        }
      }
    }
    q
  }

  /** PostgreSQL-mode LOG rewrite (Mode.java logIsLogBase10): single-
    * argument LOG(x) becomes LOG10(x); LOG(b, x) is left alone (already
    * base-b in Spark). Needs balanced-paren scanning to count top-level
    * commas, so not a plain regex rewrite. */
  private[sqlfront] def rewriteSingleArgLog(q: String): String = {
    val sb = new StringBuilder
    var last = 0
    var from = 0
    var go = true
    while (go) {
      val (ws, open) = Rw.findCall(q, "LOG", from)
      if (ws < 0) go = false
      else {
        val (close, commas) = matchParen(q, open)
        if (close >= 0 && commas == 0 && ws >= last) {
          sb.append(q.substring(last, ws)).append("LOG10(")
          last = open + 1
        }
        from = open + 1
      }
    }
    sb.append(q.substring(last))
    sb.toString
  }

  /** Find the index just past the matching ')' for a call whose open paren
    * is at `open` (exclusive end), honoring string literals. Returns -1 if
    * unbalanced. Also counts top-level commas. */
  /** Lower `lhs op ALL|ANY|SOME (subquery)` (ConditionInSelect.java:26-95;
    * parsed at Parser.java readCondition) onto Spark-supported forms:
    * ordering ops become scalar MIN/MAX subqueries, `= ANY` → IN,
    * `<> ALL` → NOT IN (exactly the standard equivalence, NULLs included),
    * `= ALL` → min=x AND max=x, `<> ANY` → x≠min OR x≠max.
    *
    * MIN/MAX silently ignore NULL elements, which would collapse SQL
    * three-valued logic (`x = ALL(S)` with S={x, NULL} must be UNKNOWN,
    * not TRUE; negated ordering forms would flip UNKNOWN to TRUE), so the
    * MIN/MAX lowerings carry a 3VL repair: for ALL, FALSE is definite but
    * TRUE additionally requires a NULL-free subquery; for ANY, TRUE is
    * definite but FALSE requires one. The NULL probe is one UNCORRELATED
    * scalar COUNT subquery — Catalyst evaluates it once, not per row.
    * Remaining divergence: an empty subquery yields UNKNOWN where the
    * reference returns its vacuous value (TRUE for ALL) — equivalent
    * under WHERE for ANY (both drop), divergent for empty-set ALL
    * (documented; the reference's own tests never exercise it).
    *
    * The LHS must be a SINGLE column/qualified-name or literal token;
    * a compound left operand (`a + b > ALL (…)`) would bind only its
    * trailing token — a silent partial rewrite — so it is rejected with
    * an explicit error. Matches inside string literals are skipped. */
  private[sqlfront] def rewriteQuantified(q0: String): String = {
    var q = q0
    // token find of `lhs op ALL|ANY|SOME (`: the lhs is the maximal chain
    // of ADJACENT word/number/literal/'.' tokens before the operator (the
    // old regex char class `[\w.'"]+`), the operator one or two adjacent
    // comparison symbols
    def findQuant(src: String): Option[(Int, String, String, String, Int)] = {
      val ts = Lex.tokens(src)
      def sym(j: Int, c: Char) = j < ts.length && ts(j).kind == Lex.Sym &&
        src.charAt(ts(j).start) == c
      def adj(j: Int) = j > 0 && ts(j).start == ts(j - 1).end
      var i = 1
      while (i < ts.length) {
        val (opTxt, opLen) =
          if (sym(i, '<') && sym(i + 1, '>') && adj(i + 1)) ("<>", 2)
          else if (sym(i, '!') && sym(i + 1, '=') && adj(i + 1)) ("<>", 2)
          else if (sym(i, '<') && sym(i + 1, '=') && adj(i + 1)) ("<=", 2)
          else if (sym(i, '>') && sym(i + 1, '=') && adj(i + 1)) (">=", 2)
          else if (sym(i, '<')) ("<", 1)
          else if (sym(i, '>')) (">", 1)
          else if (sym(i, '=')) ("=", 1)
          else (null, 0)
        if (opTxt != null) {
          val qi = i + opLen
          def lhsTok(j: Int) = j >= 0 && (ts(j).kind == Lex.Word ||
            ts(j).kind == Lex.Num || ts(j).kind == Lex.Lit || sym(j, '.'))
          if (qi < ts.length &&
              (ts(qi).is(src, "ALL") || ts(qi).is(src, "ANY") ||
                ts(qi).is(src, "SOME")) && sym(qi + 1, '(') && lhsTok(i - 1)) {
            var b = i - 1
            while (lhsTok(b - 1) && adj(b)) b -= 1
            return Some((ts(b).start,
              src.substring(ts(b).start, ts(i - 1).end), opTxt,
              ts(qi).text(src).toUpperCase, ts(qi + 1).start))
          }
        }
        i += 1
      }
      None
    }
    var guard = 0
    var continue = true
    while (continue && guard < 64) {
      guard += 1
      findQuant(q) match {
        case None => continue = false
        case Some((mStart, lhs, op, quant, open)) =>
          val (close, _) = matchParen(q, open)
          if (close < 0) continue = false
          else {
            // compound LHS (`a + b > ALL …`): the token chain binds only
            // `b`, so rewriting would silently produce `a + (b > (SELECT…))`
            val prevCh = q.substring(0, mStart)
              .reverse.dropWhile(_.isWhitespace).headOption
            if (prevCh.exists(c => "+-*/%^&|".contains(c)))
              throw new IllegalArgumentException(
                "unsupported LHS for quantified comparison near '" +
                  q.substring(math.max(0, mStart - 16), open) +
                  "(': only a single column or literal is supported " +
                  "(wrap the expression in a derived column first)")
            val sub = q.substring(open + 1, close - 1)
            def scalar(agg: String) =
              s"(SELECT $agg(__qv) FROM ($sub) __qt(__qv))"
            // 3VL repair (see scaladoc): one uncorrelated NULL probe
            def hasNull =
              s"((SELECT COUNT(1) FROM ($sub) __qn(__qv) WHERE __qv IS NULL) > 0)"
            def allG(l: String) =
              s"(CASE WHEN NOT $l THEN FALSE WHEN $hasNull THEN " +
                s"CAST(NULL AS BOOLEAN) ELSE $l END)"
            def anyG(l: String) =
              s"(CASE WHEN $l THEN TRUE WHEN $hasNull THEN " +
                s"CAST(NULL AS BOOLEAN) ELSE $l END)"
            val lowered = (quant, op) match {
              case ("ALL", "<")  => allG(s"($lhs < ${scalar("MIN")})")
              case ("ALL", "<=") => allG(s"($lhs <= ${scalar("MIN")})")
              case ("ALL", ">")  => allG(s"($lhs > ${scalar("MAX")})")
              case ("ALL", ">=") => allG(s"($lhs >= ${scalar("MAX")})")
              case ("ALL", "=")  =>
                allG(s"($lhs = ${scalar("MIN")} AND $lhs = ${scalar("MAX")})")
              case ("ALL", _)    => s"($lhs NOT IN ($sub))"
              case (_, "<")      => anyG(s"($lhs < ${scalar("MAX")})")
              case (_, "<=")     => anyG(s"($lhs <= ${scalar("MAX")})")
              case (_, ">")      => anyG(s"($lhs > ${scalar("MIN")})")
              case (_, ">=")     => anyG(s"($lhs >= ${scalar("MIN")})")
              case (_, "=")      => s"($lhs IN ($sub))"
              case (_, _)        =>
                anyG(s"($lhs <> ${scalar("MIN")} OR $lhs <> ${scalar("MAX")})")
            }
            q = q.substring(0, mStart) + lowered + q.substring(close)
          }
      }
    }
    q
  }

  private[sqlfront] def matchParen(q: String, open: Int): (Int, Int) = {
    var depth = 1; var i = open + 1; var commas = 0; var inStr = false
    while (i < q.length && depth > 0) {
      q.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 1 => commas += 1
        case _ =>
      }
      i += 1
    }
    (if (depth == 0) i else -1, commas)
  }

  /** H2 CASE *function* form `CASE(w1, r1, w2, r2[, else])`
    * (Function.java:890: leading boolean of each pair selects its result;
    * odd trailing argument is the ELSE) → standard searched CASE. The
    * expression form `CASE x WHEN …` / `CASE WHEN …` is left alone. */
  private[sqlfront] def rewriteCaseFunction(q0: String): String = {
    var q = q0
    var from = 0
    var continue = true
    while (continue) {
      val (ws, open) = Rw.findCall(q, "CASE", from)
      if (ws < 0) continue = false
      else {
        val (close, _) = matchParen(q, open)
        if (close < 0) return q
        // `CASE (expr) WHEN …` is the expression form — skip it
        val tail = q.substring(close).trim
        if (tail.toUpperCase.startsWith("WHEN")) { from = close }
        else {
          val args = splitTop(q.substring(open + 1, close - 1)).map(_.trim)
          val pairs = args.grouped(2).toSeq
          val sb = new StringBuilder("CASE")
          pairs.foreach {
            case Seq(w, r) => sb.append(s" WHEN $w THEN $r")
            case Seq(e) => sb.append(s" ELSE $e")
            case _ =>
          }
          sb.append(" END")
          q = q.substring(0, ws) + sb + q.substring(close)
          from = ws + sb.length
        }
      }
    }
    q
  }

  /** Inline `SET(@v, expr)` (Function.java:364): evaluate driver-side,
    * store the variable, substitute the value. Runs before the statement-
    * level @var substitution, so later @v reads in the same statement see
    * the assigned value (left-to-right, as the reference evaluates).
    * `rels` are the statement's own relations made so far. */
  private[sqlfront] def rewriteSetFunction(q0: String, rels: Map[String, DataFrame]): String = {
    var q = q0
    var continue = true
    while (continue) {
      Rw.find(q, 0, Rw.Kw("SET"), Rw.Sy('('), Rw.Sy('@'), Rw.AdjAnyW,
          Rw.Sy(',')) match {
        case None => continue = false
        case Some((mStart, mEnd, caps)) =>
          val open = q.indexOf('(', mStart)
          val (close, _) = matchParen(q, open)
          if (close < 0) return q
          val inner0 = q.substring(mEnd, close - 1)
          // earlier-assigned vars are visible in the value expression;
          // literal-aware so '@' inside a string (an email address, say)
          // is never substituted
          val inner = Rw.rewrite(inner0, Rw.Sy('@'), Rw.AdjAnyW)(c =>
            variables.getOrElse(c(0).toLowerCase, "NULL"))
          val value = valueLiteral(inner, rels)
          variables(caps(0).toLowerCase) = value
          q = q.substring(0, mStart) + value + q.substring(close)
      }
    }
    q
  }

  /** The value of scalar expression `e`, evaluated now on the driver, as
    * a SQL literal: what `SET @v = e` and `SET(@v, e)` store
    * (Variable.java holds a value, not an expression). `rels` are the
    * statement's own relations. */
  private[sqlfront] def valueLiteral(e: String,
      rels: Map[String, DataFrame] = Map.empty): String =
    sqlFrame(s"SELECT ${substSequences(substConstants(e))}", rels).head().get(0) match {
      case s: String => s"'${s.replace("'", "''")}'"
      case v => String.valueOf(v)
    }

  /** `TABLE(id INT=ARRAY[1,2], name VARCHAR=('a','b'))` in FROM position →
    * a `relation` built from the literal arrays, null-padded to the
    * longest column exactly like the reference (TableFunction.java:139
    * pads short columns); TABLE_DISTINCT de-duplicates. Needs balanced-
    * paren extraction (ARRAY[…] nests), so not a plain regex rewrite. */
  private[sqlfront] def rewriteTableFunctions(q0: String,
      relation: (String, DataFrame) => String): String = {
    var q = q0
    var search = 0
    var guard = 0
    while (guard < 64) {
      guard += 1
      val m0 = Rw.find(q, search, Rw.W("TABLE_DISTINCT", "TABLE"), Rw.Sy('('))
      m0 match {
        case None => return q
        case Some((mStart, mEnd, caps)) =>
          // the matching close paren (brackets nest inside parens)
          val open = mEnd - 1
          val close = matchParen(q, open)._1 - 1
          require(close > 0, "unbalanced TABLE(…)")
          val inner = q.substring(open + 1, close)
          val itemRe =
            """(?is)^\s*(\w+)\s+([A-Za-z]\w*(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)\s*=\s*(?:ARRAY\s*\[(.*)\]|\((.*)\))\s*$""".r
          val cols = splitTopBrackets(inner).map {
            case itemRe(name, tpe, arr, tup) =>
              val vals = splitTop(Option(arr).getOrElse(tup)).map(_.trim)
              (name.toLowerCase, parseType(tpe), vals)
            case bad => throw new IllegalArgumentException(
              s"bad TABLE() column: $bad")
          }
          val n = cols.map(_._3.length).max
          val tuples = (0 until n).map { r =>
            cols.map(_._3.lift(r).getOrElse("NULL")).mkString("(", ", ", ")")
          }.mkString(", ")
          val sel = cols.zipWithIndex.map { case ((name, tpe, _), i) =>
            s"CAST(c$i AS ${tpe.sql}) AS $name"
          }.mkString(", ")
          val anon = cols.indices.map(i => s"c$i").mkString(", ")
          val df0 = sqlFrame(s"SELECT $sel FROM VALUES $tuples AS __t($anon)")
          val v = relation(caps(0).toLowerCase,
            if (caps(0).equalsIgnoreCase("TABLE_DISTINCT")) df0.distinct() else df0)
          q = q.substring(0, mStart) + v + q.substring(close + 1)
          search = mStart + v.length
      }
    }
    q
  }

}
