package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Bulk front-door parity census: extract every SQL string literal from the
  * reference's test tree (lealone-test sql/ + db/ packages), replay each
  * file's statements IN SOURCE ORDER through a fresh [[graft.sqlfront.Engine]],
  * and report OK / SKIP / FAIL per file. The hand-written RefProbes pin
  * curated behaviors with assertions; this census answers the coverage
  * question in bulk — "can a reference user paste their statements and
  * have them parse + execute?" — and surfaces gaps the curated probes miss.
  *
  * SKIP classes (not failures): statements with JDBC `?` parameters (need
  * a PreparedStatement value feed), statements naming org.lealone test
  * classes (CALL "org.lealone…" — reference-classpath-only), and literal
  * chains broken by Java variables (the extracted text has holes).
  *
  * Scratch harness — requires /root/reference on disk; not a spec.
  * Usage: Test/runMain graft.tools.RefSqlCensus [refTestRoot] [-v]
  */
object RefSqlCensus {

  /** Words that never identify a user object — excluded from the
    * guess-taint name set so a skipped `CREATE TABLE x(...)` taints `x`,
    * not the word TABLE. */
  private val sqlStop: Set[String] = Set(
    "TABLE", "INDEX", "VIEW", "USER", "SCHEMA", "ROLE", "SEQUENCE",
    "TRIGGER", "AGGREGATE", "DOMAIN", "TYPE", "DATATYPE", "DATABASE",
    "FORCE", "EXISTS", "REPLACE", "RENAME", "CASCADE", "RESTRICT",
    "VALUES", "WHERE", "FROM", "INTO", "PRIMARY", "KEY", "NOT", "NULL",
    "AND", "OR", "INT", "INTEGER", "VARCHAR", "BIGINT", "BOOLEAN",
    "PASSWORD", "AUTHORIZATION", "ADMIN", "CHECK", "DEFAULT", "UNIQUE",
    "HASH", "BEFORE", "AFTER", "INSTEAD", "QUEUE", "CALL", "FOR", "MODE",
    "RUN", "THE", "ORDER", "GROUP", "HAVING", "LIMIT", "OFFSET",
    "BETWEEN", "LIKE", "COUNT", "SUM", "MIN", "MAX", "AVG",
    "SYSTEM_RANGE", "TIMESTAMP", "CURRENT_TIMESTAMP", "SALT") ++ Set(
    "SELECT", "INSERT", "UPDATE", "DELETE", "MERGE", "TRUNCATE", "CREATE",
    "DROP", "ALTER", "SET", "SHOW", "GRANT", "REVOKE", "USE",
    "BEGIN", "COMMIT", "ROLLBACK", "SAVEPOINT", "SCRIPT", "RUNSCRIPT",
    "BACKUP", "CHECKPOINT", "EXPLAIN", "PREPARE", "EXECUTE", "DEALLOCATE",
    "COMMENT", "WITH", "HELP", "SHUTDOWN")

  private val sqlLead = Set(
    "SELECT", "INSERT", "UPDATE", "DELETE", "MERGE", "TRUNCATE", "CREATE",
    "DROP", "ALTER", "SET", "SHOW", "CALL", "GRANT", "REVOKE", "USE",
    "BEGIN", "COMMIT", "ROLLBACK", "SAVEPOINT", "SCRIPT", "RUNSCRIPT",
    "BACKUP", "CHECKPOINT", "EXPLAIN", "PREPARE", "EXECUTE", "DEALLOCATE",
    "COMMENT", "WITH", "FROM", "HELP", "SHUTDOWN")

  /** One extracted statement: joined literal text, its source offset,
    * whether an unresolvable Java expression left a hole (→ skip), and
    * whether a single-identifier operand was spliced in by name (state
    * chains like `"CREATE TABLE " + tableName + "(…)"` stay alive — the
    * same identifier splices identically file-wide; a spliced statement
    * that fails is counted SKIP, not FAIL, since the splice is a guess). */
  private final case class Extracted(text: String, at: Int, holes: Boolean,
      spliced: Boolean)

  /** Java string-constant bindings: id -> its literal value when the id
    * is assigned EXACTLY ONE distinct string literal file-wide and never
    * anything else (no method calls, concats, loop counters, shadowing
    * re-binds — any of those makes the id unresolvable and the extractor
    * falls back to splice-by-name). Scanned over a literal-masked copy of
    * the source so SQL text can never fake an assignment. The uniqueness
    * rule is what keeps resolution SCOPE-SAFE without a Java parser: a
    * local that shadows a field with a different value disqualifies the
    * name outright instead of bleeding across scopes (SchemaTest's
    * schemaName taught this). */
  private def stringBindings(src: String)
      : Map[String, Vector[(Int, Option[String])]] = {
    val n = src.length
    val masked = new Array[Char](n)
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && i + 1 < n && src.charAt(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') { masked(i) = ' '; i += 1 }
      } else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '*') {
        while (i + 1 < n &&
            !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) {
          masked(i) = ' '; i += 1
        }
        if (i < n) { masked(i) = ' '; i += 1 }
        if (i < n) { masked(i) = ' '; i += 1 }
      } else if (c == '\'') {
        masked(i) = ' '; i += 1
        if (i < n && src.charAt(i) == '\\') { masked(i) = ' '; i += 1 }
        if (i < n) { masked(i) = ' '; i += 1 }
        if (i < n) { masked(i) = ' '; i += 1 } // closing quote
      } else if (c == '"') {
        masked(i) = '"'; i += 1
        while (i < n && src.charAt(i) != '"') {
          masked(i) = '\u0001'
          if (src.charAt(i) == '\\' && i + 1 < n) { i += 1; masked(i) = '\u0001' }
          i += 1
        }
        if (i < n) { masked(i) = '"'; i += 1 }
      } else { masked(i) = c; i += 1 }
    }
    val m = new String(masked)
    val assign = """([A-Za-z_][A-Za-z0-9_]*)\s*=([^=])""".r
    val bindings = scala.collection.mutable.HashMap
      .empty[String, Vector[(Int, Option[String])]]
    assign.findAllMatchIn(m).foreach { am =>
      val id = am.group(1)
      val at = am.start
      // not ==, !=, <=, >=, +=, -= … and not inside a masked literal
      val prev = if (at == 0) ' ' else m.charAt(at - 1)
      val opish = Set('=', '!', '<', '>', '+', '-', '*', '/', '&', '|', '^')
      if (!opish(prev) && am.group(2) != "=") {
        val eq = m.indexOf('=', at)
        var j = eq + 1
        var depth = 0
        while (j < n && !(m.charAt(j) == ';' && depth == 0)) {
          if (m.charAt(j) == '(') depth += 1
          else if (m.charAt(j) == ')') depth -= 1
          j += 1
        }
        val rhsMasked = m.substring(eq + 1, math.min(j, n)).trim
        val v =
          if (rhsMasked.matches("\"[\u0001]*\""))
            Some(src.substring(m.indexOf('"', eq) + 1,
              m.indexOf('"', m.indexOf('"', eq) + 1))
              .replace("\\n", "\n").replace("\\t", "\t"))
          else None
        bindings(id) = bindings.getOrElse(id, Vector.empty) :+ ((at, v))
      }
    }
    // uniqueness filter: one distinct literal, zero poison assigns
    bindings.view.mapValues { bs =>
      val lits = bs.flatMap(_._2).distinct
      if (lits.size == 1 && bs.forall(_._2.isDefined))
        Vector((0, Some(lits.head)))
      else Vector((0, None))
    }.toMap
  }

  /** Maximal `"lit" + x + "lit"`-style concat chains, in source order.
    * Literal segments join; a non-literal operand marks `holes` UNLESS it
    * is a plain identifier: one bound to a live string constant RESOLVES
    * to its value (fully concrete — counts ok/fail like any literal
    * statement); an unbound one splices by NAME (kept alive as a guess —
    * a spliced statement that fails counts SKIP, not FAIL). */
  private def extract(src: String): Seq[Extracted] = {
    val binds = stringBindings(src)
    val out = Vector.newBuilder[Extracted]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && i + 1 < n && src.charAt(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) i += 1
        i = math.min(n, i + 2)
      } else if (c == '\'') { // char literal, possibly escaped
        i += 1
        if (i < n && src.charAt(i) == '\\') i += 1
        i += 2
      } else if (c == '"') {
        // start a concat chain
        val chainStart = i
        val sb = new StringBuilder
        var holes = false
        var spliced = false
        var done = false
        while (!done) {
          i += 1 // past the opening quote
          while (i < n && src.charAt(i) != '"') {
            if (src.charAt(i) == '\\' && i + 1 < n) {
              sb.append(src.charAt(i + 1) match {
                case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
                case other => other
              })
              i += 2
            } else { sb.append(src.charAt(i)); i += 1 }
          }
          i += 1 // past the closing quote
          // look ahead: `+` continues the chain (with or without literals)
          var j = i
          def skipWs(): Unit = {
            var go = true
            while (go && j < n) {
              if (src.charAt(j).isWhitespace) j += 1
              else if (src.charAt(j) == '/' && j + 1 < n && src.charAt(j + 1) == '/') {
                while (j < n && src.charAt(j) != '\n') j += 1
              } else go = false
            }
          }
          skipWs()
          if (j < n && src.charAt(j) == '+') {
            j += 1; skipWs()
            if (j < n && src.charAt(j) == '"') { i = j } // next literal joins
            else {
              // a non-literal operand: consume a conservative token run to
              // the next `+ "` continuation or expression end
              var depth = 0
              var cont = -1
              var k = j
              var scan = true
              while (scan && k < n) {
                val ck = src.charAt(k)
                if (ck == '(') { depth += 1; k += 1 }
                else if (ck == ')') {
                  if (depth == 0) { scan = false } else { depth -= 1; k += 1 }
                } else if (ck == ';' && depth == 0) scan = false
                else if (ck == '+' && depth == 0) {
                  var m = k + 1
                  while (m < n && src.charAt(m).isWhitespace) m += 1
                  if (m < n && src.charAt(m) == '"') { cont = m; scan = false }
                  else k += 1
                } else k += 1
              }
              val operand = src.substring(j, k).trim
              if (operand.matches("[A-Za-z_][A-Za-z0-9_]*")) {
                binds.get(operand).flatMap(_.head._2) match {
                  case Some(v) => sb.append(v) // resolved: fully concrete
                  case None => sb.append(operand); spliced = true
                }
              } else { sb.append(' '); holes = true }
              if (cont >= 0) i = cont else { done = true; i = k }
            }
          } else done = true
        }
        val t = sb.toString.trim
        val lead = t.takeWhile(ch => ch.isLetter).toUpperCase
        // prose strings that merely START with a keyword ("insert duplicate
        // key: 20") are not statements — INSERT requires its INTO
        val isStatement = sqlLead.contains(lead) &&
          (lead != "INSERT" || t.toUpperCase.contains("INTO"))
        if (isStatement) out += Extracted(t, chainStart, holes, spliced)
      } else i += 1
    }
    out.result()
  }

  val defaultRoot = "/root/reference/lealone-test/src/test/java/org/lealone/test"

  /** Per-file census result. */
  final case class FileResult(file: String, ok: Int, skip: Int, fail: Int,
      failLines: Seq[String], skipLines: Seq[String] = Nil)

  /** Files whose declaration-order replay is a known ordering ARTIFACT,
    * not a grammar gap: each @Test method resets `mytable` to a different
    * shape (drop/re-create/alter), so replaying every literal in source
    * order aims later ALTERs at a shape some unrelated method left behind
    * (73 of the r7 census's 88 fails — VERDICT r7 directive 4). For these
    * the census REUSES [[RefSqlFaithful]]'s live-call-tree ordering — the
    * same statements, in the order JUnit actually runs them. The three
    * function/transaction files share the artifact in miniature: their
    * init()/create() setup methods are DECLARED after the test body that
    * needs the table, so declaration order queries a table that doesn't
    * exist yet. */
  private val liveOrderFiles = Set(
    "TableTest.java", "AlterTableAlterColumnTest.java",
    "TransactionTest.java", "NumericFunctionTest.java",
    "StringFunctionTest.java")

  def main(a: Array[String]): Unit = {
    val root = Paths.get(a.headOption.filterNot(_ == "-v").getOrElse(defaultRoot))
    val verbose = a.contains("-v")
    require(Files.isDirectory(root), s"no reference test tree at $root")
    val spark = graft.core.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val results = run(root, spark)
    results.foreach { r =>
      if (verbose || r.fail > 0)
        println(f"[census] ${r.file}%-40s ok=${r.ok}%-4d skip=${r.skip}%-4d fail=${r.fail}")
    }
    val (totOk, totSkip, totFail) =
      (results.map(_.ok).sum, results.map(_.skip).sum, results.map(_.fail).sum)
    println(s"[census] TOTAL ok=$totOk skip=$totSkip fail=$totFail " +
      f"(${100.0 * totOk / math.max(1, totOk + totFail)}%.1f%% of executable statements)")
    results.flatMap(_.failLines).foreach(l => println(s"[census-fail] $l"))
    if (verbose)
      results.flatMap(_.skipLines).foreach(l => println(s"[census-skip] $l"))
    spark.stop()
  }

  def run(root: Path, spark: org.apache.spark.sql.SparkSession): Seq[FileResult] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith("Test.java"))
      // query-surface packages only: the orm/, client async/, storage/,
      // net replication/sharding trees exercise machinery BASELINE.json
      // maps out of scope
      .filter(p => Seq("/sql/", "/db/", "/misc/").exists(p.toString.contains))
      .toSeq.sortBy(_.toString)

    val results = Vector.newBuilder[FileResult]
    files.foreach { p =>
      if (liveOrderFiles(p.getFileName.toString)) {
        RefSqlFaithful.runFile(p, spark).foreach { r =>
          results += FileResult(r.file, r.ok, r.skip, r.fail, r.failLines)
        }
      } else {
      val src = new String(Files.readAllBytes(p), "UTF-8")
      // expand the SqlTestBase.createTable(name) helper (SqlTestBase.java:
      // 154-158) — the standard fixture table most sql/ tests start from
      val helperStmts = "createTable\\(\"(\\w+)\"\\)".r
        .findAllMatchIn(src).flatMap { m =>
          Seq(
            Extracted(s"DROP TABLE IF EXISTS ${m.group(1)}", m.start, false, false),
            Extracted(s"CREATE TABLE ${m.group(1)} (pk varchar(100) NOT NULL " +
              "PRIMARY KEY, f1 varchar(100), f2 varchar(100), f3 int)",
              m.start + 1, false, false))
        }.toSeq
      val stmts = (extract(src) ++ helperStmts).sortBy(_.at)
      if (stmts.nonEmpty) {
        val en = new graft.sqlfront.Engine(spark)
        var ok, skip, fail = 0
        val failLines = Vector.newBuilder[String]
        val skipLines = Vector.newBuilder[String]
        val guessNames = scala.collection.mutable.Set.empty[String]
        // names touched by an UNGRADABLE statement (skipped, or executed
        // from a splice GUESS): a later statement that FAILS while
        // referencing one is ungradable too — its prerequisite state is
        // a guess or never materialized here. Examples: SELECT MEDIAN(x)
        // after a spliced reference-classpath CREATE AGGREGATE; my_view2
        // reads after a ?-parameterized CREATE VIEW; DROP USER owning a
        // schema a spliced RENAME failed to move. Only failures convert
        // to skips — a success is graded ok regardless of taint.
        def taint(ex: Extracted): Unit =
          ex.text.split("[^A-Za-z0-9_$$.]+")
            .filter(w => w.length > 2 && !sqlStop(w.toUpperCase))
            .foreach(guessNames += _.toLowerCase)
        def recordSkip(ex: Extracted, why: String): Unit = {
          skip += 1
          taint(ex)
          skipLines += f"${p.getFileName}%-30s $why: " +
            ex.text.replaceAll("\\s+", " ").take(100)
        }
        val msrc = maskCommentsOnly(src)
        stmts.foreach { ex =>
          // `?`-statements: try the literal JDBC value feed first — a
          // recoverable feed (PreparedStatementTest/MergeTest) grades the
          // statement through its concrete executions; an unrecoverable
          // one (loop counters, commented-out setters) stays a param skip
          val feeds =
            if (!ex.holes && hasParamMarker(ex.text)) {
              val until = stmts.collectFirst {
                case s2 if s2.at > ex.at => s2.at }.getOrElse(src.length)
              paramFeeds(msrc, ex.text, ex.at, until)
            } else Nil
          val why =
            if (ex.holes) Some("hole")
            else if (hasParamMarker(ex.text) && feeds.isEmpty) Some("param")
            else if (ex.text.contains("org.lealone")) Some("classref")
            else None
          if (why.isDefined) recordSkip(ex, why.get)
          else {
            // a statement inside a `try { … fail(); } catch` block is a
            // NEGATIVE test: the reference expects it to throw, so parity
            // means WE throw too. Only the statement ADJACENT to fail()
            // carries the expectation (faithful-interpreter semantics —
            // earlier statements in the block must SUCCEED for control to
            // reach the failing one; SchemaTest's CREATE USER setup line
            // inside a two-statement try block is the motivating case)
            val nextAt = stmts.collectFirst {
              case s if s.at > ex.at => s.at }.getOrElse(Int.MaxValue)
            val expectError = inTryFail(src, ex.at) && {
              val failAt = src.indexOf("fail(", ex.at)
              failAt >= 0 && failAt < nextAt
            }
            val texts = if (feeds.nonEmpty) feeds else Seq(ex.text)
            val threw = texts.exists { t0 =>
              try { en.sql(t0).collect(); false }
              catch { case e: Throwable => true }
            }
            val dependsOnGuess = threw && !expectError &&
              ex.text.split("[^A-Za-z0-9_$$.]+")
                .exists(w => w.length > 2 && guessNames(w.toLowerCase))
            if (threw == expectError) {
              ok += 1
              if (ex.spliced) taint(ex) // graded ok, but its state is a guess
            }
            else if (ex.spliced) recordSkip(ex, "splice") // guess — not conclusive
            else if (dependsOnGuess) recordSkip(ex, "guess-dep")
            else {
              fail += 1
              val tag = if (expectError) "EXPECTED-ERROR-but-succeeded" else "threw"
              failLines += f"${p.getFileName}%-36s $tag: ${ex.text.replaceAll("\\s+", " ").take(110)}"
            }
          }
        }
        results += FileResult(p.getFileName.toString, ok, skip, fail,
          failLines.result(), skipLines.result())
      }
      }
    }
    results.result()
  }

  /** True when the char offset sits inside a `try { … fail(); } catch`
    * region — the reference's negative-test idiom (assertException /
    * executeUpdate-then-fail). Heuristic brace-free scan: the nearest
    * preceding `try` with no intervening `catch`, and a `fail(` between
    * the offset and the next `catch`. */
  private def inTryFail(src: String, at: Int): Boolean = {
    val before = src.lastIndexOf("try", at)
    val direct = before >= 0 && {
      val c = src.indexOf("catch", before)
      (c < 0 || c >= at) && {
        val nextCatch = src.indexOf("catch", at)
        val failAt = src.indexOf("fail(", at)
        nextCatch >= 0 && failAt >= 0 && failAt < nextCatch
      }
    }
    // the `sql = "…"; try { executeUpdate(sql); fail(sql); }` idiom puts
    // the literal BEFORE the try — only an `sql = `-assigned literal with
    // a try…fail window right after it qualifies (a bare setup statement
    // preceding someone else's try block must not)
    val assigned = {
      val pre = src.substring(math.max(0, at - 20), at)
      pre.matches("(?s).*\\bsql\\s*=\\s*") && {
        val failAt = src.indexOf("fail(", at)
        failAt >= 0 && failAt - at < 300 && {
          val window = src.substring(at, failAt)
          // a re-assignment of sql inside the window means the fail()
          // belongs to the LATER statement, not this one
          window.contains("try") && !window.matches("(?s).*\\bsql\\s*=.*")
        }
      }
    }
    direct || assigned
  }

  /** JDBC `?` positional parameter OUTSIDE string literals. */
  private def hasParamMarker(sql: String): Boolean = {
    var i = 0; var inStr = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (c == '?' && !inStr) return true
      i += 1
    }
    false
  }

  // ---- JDBC literal value-feed resolution (skip class `param`, r11) ------

  /** Comment-blanked copy of the source with STRING LITERALS preserved —
    * the opposite masking of [[stringBindings]]: setter/execute calls in
    * commented-out code must never feed parameters (ViewTest's my_view2
    * feeds are all commented out — that statement stays a param skip). */
  private def maskCommentsOnly(src: String): String = {
    val n = src.length
    val out = new Array[Char](n)
    var i = 0
    while (i < n) {
      val c = src.charAt(i)
      if (c == '/' && i + 1 < n && src.charAt(i + 1) == '/') {
        while (i < n && src.charAt(i) != '\n') { out(i) = ' '; i += 1 }
      } else if (c == '/' && i + 1 < n && src.charAt(i + 1) == '*') {
        while (i + 1 < n &&
            !(src.charAt(i) == '*' && src.charAt(i + 1) == '/')) {
          out(i) = ' '; i += 1
        }
        if (i < n) { out(i) = ' '; i += 1 }
        if (i < n) { out(i) = ' '; i += 1 }
      } else if (c == '"') {
        out(i) = c; i += 1
        while (i < n && src.charAt(i) != '"') {
          out(i) = src.charAt(i)
          if (src.charAt(i) == '\\' && i + 1 < n) { i += 1; out(i) = src.charAt(i) }
          i += 1
        }
        if (i < n) { out(i) = '"'; i += 1 }
      } else if (c == '\'') {
        // Java char literal — without this branch a '"' literal would be
        // read as a string opener and swallow comments up to the next quote
        out(i) = c; i += 1
        while (i < n && src.charAt(i) != '\'') {
          out(i) = src.charAt(i)
          if (src.charAt(i) == '\\' && i + 1 < n) { i += 1; out(i) = src.charAt(i) }
          i += 1
        }
        if (i < n) { out(i) = '\''; i += 1 }
      } else { out(i) = c; i += 1 }
    }
    new String(out)
  }

  private def countPlaceholders(sql: String): Int = {
    var i = 0; var inStr = false; var n = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') inStr = !inStr
      else if (c == '?' && !inStr) n += 1
      i += 1
    }
    n
  }

  /** A Java setter argument as a SQL literal, when it IS a literal:
    * string/int/long/decimal/boolean. Anything else (loop counters,
    * arithmetic, method calls) disqualifies the binding — BatchTest's
    * `setInt(1, i)` loop feeds stay unresolvable, honestly. */
  private def literalSql(raw: String): Option[String] = {
    val t = raw.trim
    if (t.length >= 2 && t.head == '"' && t.last == '"' &&
        t.matches("\"([^\"\\\\]|\\\\.)*\"")) {
      val inner = t.substring(1, t.length - 1)
        .replace("\\n", "\n").replace("\\t", "\t")
        .replace("\\\"", "\"").replace("\\\\", "\\")
      Some("'" + inner.replace("'", "''") + "'")
    } else if (t.matches("[+-]?\\d+[Ll]?"))
      Some(t.stripSuffix("L").stripSuffix("l"))
    else if (t.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?[fFdD]?"))
      Some(t.replaceAll("[fFdD]$", "")) // 2.5f is Java, not SQL
    else if (t == "true" || t == "false") Some(t.toUpperCase)
    else None
  }

  /** Positional `?` substitution, quote-aware. */
  private def substituteParams(sql: String, vals: Seq[String]): String = {
    val sb = new StringBuilder
    var i = 0; var vi = 0; var inStr = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (c == '\'') { inStr = !inStr; sb.append(c) }
      else if (c == '?' && !inStr && vi < vals.length) {
        sb.append(vals(vi)); vi += 1
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Concrete executions of a `?`-statement, recovered from the adjacent
    * JDBC value feed: scan [from, until) of the comment-masked source for
    * `set<Type>(idx, <literal>)` calls; each executeUpdate/executeQuery/
    * addBatch with every placeholder bound to a literal yields ONE
    * concrete statement (bindings RETAIN across executions — JDBC keeps
    * unset parameters, PreparedStatementTest re-binds all three but the
    * contract is retention). A non-literal value poisons its index until
    * re-set. Empty result = the feed is not literal-recoverable and the
    * statement stays a `param` skip. */
  private def paramFeeds(msrc: String, sqlText: String, from: Int,
      until: Int): Seq[String] = {
    val nP = countPlaceholders(sqlText)
    if (nP == 0) return Nil
    val region = msrc.substring(math.min(from, msrc.length),
      math.max(math.min(until, msrc.length), math.min(from, msrc.length)))
    // Receiver discipline: when the SQL literal sits inside a
    // `<var> = ….prepareStatement(` assignment, only calls on that SAME
    // variable feed its parameters — an interleaved Statement or a second
    // PreparedStatement in the [stmt, next-stmt) window must not bind
    // foreign values onto this statement. An undeterminable receiver
    // (chained call, field re-use) keeps the permissive behavior.
    val head = msrc.substring(math.max(0, from - 200), math.min(from, msrc.length))
    val receiver =
      """([A-Za-z_$][A-Za-z0-9_$]*)\s*=[^;{}=]*\bprepareStatement\s*\(\s*$""".r
        .findFirstMatchIn(head).map(_.group(1))
    val call =
      """(?:([A-Za-z_$][A-Za-z0-9_$]*))?\.(set[A-Za-z]+|executeUpdate|executeQuery|addBatch)\(([^)]*)\)""".r
    val bound = scala.collection.mutable.Map.empty[Int, Option[String]]
    val out = Vector.newBuilder[String]
    call.findAllMatchIn(region).foreach { m =>
      val callRecv = Option(m.group(1))
      val name = m.group(2)
      val recvOk = receiver.isEmpty || callRecv.isEmpty ||
        receiver == callRecv
      if (recvOk) {
        if (name.startsWith("set")) {
          val argPat = """^\s*(\d+)\s*,(.*)$""".r
          m.group(3) match {
            case argPat(idx, raw) => bound(idx.toInt) = literalSql(raw)
            case _ => // single-arg setters (setFetchSize) — not a parameter
          }
        } else {
          val vals = (1 to nP).map(i => bound.getOrElse(i, None))
          if (vals.forall(_.isDefined))
            out += substituteParams(sqlText, vals.map(_.get))
        }
      }
    }
    out.result().distinct
  }
}
